"""Production-style job entry point.

Cluster invocation (the north rule's ``spark-submit --py-files`` contract)::

    ZIP=$(python -c 'import sys; sys.path.insert(0,"/root/repo");
    from ocr_automation_system_spark.session import package_zip; print(package_zip())')
    spark-submit --py-files "$ZIP" scripts/spark_submit_job.py \
        --input /data/documents --output /data/out \
        --n-buckets 1024 --as-of 2026-01-01

Local smoke run::

    python scripts/spark_submit_job.py --synthetic 2000 --output /tmp/job_out

Stages: resumable bucketed extraction (checkpoint manifest + lineage) ->
entity join -> validation rules -> report/duplicate-id/checksum sinks.
Rerunning the same command after a kill resumes from the last committed
bucket.

``--curate`` additionally builds the training-corpus artifact from the
committed extractions: usable docs -> exact dedup -> near-dup cluster
keep -> per-host quota -> deterministic train/val split -> parquet
partitioned by split, plus a per-stage survivor-count lineage file.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_automation_system_spark.operators.adapters import (  # noqa: E402
    build_entities, checksum_consistency_check, duplicate_id_check,
)
from ocr_automation_system_spark.operators.report import entity_report  # noqa: E402
from ocr_automation_system_spark.operators.rules import run_rules  # noqa: E402
from ocr_automation_system_spark.plans.resume import (  # noqa: E402
    lineage_summary, read_extractions, run_resumable_extraction,
)
from ocr_automation_system_spark.session import build_session  # noqa: E402
from ocr_automation_system_spark.sources.catalog import write_results  # noqa: E402

#: Url-hash buckets committed per extraction wave: a failed wave loses at
#: most this many buckets' work (every finished wave stays committed), and
#: each wave's observed manifest counters stay bounded.
RESUME_WAVE = 64


def main(argv=None, stop_session: bool = True) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="documents table path (parquet/Iceberg)")
    p.add_argument("--input-warc",
                   help="directory of WARC files to ingest instead of a "
                        "documents table (Common-Crawl wire format; "
                        "poison records are dropped with a count)")
    p.add_argument("--input-jsonl",
                   help="directory of gzip/plain JSONL files to ingest "
                        "({url, warc_ts, html_b64} per line, payload "
                        "base64; corrupt/keyless lines are dropped "
                        "with a count)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate an N-row synthetic corpus instead of --input")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--as-of", default="2026-01-01")
    p.add_argument("--master", default=None)
    p.add_argument("--curate", action="store_true",
                   help="also build the curated training corpus artifact")
    p.add_argument("--domain-quota", type=int, default=1000,
                   help="max docs kept per host in --curate mode")
    p.add_argument("--quota-etld1", action="store_true",
                   help="--curate only: apply the quota at registrable-"
                        "domain (eTLD+1) granularity instead of "
                        "hostname — subdomain minting can't evade it")
    p.add_argument("--chunk-tokens", type=int, default=0,
                   help="--curate only: also export fixed-size token "
                        "chunks of the train split (0 = off)")
    p.add_argument("--semdedup", action="store_true",
                   help="--curate only: semantic dedup stage (hashed "
                        "BoW features -> k-means -> within-cell cosine "
                        "drop) after near-dup dedup")
    p.add_argument("--wet-export", type=int, default=0, metavar="N_FILES",
                   help="--curate only: also export the train split as N "
                        "WET (conversion-record) files under "
                        "<output>/wet (0 = off)")
    p.add_argument("--fix-encoding", action="store_true",
                   help="repair UTF-8-read-as-cp1252 mojibake in the "
                        "extracted text before any content heuristic "
                        "or dedup hash sees it (curation.fix_encoding, "
                        "JVM table chain — zero Python, zero shuffle)")
    p.add_argument("--fix-encoding-depth", type=int, default=1,
                   help="with --fix-encoding: unwind up to N layers of "
                        "mojibake (X179 closed-table chain composed N "
                        "times; 2 catches damaged-then-republished "
                        "pages; over-estimating is safe/identity)")
    p.add_argument("--skeleton-dedup", action="store_true",
                   help="--curate only: key the exact-dedup stage on the "
                        "confusable-skeleton hash (X185) so homoglyph-"
                        "spoofed copies collide; one extra codegen "
                        "translate in the key, same plan")
    p.add_argument("--nfc", action="store_true",
                   help="--curate only: Unicode NFC normalization before "
                        "any hash or content heuristic (curation."
                        "nfc_stage) — decomposed crawl variants of the "
                        "same page must collide in exact dedup")
    p.add_argument("--scrub-pii", action="store_true",
                   help="--curate only: redact checksum-validated PII "
                        "(Luhn cards, mod-97 IBANs) from the curated "
                        "text as the LAST stage before the split — "
                        "dedup hashes keep seeing original bytes")
    p.add_argument("--jsonl-export", type=int, default=0, metavar="N",
                   help="--curate only: also export the train split as "
                        "N gzip JSONL files under <output>/jsonl "
                        "(url/text/host/n_tokens per line; 0 = off)")
    p.add_argument("--decontaminate", default="", metavar="PARQUET",
                   help="--curate only: eval-set parquet (text column); "
                        "5-gram collisions with it are EXCISED span-"
                        "level (GPT-3 appendix C) after near-dedup — "
                        "only contaminated docs are rewritten")
    p.add_argument("--policy", action="store_true",
                   help="--curate only: apply the composite filter "
                        "policy (repetition/quality/PII gates) before "
                        "dedup; per-reason drop counts land in the "
                        "lineage file")
    p.add_argument("--gopher", action="store_true",
                   help="--curate only: apply the full published "
                        "Gopher rule battery (row-local Table-A1 "
                        "gates, then the n-gram repetition census on "
                        "the survivors) before dedup; per-reason drop "
                        "counts land in the lineage file")
    p.add_argument("--token-budget", type=int, default=0,
                   help="--curate only: per-host token budget — after "
                        "the quota stage keep the best documents per "
                        "host until their running token total reaches "
                        "N (quality-first, hash-random within a tier; "
                        "0 = off)")
    p.add_argument("--probe-drop-pct", type=int, default=0,
                   help="--curate only: train the learned quality "
                        "probe on the deduped corpus and drop the "
                        "bottom P percent by probe score (the "
                        "classifier-filter stage; 0 = off)")
    p.add_argument("--probe-per-source", action="store_true",
                   help="with --probe-drop-pct: calibrate the cut "
                        "PER HOST (keep each host's top (100-P)%% by "
                        "score) instead of one corpus-wide percentile "
                        "— the skew-proof form for mixed corpora")
    p.add_argument("--near-dup", choices=("lsh", "winnow"),
                   default="lsh",
                   help="--curate only: candidate-pair detector for the "
                        "near-dup stage — 'lsh' (MinHash bands + exact "
                        "Jaccard verify; probabilistic recall) or "
                        "'winnow' (MOSS winnowing fingerprints; "
                        "GUARANTEED recall for any shared verbatim run "
                        "of >= k+w-1 tokens, at ~2/(w+1) the gram "
                        "stream). The CC/keep machinery downstream is "
                        "identical; lineage records the detector")
    p.add_argument("--keep-best", action="store_true",
                   help="near-dup stage keeps the highest-QUALITY "
                        "cluster member (curation.quality_score; min-id "
                        "ties) instead of the min-id representative")
    p.add_argument("--alpha", type=float, default=None, metavar="A",
                   help="temperature-rebalance the HOST mixture after "
                        "the quota stage: downsample toward "
                        "q_h ~ n_h^A (mT5/XLM-R alpha sampling; the "
                        "smallest host keeps everything). Deterministic "
                        "md5 gate - reruns keep the same rows")
    p.add_argument("--epochs", type=int, default=0, metavar="N",
                   help="--curate only: export <output>/epochs/epoch=K "
                        "parquet of the train split, each epoch a "
                        "DIFFERENT deterministic md5 order (X90), "
                        "files range-partitioned + sorted by the key")
    p.add_argument("--curriculum", action="store_true",
                   help="with --epochs: epoch 0 orders best-quality-"
                        "band first (X188 quality-warmup), later "
                        "epochs stay uniform")
    p.add_argument("--curriculum-blend", action="store_true",
                   help="with --epochs N --curriculum: interpolate "
                        "each epoch between the quality-warmup order "
                        "and the uniform md5 order — epoch k mixes "
                        "with weight lam=(N-1-k)/(N-1) (epoch 0 pure "
                        "curriculum, last epoch pure uniform); exact "
                        "integer keys, rerun-identical")
    p.add_argument("--sample-k", type=int, default=0, metavar="K",
                   help="export a token-count-weighted priority sample "
                        "(Efraimidis-Spirakis, without replacement) of "
                        "K train-split docs under <output>/sample — the "
                        "deterministic eval-slice draw (sample_rows "
                        "lineage count)")
    p.add_argument("--token-lineage", action="store_true",
                   help="--curate only: also record per-stage TOKEN "
                        "totals (usable / after_near_dedup / "
                        "after_domain_quota / train) in the lineage "
                        "file — mixture math reads in tokens")
    p.add_argument("--audit-report", action="store_true",
                   help="write <output>/REPORT.md: run config, the "
                        "extraction bucket summary, the curation "
                        "funnel (stage counts + deltas) and an output "
                        "artifact inventory — the human audit surface")
    p.add_argument("--neyman-sample", type=int, default=0, metavar="M",
                   help="export a variance-optimal eval sample of ~M "
                        "train docs under <output>/neyman_sample: "
                        "per-host sizes from the Neyman allocation "
                        "(n_h*sigma_h of token counts), rows picked by "
                        "the md5 total order (neyman_rows lineage)")
    p.add_argument("--zorder", action="store_true",
                   help="lay the curated corpus out in Z-order: sort "
                        "each split's files by the Morton interleave "
                        "of (host md5 bucket, text length) so a reader "
                        "filtering on host AND length prunes files on "
                        "both dimensions (functions/layout.py; rows "
                        "identical, only file layout changes)")
    p.add_argument("--honor-noindex", action="store_true",
                   help="with --curate: honor in-page robots meta — "
                        "pages declaring noindex are dropped before any "
                        "content stage (publisher opt-out compliance; "
                        "after_noindex lineage count)")
    p.add_argument("--canonical-collapse", action="store_true",
                   help="with --curate: collapse publisher-declared "
                        "rel=canonical groups to their min-url "
                        "representative BEFORE the similarity ladders "
                        "(free dedup of syndicated copies; "
                        "after_canonical_collapse lineage count)")
    p.add_argument("--drop-error-pages", action="store_true",
                   help="with --curate: drop soft-404 / parked pages "
                        "(served as HTTP 200, caught by content "
                        "phrasing — links.soft404_flags) before any "
                        "content stage (after_error_pages lineage "
                        "count)")
    p.add_argument("--drop-redirects", action="store_true",
                   help="with --curate: drop meta-refresh redirect "
                        "stubs (client-side 3xx equivalents — "
                        "links.meta_refresh_targets) before any "
                        "content stage (after_redirects lineage "
                        "count)")
    p.add_argument("--robots-rules", default="", metavar="PATH",
                   help="with --curate: parquet of parsed robots.txt "
                        "rules (host, prefix, allow) — pages whose url "
                        "loses the RFC 9309 match (longest prefix wins, "
                        "equal-length ties to Allow, unmatched urls "
                        "allowed) are dropped before any content stage "
                        "(after_robots lineage count)")
    p.add_argument("--robots-from-corpus", default="", metavar="AGENT",
                   help="with --curate: derive the robots rules table "
                        "by PARSING the input's own /robots.txt "
                        "captures and selecting AGENT's effective "
                        "groups (RFC 9309: the agent's own group where "
                        "defined, else the wildcard group) — the "
                        "self-contained form of --robots-rules")
    p.add_argument("--frontier-export", action="store_true",
                   help="write <output>/frontier parquet: sitemap-"
                        "listed never-crawled locs ranked by host "
                        "PageRank over the input's own link graph "
                        "(the scheduler's next-fetch list; "
                        "frontier_rows lineage count)")
    p.add_argument("--recrawl-plan", action="store_true",
                   help="write <output>/recrawl parquet: the unified "
                        "next-crawl fetch list — never-fetched sitemap "
                        "locs (reason=discovery), pages whose sitemap "
                        "lastmod postdates the newest capture "
                        "(reason=stale), and child sitemap files an "
                        "index lists but the crawl never fetched "
                        "(reason=sitemap-index) — ranked by host "
                        "PageRank (recrawl_rows lineage count)")
    p.add_argument("--probe-weights", default="",
                   help="with --probe-drop-pct: path of the persisted "
                        "probe weight artifact — warm-start the fit "
                        "from it when present (exact incremental "
                        "refit) and rewrite it after fitting")
    args = p.parse_args(argv)
    if args.curriculum_blend and not args.curriculum:
        p.error("--curriculum-blend requires --curriculum")

    spark = build_session(app_name="ocr_automation_system_spark_job", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from ocr_automation_system_spark.corpus import write_corpus

        corpus_path = os.path.join(args.output, "synthetic_documents.parquet")
        os.makedirs(args.output, exist_ok=True)
        if not os.path.exists(corpus_path):
            write_corpus(corpus_path, args.synthetic)
        documents = spark.read.parquet(corpus_path)
    elif args.input_warc:
        from pyspark.sql import functions as F

        from ocr_automation_system_spark.sources.warc import read_warc

        recs = read_warc(spark, args.input_warc)
        n_poison = recs.filter(F.col("status") != "ok").count()
        if n_poison:
            print(f"warc ingest: dropped {n_poison} poison records")
        documents = recs.filter(F.col("status") == "ok").select(
            "url", "warc_ts", "html")
    elif args.input_jsonl:
        # JSONL wire format: {"url", "warc_ts", "html_b64"} per line,
        # payload base64 (JSON cannot carry raw bytes). PERMISSIVE
        # parse with a corrupt-record column — a malformed line or a
        # keyless record drops with a count, never a task failure (the
        # WARC poison discipline).
        from pyspark.sql import functions as F

        schema = ("url string, warc_ts timestamp, html_b64 string, "
                  "_corrupt string")
        raw = (spark.read.schema(schema)
               .option("mode", "PERMISSIVE")
               .option("columnNameOfCorruptRecord", "_corrupt")
               .json(args.input_jsonl))
        bad = F.col("_corrupt").isNotNull() | F.col("url").isNull()
        n_bad = raw.filter(bad).count()
        if n_bad:
            print(f"jsonl ingest: dropped {n_bad} corrupt/keyless lines")
        documents = (raw.filter(~bad)
                     .select("url", "warc_ts",
                             F.unbase64(F.coalesce("html_b64", F.lit("")))
                             .alias("html")))
    elif args.input:
        documents = spark.read.parquet(args.input)
    else:
        p.error("one of --input / --input-warc / --synthetic is required")

    ran, skipped = [], None
    while True:
        status = run_resumable_extraction(
            spark, documents, args.output, n_buckets=args.n_buckets,
            max_buckets=RESUME_WAVE)
        if skipped is None:
            skipped = status["skipped"]
        if not status["ran"]:
            break
        ran += status["ran"]
    print(f"extraction: ran={len(ran)} skipped={len(skipped)} buckets")

    results = read_extractions(spark, args.output)
    validation = run_rules(build_entities(results), as_of=args.as_of)
    write_results(validation, os.path.join(args.output, "validation_results"))
    write_results(entity_report(validation, generated_at=args.as_of),
                  os.path.join(args.output, "entity_reports"))
    write_results(duplicate_id_check(results),
                  os.path.join(args.output, "duplicate_ids"))
    write_results(checksum_consistency_check(results),
                  os.path.join(args.output, "checksum_checks"))

    if args.curate:
        if args.robots_rules:
            robots_rules = spark.read.parquet(args.robots_rules)
        elif args.robots_from_corpus:
            from ocr_automation_system_spark.functions import (
                structured as STF,
            )

            robots_rules = STF.robots_effective_rules(
                documents, agent=args.robots_from_corpus)
        else:
            robots_rules = None
        url_drops = compliance_drops(
            documents, honor_noindex=args.honor_noindex,
            canonical_collapse=args.canonical_collapse,
            robots_rules=robots_rules,
            drop_error_pages=args.drop_error_pages,
            drop_redirects=args.drop_redirects)
        curate(spark, results, args.output, quota=args.domain_quota,
               quota_etld1=args.quota_etld1,
               token_lineage=args.token_lineage,
               url_drops=url_drops,
               fix_encoding=args.fix_encoding,
               fix_encoding_depth=args.fix_encoding_depth,
               nfc=args.nfc,
               skeleton_dedup=args.skeleton_dedup,
               scrub_pii=args.scrub_pii,
               decontaminate=args.decontaminate,
               chunk_tokens=args.chunk_tokens, policy=args.policy,
               gopher=args.gopher,
               semdedup=args.semdedup, wet_files=args.wet_export,
               jsonl_files=args.jsonl_export,
               token_budget=args.token_budget,
               probe_drop_pct=args.probe_drop_pct,
               probe_per_source=args.probe_per_source,
               probe_weights_path=args.probe_weights,
               alpha=args.alpha, keep_best=args.keep_best,
               near_dup=args.near_dup,
               zorder=args.zorder, sample_k=args.sample_k,
               epochs=args.epochs, curriculum=args.curriculum,
               curriculum_blend=args.curriculum_blend,
               neyman_sample=args.neyman_sample)

    if args.frontier_export:
        n_frontier = frontier_export(spark, documents, args.output)
        print(f"frontier: {n_frontier} candidate locs")

    if args.recrawl_plan:
        n_recrawl = recrawl_plan_export(spark, documents, args.output)
        print(f"recrawl plan: {n_recrawl} fetches")

    summary = lineage_summary(args.output, args.n_buckets)
    print(f"done: {summary['total_rows']} docs across "
          f"{len(summary['buckets'])} committed buckets")

    if args.audit_report:
        write_audit_report(args, summary)
    if stop_session:
        # spark-submit owns the session; in-process callers (tests) share
        # a getOrCreate session and pass stop_session=False.
        spark.stop()
    return 0


def write_audit_report(args, summary: dict) -> None:
    """<output>/REPORT.md — the run's human audit surface: config echo,
    extraction bucket summary, the curation funnel with per-stage
    deltas, and an artifact inventory (path, files, bytes). Pure
    driver-side rendering of already-computed lineage; no Spark work."""
    import json

    out = args.output
    lines = ["# Job audit report", "", "## Configuration", ""]
    for k, v in sorted(vars(args).items()):
        if v not in (None, "", 0, False):
            lines.append(f"- `--{k.replace('_', '-')}` = `{v}`")
    lines += ["", "## Extraction", "",
              f"- committed buckets: {len(summary['buckets'])}",
              f"- extracted rows: {summary['total_rows']}", ""]
    lineage_path = os.path.join(out, "curation_lineage.json")
    if os.path.exists(lineage_path):
        with open(lineage_path) as fh:
            counts = json.load(fh)
        lines += ["## Curation funnel", "",
                  "| stage | rows | delta |", "|---|---|---|"]
        prev = None
        for k, v in counts.items():
            # delta only for FUNNEL stages (survivor counts); detail
            # counters (encoding_repaired, gopher_dropped_*, ...) are
            # not points on the survivor curve
            funnel = isinstance(v, int) and k.startswith(
                ("usable", "after_"))
            show = funnel or k == "train"  # train's delta = -val rows
            delta = f"{v - prev:+d}" if show and prev is not None else ""
            lines.append(f"| {k} | {v} | {delta} |")
            if funnel:
                prev = v
        lines.append("")
    lines += ["## Artifacts", "", "| path | files | bytes |",
              "|---|---|---|"]
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        if os.path.isdir(p):
            n_files = n_bytes = 0
            for root, _dirs, files in os.walk(p):
                for f in files:
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
            lines.append(f"| {name}/ | {n_files} | {n_bytes} |")
        else:
            lines.append(f"| {name} | 1 | {os.path.getsize(p)} |")
    lines.append("")
    with open(os.path.join(out, "REPORT.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"audit report: {os.path.join(out, 'REPORT.md')}")


def _host_priorities(documents):
    """Host importance table (host, priority) = PageRank over the
    input's OWN link graph — a single-crawl job has no second snapshot,
    so the freshness factor is 1 (importance-only priority)."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import links as L

    edges = L.host_graph(L.extract_links(documents))
    pr = L.pagerank(edges.selectExpr("src_site AS src", "dst_site AS dst",
                                     "n_links AS weight"), iters=3)
    return pr.select(
        F.regexp_replace("node", r"^[a-z]+://", "").alias("host"),
        F.col("rank").alias("priority"))


def frontier_export(spark, documents, output: str) -> int:
    """Write the next-fetch frontier: sitemap-listed locs the crawl
    never fetched, ranked by host PageRank (`_host_priorities`). The
    parquet lands at <output>/frontier sorted by priority desc (head =
    next fetch); the row count joins the lineage as ``frontier_rows``."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import structured as STF

    fr = STF.frontier_candidates(documents.select("url", "html"),
                                 _host_priorities(documents))
    out = os.path.join(output, "frontier")
    fr.orderBy(F.col("priority").desc(), "loc").write.mode(
        "overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    _merge_lineage(output, {"frontier_rows": n})
    return n


def recrawl_plan_export(spark, documents, output: str) -> int:
    """Write the unified next-crawl fetch list at <output>/recrawl:
    (host, loc, reason, priority) where reason is

    * ``discovery`` — sitemap-listed loc the crawl never fetched,
    * ``stale`` — fetched page whose publisher sitemap ``lastmod``
      postdates the newest stored capture,
    * ``sitemap-index`` — child sitemap file a sitemap INDEX lists but
      the crawl never fetched (fetching it unlocks every page it
      lists),

    ranked by host PageRank. Rows sort priority desc then reason/loc
    (deterministic plan order); the count joins the lineage as
    ``recrawl_rows``."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import structured as STF

    pri = _host_priorities(documents)
    pages = documents.select("url", "html")
    disc = (STF.frontier_candidates(pages, pri)
            .select("host", "loc", F.lit("discovery").alias("reason"),
                    "priority"))
    stale = (STF.stale_captures(documents.select("url", "html", "warc_ts"))
             .select("host", F.col("url").alias("loc"),
                     F.lit("stale").alias("reason")))
    idx = (STF.sitemap_index_entries(pages)
           .where(~F.col("captured"))
           .select("host", F.col("child_loc").alias("loc"),
                   F.lit("sitemap-index").alias("reason")))
    rest = (stale.unionByName(idx)
            .join(F.broadcast(pri), "host", "left")
            .select("host", "loc", "reason",
                    F.coalesce("priority", F.lit(0.0)).alias("priority")))
    plan = disc.unionByName(rest)
    out = os.path.join(output, "recrawl")
    plan.orderBy(F.col("priority").desc(), "reason", "loc").write.mode(
        "overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    _merge_lineage(output, {"recrawl_rows": n})
    return n


def _merge_lineage(output: str, extra: dict) -> None:
    """Fold extra counts into curation_lineage.json (creating it for
    non-curate runs) so every exported artifact is lineage-accounted."""
    import json

    path = os.path.join(output, "curation_lineage.json")
    counts: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            counts = json.load(fh)
    counts.update(extra)
    with open(path, "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)


def compliance_drops(documents, honor_noindex: bool = False,
                     canonical_collapse: bool = False,
                     robots_rules=None,
                     drop_error_pages: bool = False,
                     drop_redirects: bool = False) -> dict:
    """URL drop-sets from crawl-compliance signals (functions/links.py):
    ``{"robots": df, "noindex": df, "canonical_collapse": df}`` — each
    a 1-column (doc_id) DataFrame of pages the curate chain must drop,
    applied by LEFT ANTI join (the sets are corpus-fraction-sized at
    scale, never broadcast). ``robots_rules`` (a parsed (host, prefix,
    allow) robots.txt table) drops pages whose url LOSES the RFC 9309
    match (``links.robots_verdicts``: longest prefix wins, equal-length
    ties to Allow, unmatched urls allowed) — network-level compliance,
    ordered before the in-page directives. ``canonical_collapse``
    drops every page of a declared canonical group EXCEPT the min-url
    representative — the publisher's own duplicate-collapse hint,
    honored before a single shingle is hashed."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import links as L

    drops: dict = {}
    if robots_rules is not None:
        drops["robots"] = (
            L.robots_verdicts(documents.select("url"), robots_rules)
            .filter(~F.col("allow"))
            .select(F.col("url").alias("doc_id")))
    if drop_error_pages:
        # soft 404s / parked pages: HTTP-200 junk only content catches
        drops["error_pages"] = (
            L.soft404_flags(documents.select("url", "html"))
            .filter(F.col("reason") != "ok")
            .select(F.col("url").alias("doc_id")))
    if drop_redirects:
        # meta-refresh stubs are client-side 3xx: drop the stub capture
        drops["redirects"] = (
            L.meta_refresh_targets(documents.select("url", "html"))
            .filter(F.col("is_redirect"))
            .select(F.col("url").alias("doc_id")))
    if not (honor_noindex or canonical_collapse):
        return drops
    d = L.page_directives(documents.select("url", "html"))
    if honor_noindex:
        drops["noindex"] = (d.filter(F.col("noindex"))
                            .select(F.col("url").alias("doc_id")))
    if canonical_collapse:
        canon = d.filter(F.col("canonical_url") != "")
        keep = (canon.groupBy("canonical_url")
                .agg(F.min("url").alias("_keep")))
        drops["canonical_collapse"] = (
            canon.join(keep, "canonical_url")
            .filter(F.col("url") != F.col("_keep"))
            .select(F.col("url").alias("doc_id")))
    return drops


def curate(spark, results, output: str, quota: int = 1000,
           quota_etld1: bool = False, token_lineage: bool = False,
           fix_encoding: bool = False, fix_encoding_depth: int = 1,
           nfc: bool = False, skeleton_dedup: bool = False,
           scrub_pii: bool = False,
           decontaminate: str = "",
           chunk_tokens: int = 0, policy: bool = False,
           gopher: bool = False,
           semdedup: bool = False, wet_files: int = 0,
           jsonl_files: int = 0,
           token_budget: int = 0, probe_drop_pct: int = 0,
           probe_per_source: bool = False,
           probe_weights_path: str = "",
           alpha: float | None = None, keep_best: bool = False,
           near_dup: str = "lsh",
           zorder: bool = False, sample_k: int = 0,
           epochs: int = 0, curriculum: bool = False,
           curriculum_blend: bool = False,
           neyman_sample: int = 0,
           url_drops: dict | None = None) -> None:
    """Committed extractions -> curated training corpus.

    Chain (each stage a documented survivor count): usable docs only ->
    exact dedup (md5 keep-min) -> near-dup cluster keep (LSH + Jaccard +
    connected components by default; ``near_dup='winnow'`` swaps in
    guaranteed-recall winnowing fingerprints as the pair detector) ->
    per-host quality quota -> deterministic
    md5-bucket train/val split -> parquet partitioned by split. All
    stages key on url/content hashes — a rerun over the same committed
    extractions writes byte-identical output. ``chunk_tokens`` > 0 adds
    the export step: the train split cut into fixed-size token windows
    (``curation.chunk_documents``) under ``<output>/chunks``.
    ``semdedup`` inserts the semantic stage (hashed-BoW k-means +
    within-cell cosine drop, ``clustering.semdedup_stage``) after
    near-dup dedup. ``token_budget`` > 0 caps each host's contribution
    at that many tokens, best-quality-first
    (``curation.token_budget_sample``) — the training-mix composition
    step, applied after the quota stage. ``alpha`` (not None) inserts
    temperature-based host-mixture rebalancing after the quota
    (``curation.alpha_sample``): downsample toward q_h ∝ n_h^alpha with
    rates computed from the surviving census."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import curation as C
    from ocr_automation_system_spark.functions import dedup as D

    docs = (
        results.filter(F.col("doc_status") == "ok")
        .select(F.col("url").alias("doc_id"),
                F.col("extracted_text").alias("text"),
                F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"))
    ).persist()
    counts = {"usable": docs.count()}

    def _tok_sum(frame) -> int:
        from ocr_automation_system_spark.functions.text import (
            bpe_token_count,
        )

        return int(frame.agg(
            F.sum(bpe_token_count(F.col("text")))).collect()[0][0] or 0)

    if token_lineage:
        # mixtures and budgets are measured in TOKENS, not documents —
        # per-stage token totals let the recipe math read straight off
        # the lineage file (one map-side agg per recorded stage)
        counts["tokens_usable"] = _tok_sum(docs)

    for name, drop in (url_drops or {}).items():
        # compliance first: publisher directives outrank every content
        # heuristic, and the anti-join is the cheapest stage in the
        # chain (no decode, no hash — the drop set was computed from
        # the raw html pass)
        docs = docs.join(drop, "doc_id", "left_anti").persist()
        counts[f"after_{name}"] = docs.count()

    if fix_encoding:
        # repair BEFORE any content heuristic or dedup hash: a mangled
        # and a clean capture of the same page must collide in the
        # exact-dedup stage, and quality/language gates must score the
        # repaired bytes. Narrow in-place projection — the 64-entry
        # chained replace rides the same scan, zero extra shuffle.
        from ocr_automation_system_spark.functions.text import (
            repair_mojibake_deep,
        )

        repaired = repair_mojibake_deep(F.col("text"),
                                        fix_encoding_depth)
        counts["encoding_repaired"] = (
            docs.filter(repaired != F.col("text")).count())
        docs = docs.withColumn("text", repaired).persist()

    if nfc:
        # NFC before dedup hashes, after mojibake repair (repair acts on
        # the raw byte shapes; normalization then canonicalizes what
        # remains) — row-local Arrow kernel, zero shuffle
        from ocr_automation_system_spark.functions.curation import (
            nfc_stage,
        )

        nn = nfc_stage(docs).persist()
        counts["nfc_changed"] = nn.filter(F.col("changed")).count()
        docs = (docs.drop("text")
                .join(nn.select("doc_id", "text"), "doc_id")
                .persist())

    if policy:
        # composite filter policy BEFORE dedup (cheapest stage first:
        # one narrow projection; no lang column on extraction output)
        verdicts = C.curation_verdicts(docs, lang_col=None).persist()
        for row in (verdicts.groupBy("verdict").count()
                    .collect()):
            if row["verdict"] != "keep":
                counts[f"policy_dropped_{row['verdict']}"] = row["count"]
        pre_policy = docs
        docs = docs.join(
            verdicts.filter(F.col("keep")).select("doc_id"), "doc_id",
            "left_semi").persist()
        counts["after_policy"] = docs.count()
        verdicts.unpersist()
        pre_policy.unpersist()

    if gopher:
        # the published Gopher battery, cheapest half first: the
        # row-local Table-A1 gates prune before the n-gram repetition
        # census pays its (uniform-key, map-side-combinable) shuffles
        flags = C.gopher_quality_flags(docs, id_col="doc_id").persist()
        for row in (flags.filter(~F.col("keep"))
                    .groupBy("reason").count().collect()):
            counts[f"gopher_dropped_{row['reason']}"] = row["count"]
        row_keep = flags.filter(F.col("keep")).select("doc_id")
        pre_gopher = docs
        docs = docs.join(row_keep, "doc_id", "left_semi").persist()
        rep_keep = (C.gopher_repetition_fracs(docs, id_col="doc_id")
                    .filter(F.col("keep")).select("doc_id"))
        kept = docs.join(rep_keep, "doc_id", "left_semi").persist()
        counts["after_gopher"] = kept.count()
        n_row_kept = docs.count()
        counts["gopher_dropped_ngram_repetition"] = (
            n_row_kept - counts["after_gopher"])
        flags.unpersist()
        pre_gopher.unpersist()
        docs.unpersist()
        docs = kept

    exact = D.dedup_exact(docs, id_col="doc_id", text_col="text",
                          skeleton=skeleton_dedup)
    # reliable per-round CC commits under the job's output dir: an
    # interrupted dedup ladder resumes instead of restarting (the toy
    # corpus takes the driver union-find path; production edge sets above
    # the collect threshold are exactly where resume matters)
    ck = os.path.join(output, "_checkpoints")
    # alternative candidate-pair detector: winnowing gives GUARANTEED
    # recall (any shared verbatim run of >= k+w-1 tokens shares a
    # fingerprint — a theorem, not a banding probability) at ~2/(w+1)
    # the gram stream; the CC checkpoint key is an edge-set
    # fingerprint, so switching detectors between reruns can never
    # reuse the other detector's committed edges
    cand_pairs = None
    if near_dup == "winnow":
        cand_pairs = C.winnow_dup_pairs(exact, id_col="doc_id",
                                        text_col="text")
        counts["near_dup_detector"] = "winnow"
    if keep_best:
        # quality-aware representative: the cleanest extraction among
        # near-identical captures survives, not the smallest url hash
        from ocr_automation_system_spark.functions.curation import (
            quality_score,
        )

        scored = exact.withColumn("_kq", quality_score(F.col("text")))
        near = D.cluster_keep_best(scored, id_col="doc_id",
                                   text_col="text", quality_col="_kq",
                                   checkpoint_dir=ck, pairs=cand_pairs)
    else:
        near = D.dedup_cluster_keep(exact, id_col="doc_id",
                                    text_col="text", checkpoint_dir=ck,
                                    pairs=cand_pairs)
    keep_ids = near.filter(F.col("keep")).select("doc_id")
    deduped = exact.join(keep_ids, "doc_id", "left_semi").persist()
    counts["after_exact_dedup"] = exact.count()
    counts["after_near_dedup"] = deduped.count()
    if token_lineage:
        counts["tokens_after_near_dedup"] = _tok_sum(deduped)

    if decontaminate:
        # span-level eval-set decontamination AFTER dedup (the excision
        # runs on survivors only): 5-gram collisions with the supplied
        # eval parquet are cut out token-exact; only docs that actually
        # collided are rewritten (reassembled from the cleaned token
        # stream), clean docs keep their original bytes
        bench = spark.read.parquet(decontaminate)
        dec = C.decontaminate_spans(deduped, id_col="doc_id",
                                    text_col="text", bench_df=bench)
        hit = dec.filter(F.col("n_spans") > 0).select(
            "doc_id", F.col("kept_text").alias("_newtext"),
            "n_tokens_removed")
        counts["decontaminated_docs"] = hit.count()
        counts["decontaminated_tokens"] = (
            hit.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0)
        # no broadcast hint: the rewrite set is contamination-sized —
        # usually tiny (AQE broadcasts it), but a heavily-overlapping
        # eval suite must not be forced into every executor's memory
        deduped = (deduped.join(hit.select("doc_id", "_newtext"),
                                "doc_id", "left")
                   .withColumn("text", F.coalesce("_newtext", "text"))
                   .drop("_newtext").persist())

    if semdedup:
        # semantic pass AFTER near-dedup: hashed-BoW k-means cells,
        # within-cell cosine drop — catches reordered/paraphrase-shaped
        # duplicates whose 3-shingle Jaccard is low
        from ocr_automation_system_spark.functions import clustering as KM

        sd_keep = (KM.semdedup_stage(deduped, id_col="doc_id",
                                     text_col="text")
                   .filter(F.col("keep")).select("doc_id"))
        sd = deduped.join(sd_keep, "doc_id", "left_semi").persist()
        counts["after_semdedup"] = sd.count()
        deduped.unpersist()
        deduped = sd

    if probe_drop_pct:
        # classifier-filter stage (FineWeb-Edu-shape): fit the learned
        # quality probe on the deduped corpus, drop the bottom P% by
        # score. Exact `percentile` is fine here (probe scores are
        # bounded small ints, so the agg state is a tiny count map);
        # swap in approx_percentile at extreme cardinalities. Ties AT
        # the threshold are kept (all-or-none per score value — the
        # only partitioning-independent choice), so a score-homogeneous
        # corpus drops fewer than P%.
        from ocr_automation_system_spark.functions.probe import (
            PROBE_DIM, probe_calibrated_keep, probe_dot, probe_features,
            probe_fit, read_probe_weights, write_probe_weights,
        )

        # warm-start from the persisted artifact when present: exact
        # integer GD means the refit continues the stored fit
        # bit-for-bit (probe.probe_fit's resume contract)
        init_w = None
        if probe_weights_path and os.path.isdir(probe_weights_path):
            init_w = read_probe_weights(spark, probe_weights_path)
        w = probe_fit(deduped, text_col="text", init_w=init_w) \
            or [0] * PROBE_DIM
        if probe_weights_path:
            write_probe_weights(spark, w, probe_weights_path)
        if probe_per_source:
            # per-host calibrated cut: keep each host's top (100-P)%
            # by score — bounded (host, score) histogram + broadcast
            # cutoffs, boundary-only tie-break (probe_calibrated_keep)
            kept_ids = probe_calibrated_keep(
                deduped, keep_pct=100 - probe_drop_pct,
                source_col="host", weights=w).select("doc_id")
        else:
            scored = deduped.select(
                "doc_id",
                probe_dot(probe_features(F.col("text")), w).alias("_ps"))
            thr = scored.agg(F.expr(
                f"percentile(_ps, {probe_drop_pct / 100.0!r})")
                .alias("t")).collect()[0]["t"]
            kept_ids = scored.filter(F.col("_ps") >= thr).select("doc_id")
        pf = deduped.join(kept_ids, "doc_id", "left_semi").persist()
        counts["after_probe_filter"] = pf.count()
        deduped.unpersist()
        deduped = pf

    if quota_etld1:
        # quota at REGISTRABLE-domain granularity: a.shop.example and
        # b.shop.example are one registrant — per-hostname quotas are
        # evadable by minting subdomains (the PSL longest-match tier,
        # X154/X177). The FULL bundled Mozilla list (9.5k rules,
        # wildcard + exception semantics) drives the rollup — a
        # registrant under *.kawasaki.jp or a private-section suffix
        # like github.io quotas at the right unit; hosts that ARE
        # public suffixes (reg_domain NULL) fall back to the host
        # itself so they still quota rather than merging into one NULL
        # bucket. Broadcast joins only; the quota op is unchanged.
        from ocr_automation_system_spark.functions.urlnorm import (
            registrable_domain_psl,
        )

        with_dom = (registrable_domain_psl(deduped, spark,
                                           host_col="host")
                    .withColumn("reg_domain",
                                F.coalesce("reg_domain", "host")))
        quota_kept = C.domain_quota(with_dom, domain_col="reg_domain",
                                    text_col="text", id_col="doc_id",
                                    quota=quota)
    else:
        quota_kept = C.domain_quota(deduped, domain_col="host",
                                    text_col="text", id_col="doc_id",
                                    quota=quota)
    curated = (
        deduped.join(quota_kept.select("doc_id", "quality"), "doc_id")
    )
    counts["after_domain_quota"] = curated.count()
    if token_lineage:
        counts["tokens_after_domain_quota"] = _tok_sum(curated)

    if alpha is not None:
        # temperature-based host-mixture rebalancing (mT5/XLM-R alpha
        # sampling) after the per-host quality quota: rates computed
        # from the surviving census, applied as a deterministic md5
        # gate — same survivors on any rerun/partitioning
        sel = C.alpha_sample(curated, alpha=alpha, id_col="doc_id",
                             source_col="host")
        curated = curated.join(sel.select("doc_id"), "doc_id",
                               "left_semi")
        counts["after_alpha_sample"] = curated.count()

    if token_budget:
        sel = C.token_budget_sample(curated, token_budget,
                                    strat_col="host", id_col="doc_id",
                                    text_col="text")
        curated = curated.join(sel.select("doc_id"), "doc_id",
                               "left_semi")
        counts["after_token_budget"] = curated.count()

    if scrub_pii:
        # checksum-gated redaction LAST: dedup/near-dup hashes above
        # saw the original bytes (a scrub token must never merge two
        # distinct pages), and only Luhn/mod-97-validated instruments
        # are replaced — random digit runs survive. Narrow in-place
        # projection, zero extra shuffle.
        from ocr_automation_system_spark.functions.pii import (
            checksum_scrub_expr,
        )

        scrubbed = checksum_scrub_expr(F.col("text"))
        counts["pii_redacted_docs"] = (
            curated.filter(scrubbed != F.col("text")).count())
        curated = curated.withColumn("text", scrubbed)

    curated = C.train_val_split(curated, id_col="doc_id")
    out = os.path.join(output, "curated")
    w = curated.repartition("split")
    if zorder:
        # write-time Z-order layout: sort within each split's writer
        # tasks by the Morton key so file min/max stats cluster BOTH
        # dimensions (rows unchanged — layout only; see layout.py)
        from ocr_automation_system_spark.functions.layout import (
            doc_layout_dims, zorder_key,
        )

        d1, d2 = doc_layout_dims(
            F.col("host"), F.length(F.coalesce(F.col("text"), F.lit(""))))
        w = (w.withColumn("_zk", zorder_key(d1, d2))
             .sortWithinPartitions("split", "_zk").drop("_zk"))
    (w.write.mode("overwrite").partitionBy("split").parquet(out))
    written = spark.read.parquet(out)
    counts["train"] = written.filter(F.col("split") == "train").count()
    if token_lineage:
        counts["tokens_train"] = _tok_sum(
            written.filter(F.col("split") == "train"))
    counts["val"] = written.filter(F.col("split") == "val").count()
    if chunk_tokens:
        ch_out = os.path.join(output, "chunks")
        (C.chunk_documents(written.filter(F.col("split") == "train"),
                           chunk_tokens=chunk_tokens,
                           overlap=max(1, chunk_tokens // 8))
         .write.mode("overwrite").parquet(ch_out))
        counts["train_chunks"] = spark.read.parquet(ch_out).count()
    if epochs:
        # per-epoch training-order export: every epoch a DIFFERENT
        # deterministic md5 order (X90); --curriculum swaps epoch 0 for
        # the X188 quality-warmup key (band-monotone, best first);
        # --curriculum-blend INTERPOLATES: interior epoch k sorts by
        # the exact integer encoding of  lam*(3-band)/3 + (1-lam)*u
        # with lam = (N-1-k)/(N-1) and u = the epoch's md5 draw in
        # [0,1) — epoch 0 stays the pure warmup key (lam=1: the X188
        # band-dominant key IS that limit, with the md5 tie-break
        # already inside it), the last epoch the pure uniform md5 key
        # (lam=0), and each step between relaxes the quality ordering
        # by one 1/(N-1) notch (order displacement from the warmup
        # order grows monotonically in k — pinned by test). Interior
        # keys are a.s. tie-free (50 md5 bits inside the u term) and
        # scaled by 3*(N-1)*2^50 stay exact in int64 for any sane N
        # (< 2^62 for N <= 2048).
        from ocr_automation_system_spark.functions.text import (
            quality_score,
        )

        ep_out = os.path.join(output, "epochs")
        train = written.filter(F.col("split") == "train")
        band = F.least(F.lit(3), F.floor(
            quality_score(F.col("text")) * 4).cast("long"))
        shift = F.lit(1 << 55).cast("long")
        ushift = F.lit(1 << 50).cast("long")
        parts = []
        for ep in range(epochs):
            h = F.conv(F.substring(F.md5(F.concat(
                F.lit(str(ep)), F.lit(":"),
                F.col("doc_id").cast("string"))), 1, 15), 16, 10)                 .cast("long")
            blend_interior = (curriculum and curriculum_blend
                              and 0 < ep < epochs - 1)
            if blend_interior:
                num, den = epochs - 1 - ep, epochs - 1
                key = (F.lit(num) * (F.lit(3) - band) * ushift
                       + F.lit(3 * (den - num)) * F.pmod(h, ushift))
            elif curriculum and ep == 0:
                key = (F.lit(3) - band) * shift + F.pmod(h, shift)
            else:
                key = h
            parts.append(train.select(
                F.lit(ep).alias("epoch"), "doc_id", "text",
                key.alias("sort_key")))
        allp = parts[0]
        for pp in parts[1:]:
            allp = allp.unionByName(pp)
        (allp.repartitionByRange(max(epochs * 2, 4), "epoch", "sort_key")
         .sortWithinPartitions("epoch", "sort_key")
         .write.mode("overwrite").partitionBy("epoch").parquet(ep_out))
        counts["epoch_rows"] = spark.read.parquet(ep_out).count()

    if sample_k:
        # weighted eval-slice draw: Efraimidis-Spirakis priority sample
        # of the train split, token-count-weighted, no RNG — the same
        # rows on any rerun/partitioning (curation.priority_sample)
        samp_out = os.path.join(output, "sample")
        (C.priority_sample(written.filter(F.col("split") == "train"),
                           k=sample_k, id_col="doc_id",
                           source_col="host")
         .write.mode("overwrite").parquet(samp_out))
        counts["sample_rows"] = spark.read.parquet(samp_out).count()
    if neyman_sample:
        # variance-optimal eval draw (X163): per-host sample sizes from
        # the Neyman allocation over the train split, then the md5
        # total order picks each host's rows — deterministic, no RNG.
        # The per-host top-k is a WindowGroupLimit-pushed rank (the
        # anchor-profile shape): bounded buffers, not a per-host sort
        # spill.
        from pyspark.sql.window import Window

        from ocr_automation_system_spark.functions.curation import (
            neyman_allocation,
        )

        train = written.filter(F.col("split") == "train")
        alloc = neyman_allocation(train, total_samples=neyman_sample,
                                  strat_col="host", id_col="doc_id")
        w = Window.partitionBy("host").orderBy(F.md5("doc_id"))
        ney_out = os.path.join(output, "neyman_sample")
        (train.join(F.broadcast(alloc.select(
            F.col("stratum").alias("host"), "alloc")), "host")
         .withColumn("_rk", F.row_number().over(w))
         .filter(F.col("_rk") <= F.col("alloc"))
         .drop("_rk", "alloc")
         .write.mode("overwrite").parquet(ney_out))
        counts["neyman_rows"] = spark.read.parquet(ney_out).count()
    if wet_files:
        # WET conversion records of the train split — the corpus format
        # a downstream trainer ingests. Deterministic conversion date
        # (the job's as_of discipline), url-bucketed files.
        from ocr_automation_system_spark.sources.warc import write_wet

        wet = (written.filter(F.col("split") == "train")
               .select(F.col("doc_id").alias("url"),
                       F.lit("2026-01-01 00:00:00").cast("timestamp")
                       .alias("warc_ts"), "text"))
        manifest = write_wet(wet, os.path.join(output, "wet"),
                             n_files=wet_files)
        counts["wet_records"] = sum(r["n_records"] for r in manifest)
        # CDX index of the export (the cluster.idx pattern): one sorted
        # parquet of (urlkey, url, ts, digest, file, offset, length) so
        # a consumer random-accesses any record with a ranged read —
        # computed by PARSING the published files, so the index can
        # never disagree with the bytes on disk
        from ocr_automation_system_spark.sources.warc import (
            cdx_index, read_warc,
        )

        cdx = cdx_index(read_warc(spark, os.path.join(output, "wet"),
                                  glob="*.warc"))
        (cdx.sort("urlkey", "warc_ts")
         .write.mode("overwrite").parquet(os.path.join(output, "cdx")))
        counts["cdx_rows"] = spark.read.parquet(
            os.path.join(output, "cdx")).count()
    if jsonl_files:
        # gzip JSONL of the train split — the default trainer wire
        # format (one {"url", "text", "host", "n_tokens"} object per
        # line). Native Spark json writer: distributed, splittable at
        # the file level, no driver round-trip; deterministic file
        # count via repartition on the url hash.
        from ocr_automation_system_spark.functions.text import (
            bpe_token_count,
        )

        jl_out = os.path.join(output, "jsonl")
        (written.filter(F.col("split") == "train")
         .select(F.col("doc_id").alias("url"), "text",
                 F.col("host"),
                 bpe_token_count(F.col("text")).alias("n_tokens"))
         .repartition(jsonl_files, F.col("url"))
         .write.mode("overwrite").option("compression", "gzip")
         .json(jl_out))
        counts["jsonl_rows"] = spark.read.json(jl_out).count()
    docs.unpersist()
    deduped.unpersist()

    import json

    with open(os.path.join(output, "curation_lineage.json"), "w") as fh:
        json.dump(counts, fh, indent=1)
    print("curate: " + " -> ".join(f"{k}={v}" for k, v in counts.items()))


if __name__ == "__main__":
    raise SystemExit(main())
