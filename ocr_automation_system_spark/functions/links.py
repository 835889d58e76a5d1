"""Hyperlink extraction, host link graph, and iterative PageRank.

A web-scale crawl pipeline needs the link structure for crawl
prioritization and host-quality scoring (Common-Crawl publishes exactly
this: a host-level webgraph + harmonic/PageRank centrality per crawl).
This module builds that tier Spark-first:

* ``extract_links`` — anchors out of the raw ``html`` BINARY column as a
  narrow JVM projection (sniff-gate -> decode -> ``regexp_extract_all``
  -> explode): no Python, no shuffle; fuses with the scan.
* ``host_graph`` — (src_site, dst_site, n_links) via one groupBy.
* ``pagerank`` — damped PageRank over an arbitrary weighted edge
  DataFrame. Each iteration is ONE broadcast join (the rank vector — one
  row per node — against the static edge-fraction table) plus ONE
  groupBy shuffle on dst. The in-rank sum folds a sorted contribution
  array left-associatively, so ranks are BIT-EXACT doubles regardless of
  partitioning — reruns, resumes and the DuckDB oracle twin
  (``pipeline_sql.SQL_HOST_PAGERANK``) agree to the last ulp.

Scale notes (10^12 pages, ~10^8 hosts):

* decode safety: Spark's ``decode`` raises on malformed UTF-8, so every
  decode here sits behind a lazily-evaluated ``CASE`` on the binary
  ``<html`` prefix sniff (poison rows like ``b"\\x00\\xff\\xfe..."``
  never reach the codec). Payloads that sniff as HTML but contain
  malformed bytes belong to the Python extraction leg (which decodes
  with ``errors="replace"``); for a lenient JVM path set
  ``spark.sql.legacy.codingErrorAction=true`` session-wide.
* the edge-fraction table is computed once and reused every iteration —
  at scale, persist it bucketed by ``src`` so the per-iteration join
  never reshuffles the edges;
* the rank vector is ~16 bytes/host — broadcastable to ~10^8 hosts;
  pass ``broadcast_ranks=False`` beyond that to fall back to a sort-merge
  join on the bucketed edges;
* for deep iteration counts pass ``checkpoint_every`` to truncate plan
  lineage with ``localCheckpoint`` (3-5 iterations — the usual
  host-centrality setting — need none).

Reference anchor: the reference has no link tier (single-document OCR,
`/root/reference/project/core/extractor.py`); this generalizes its
"structure out of noisy payloads" extraction pattern to the crawl graph.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .urlnorm import URL_PREFIX_RE

#: anchor tag with a double-quoted href; group 1 = href, group 2 = text.
#: Shared verbatim with the DuckDB twin (both engines are RE2-compatible
#: for this pattern).
HREF_ANCHOR_RE = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'
#: scheme-absolute URL test for href resolution.
ABS_URL_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"


#: HTML sniff over the head of the payload: optional UTF-8 BOM, optional
#: whitespace, then a doctype or an <html tag — case-insensitive, the
#: shapes real crawl captures ('<!DOCTYPE html>', '<HTML>', leading
#: CRLF/BOM) actually arrive in via --input-warc. The DuckDB twin is
#: pipeline_sql._SQL_HTML_SNIFF (same alternation over the \xHH-escaped
#: blob rendering).
HTML_SNIFF_RE = ("^(?i)(ï»¿)?[ \t\n\r]*"
                 "(<!doctype[ \t\n\r]+html|<html)")


def page_html(html_col: Column) -> Column:
    """Decoded page text, or '' for payloads that don't sniff as HTML.

    The sniff runs on the first 256 bytes decoded as ISO-8859-1 (a
    total byte->char map — it never raises, unlike UTF-8), and the real
    decode sits in the lazy CASE branch — malformed non-HTML bytes never
    reach the UTF-8 codec (which raises in Spark 4).
    """
    head = F.decode(F.substring(html_col, 1, 256), "ISO-8859-1")
    sniff = head.rlike(HTML_SNIFF_RE)
    return F.when(sniff, F.decode(html_col, "UTF-8")).otherwise(F.lit(""))


def extract_links(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(src_url, dst_url, anchor_text) — one row per anchor tag.

    Relative hrefs resolve against the source page's
    ``scheme://authority`` prefix (root-relative ``/x`` and bare ``x``
    both; scheme-absolute pass through). Pages with no anchors (PDF
    payloads, junk, poison) contribute no rows.
    """
    page = page_html(F.col(html_col))
    pre = F.regexp_extract(F.col(url_col), URL_PREFIX_RE, 1)
    out = (
        df.select(F.col(url_col).alias("src_url"), pre.alias("_pre"),
                  F.explode(F.regexp_extract_all(
                      page, F.lit(HREF_ANCHOR_RE), 0)).alias("_a"))
        .select(
            "src_url",
            F.regexp_extract("_a", HREF_ANCHOR_RE, 1).alias("_href"),
            F.regexp_extract("_a", HREF_ANCHOR_RE, 2).alias("anchor_text"),
            "_pre")
    )
    dst = (
        F.when(F.col("_href").rlike(ABS_URL_RE), F.col("_href"))
        .when(F.col("_href").startswith("/"),
              F.concat(F.col("_pre"), F.col("_href")))
        .otherwise(F.concat(F.col("_pre"), F.lit("/"), F.col("_href")))
    )
    return out.select("src_url", dst.alias("dst_url"), "anchor_text")


def host_graph(edges: DataFrame, src_col: str = "src_url",
               dst_col: str = "dst_url") -> DataFrame:
    """Aggregate page-level edges to the site level:
    (src_site, dst_site, n_links), site = ``scheme://authority``.

    One groupBy shuffle; the host-level graph is orders of magnitude
    smaller than the page-level edge list (it's the artifact you keep).
    """
    return (
        edges.select(
            F.regexp_extract(F.col(src_col), URL_PREFIX_RE, 1)
            .alias("src_site"),
            F.regexp_extract(F.col(dst_col), URL_PREFIX_RE, 1)
            .alias("dst_site"))
        .groupBy("src_site", "dst_site")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def anchor_text_profile(edges: DataFrame, k: int = 3,
                        dst_col: str = "dst_url",
                        text_col: str = "anchor_text") -> DataFrame:
    """Top-k anchor texts per destination SITE — the classic inbound
    anchor-text signal (how the web describes a page) used for ranking
    and query-document training pairs.

    (dst_site, anchor_text, n_links, rank), rank 1..k by count desc then
    text asc (total order — deterministic under any partitioning).

    Scale shape: one groupBy on (dst_site, anchor_text) with map-side
    partial aggregation (hot nav texts collapse before the shuffle), then
    a rank<=k window that Spark executes with WindowGroupLimit — the
    top-k filter runs partial BEFORE the window sort's exchange, so only
    ~k rows per (site) leave each map partition.
    """
    from pyspark.sql.window import Window

    counts = (
        edges.select(
            F.regexp_extract(F.col(dst_col), URL_PREFIX_RE, 1)
            .alias("dst_site"),
            F.col(text_col).alias("anchor_text"))
        .filter(F.col("anchor_text") != "")
        .groupBy("dst_site", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    w = Window.partitionBy("dst_site").orderBy(
        F.col("n_links").desc(), F.col("anchor_text"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _det_sum(struct_arr: Column, field: str) -> Column:
    """Left-associative fold of ``field`` over the SORTED struct array —
    bit-exact double summation independent of partitioning."""
    return F.aggregate(F.array_sort(struct_arr), F.lit(0.0),
                       lambda acc, x: acc + x[field])


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             weight_col: str = "weight",
             broadcast_ranks: bool = True,
             checkpoint_every: int = 0,
             seeds: list | None = None) -> DataFrame:
    """Damped PageRank over a weighted edge list -> (node, rank).

    Recurrence (no dangling-mass redistribution — a node with no
    out-edges simply leaks its damped mass, the convention Common Crawl's
    host-rank publishes):

        rank_0(n)   = 1/N
        rank_k(n)   = (1-d)/N + d * sum_{(s,n) in E} rank_{k-1}(s) * w(s,n)/out_w(s)

    ``seeds`` switches to SEED-PERSONALIZED teleportation (TrustRank,
    Gyongyi et al. 2004): the ``1/N`` teleport vector becomes ``1/|S|``
    on the trusted seed nodes and 0 elsewhere, so trust decays with
    link distance from the seeds — the standard spam-demotion /
    quality-propagation score over a crawl's host graph:

        rank_0(n)   = tele(n)
        rank_k(n)   = (1-d)*tele(n) + d * sum(...)        (same sum)

    Determinism: the inbound sum folds contributions sorted by source
    node, left-associatively, and every scalar is built from DOUBLE
    expression arithmetic (``lit(1.0) - lit(d)``, never a pre-folded
    Python constant) — so the DuckDB twin reproduces ranks bit-for-bit.

    N is attached with a broadcast cross-join of the 1-row count
    aggregate (no driver-side action; the whole thing stays one lazy
    plan); a seed set enters as one broadcast ``isin`` literal.

    The per-iteration-reused node and edge-fraction tables are persisted
    (otherwise every iteration re-derives them from the source scan —
    visible as duplicated subtrees in `.explain`). At cluster scale
    prefer writing ``frac`` bucketed by ``src`` once.
    """
    if seeds is not None and not seeds:
        raise ValueError("seeds must be a non-empty list (or None)")
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"),
                     F.col(weight_col).cast("double").alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("_ow"))
    frac = (e.join(out_w, "src")
            .select("src", "dst", (F.col("w") / F.col("_ow")).alias("_f")))
    nodes = nodes.persist()
    frac = frac.persist()

    d = F.lit(float(damping))
    if seeds is None:
        tele = F.lit(1.0) / F.col("_n")
        # division, not (1-d)*(1/N): keeps the classic path bitwise
        # identical to its long-pinned twin (`(1.0 - d) / n`)
        base = (F.lit(1.0) - d) / F.col("_n")
    else:
        tele = F.when(F.col("node").isin([str(s) for s in seeds]),
                      F.lit(1.0) / F.lit(float(len(seeds)))) \
                .otherwise(F.lit(0.0))
        base = (F.lit(1.0) - d) * tele

    ranks = (nodes.crossJoin(F.broadcast(n_nodes))
             .select("node", tele.alias("rank")))
    for i in range(iters):
        rv = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            frac.join(rv, frac["src"] == rv["node"])
            .select("dst", "src", (F.col("rank") * F.col("_f")).alias("_c"))
            .groupBy("dst")
            .agg(_det_sum(F.collect_list(F.struct("src", "_c")), "_c")
                 .alias("_in"))
        )
        cj = F.broadcast(contribs) if broadcast_ranks else contribs
        ranks = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(cj, nodes["node"] == cj["dst"], "left")
            .select("node",
                    (base + d * F.coalesce(F.col("_in"), F.lit(0.0)))
                    .alias("rank"))
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


_DEC = "decimal(38,0)"


def hits(edges: DataFrame, iters: int = 2,
         src_col: str = "src", dst_col: str = "dst",
         broadcast_scores: bool = True) -> DataFrame:
    """Kleinberg HITS (hubs & authorities) over an edge list ->
    (node, authority, hub) with both scores L1-normalized.

    EXACT-INTEGER power iteration: with hub_0 = 1 everywhere and no
    per-iteration normalization, every intermediate score is a count of
    alternating link paths — held as DECIMAL(38,0), whose sums are
    order-independent and exact. That removes the sorted-fold machinery
    ``pagerank`` needs to keep double accumulation deterministic: any
    partitioning, any engine, bit-identical scores. Normalization
    happens ONCE at the end — two exact 1-row totals, then a single
    correctly-rounded decimal->double cast + one IEEE division per
    side, so the doubles are bit-identical cross-engine too.

    Update order is the classic in-place sweep (Kleinberg 1999):
    auth_k from hub_{k-1}, hub_k from the NEW auth_k.

    Magnitude bound: path counts grow as degree^(2k); DECIMAL(38,0)
    holds ~10^38, so with host out-degrees <= 10^6 the default
    ``iters=2`` is safe past 10^12 docs (10^6^4 * 10^8 hosts = 10^32);
    Spark's non-ANSI decimal sum returns NULL (not garbage) on
    overflow, so a too-deep run surfaces as nulls, never wrong ranks.

    Scale shape mirrors ``pagerank``: the score vector (one row per
    HOST, not per page) broadcasts onto the edge list; each half-step
    is one map-side-combinable groupBy. ``broadcast_scores=False``
    switches to shuffle joins when the node table outgrows broadcast.
    """
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    e = e.persist()
    nodes = nodes.persist()

    def _bc(df):
        return F.broadcast(df) if broadcast_scores else df

    zero = F.lit(0).cast(_DEC)
    hub = nodes.select("node", F.lit(1).cast(_DEC).alias("hub"))
    auth = nodes.select("node", F.lit(1).cast(_DEC).alias("auth"))
    for _ in range(iters):
        hv = _bc(hub)
        a_in = (e.join(hv, e["src"] == hv["node"])
                .groupBy("dst")
                .agg(F.sum("hub").cast(_DEC).alias("_a")))
        auth = (nodes.join(_bc(a_in), nodes["node"] == a_in["dst"], "left")
                .select("node",
                        F.coalesce(F.col("_a"), zero).alias("auth")))
        av = _bc(auth)
        h_in = (e.join(av, e["dst"] == av["node"])
                .groupBy("src")
                .agg(F.sum("auth").cast(_DEC).alias("_h")))
        hub = (nodes.join(_bc(h_in), nodes["node"] == h_in["src"], "left")
               .select("node",
                       F.coalesce(F.col("_h"), zero).alias("hub")))
    ta = auth.agg(F.sum("auth").cast(_DEC).alias("_ta"))
    th = hub.agg(F.sum("hub").cast(_DEC).alias("_th"))
    return (auth.join(hub, "node")
            .crossJoin(F.broadcast(ta))
            .crossJoin(F.broadcast(th))
            .select("node",
                    (F.col("auth").cast("double")
                     / F.col("_ta").cast("double")).alias("authority"),
                    (F.col("hub").cast("double")
                     / F.col("_th").cast("double")).alias("hub")))


#: page-metadata patterns — RE2-compatible, shared verbatim with the twin.
TITLE_RE = r"<title>([^<]*)</title>"
SCRIPT_RE = r"<script"
ANCHOR_COUNT_RE = r"<a href="
ARTICLE_RE = '<article class="main-content">'


def page_metadata(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Per-page structural metadata out of the raw BINARY html:
    (url, title, title_len, n_links, n_scripts, has_main_content).

    The head-section profile an indexer keeps next to the extraction
    output: one sniff-gated decode + four JVM regexp passes — a narrow
    whole-stage-codegen projection fused with the scan, zero shuffle,
    zero Python. Non-HTML payloads (PDF, junk, poison) yield the empty
    profile row rather than an error (the poison contract)."""
    page = page_html(F.col(html_col))
    return df.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(page, TITLE_RE, 1).alias("title"),
        F.length(F.regexp_extract(page, TITLE_RE, 1)).cast("long")
        .alias("title_len"),
        F.regexp_count(page, F.lit(ANCHOR_COUNT_RE)).cast("long")
        .alias("n_links"),
        F.regexp_count(page, F.lit(SCRIPT_RE)).cast("long")
        .alias("n_scripts"),
        (F.regexp_count(page, F.lit(ARTICLE_RE)) > 0)
        .alias("has_main_content"))


#: in-page directive shapes (case-insensitive; attribute order as
#: emitted by real CMSes and the synthetic corpus).
ROBOTS_META_RE = r'(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"'
CANONICAL_RE = r'(?i)<link[^>]*rel="canonical"[^>]*href="([^"]*)"'
JSONLD_BLOCK_RE = r'(?is)<script type="application/ld\+json">.*?</script>'
JSONLD_TYPE_RE = (r'(?is)<script type="application/ld\+json">'
                  r'[^<]*"@type"\s*:\s*"([^"]*)"')
CHARSET_META_RE = r'(?i)<meta charset="([^"]*)"'


def page_directives(df: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """Per-page in-page directives out of the raw BINARY html:
    (url, robots, noindex, nofollow, canonical_url, n_jsonld,
    jsonld_type, meta_charset).

    The compliance + canonicalization signals a crawl-derived training
    corpus must honor BEFORE any content heuristic runs: ``noindex``
    pages are publisher opt-outs (drop them), ``rel=canonical`` is the
    publisher's own duplicate-collapse hint (group by it instead of
    running a similarity ladder), JSON-LD ``@type`` is the free
    document-class label (Article vs Product routing). Same execution
    shape as ``page_metadata``: one sniff-gated decode + a handful of
    JVM regexp passes fused into the scan projection — zero shuffle,
    zero Python; non-HTML payloads yield the empty profile."""
    page = page_html(F.col(html_col))
    robots = F.lower(F.regexp_extract(page, ROBOTS_META_RE, 1))
    return df.select(
        F.col(url_col).alias("url"),
        robots.alias("robots"),
        robots.contains("noindex").alias("noindex"),
        robots.contains("nofollow").alias("nofollow"),
        F.regexp_extract(page, CANONICAL_RE, 1).alias("canonical_url"),
        F.regexp_count(page, F.lit(JSONLD_BLOCK_RE)).cast("long")
        .alias("n_jsonld"),
        F.regexp_extract(page, JSONLD_TYPE_RE, 1).alias("jsonld_type"),
        F.lower(F.regexp_extract(page, CHARSET_META_RE, 1))
        .alias("meta_charset"))


def canonical_dup_groups(df: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """Duplicate groups by publisher-declared ``rel=canonical``:
    (canonical_url, n_pages, n_hosts, keep_url) for every canonical
    target ≥ 2 pages point at — syndicated copies and tracking-URL
    variants collapse here for free, BEFORE any shingle or embedding
    ladder spends a cycle on them. ``keep_url`` is the min url (the
    repo-wide deterministic-representative convention).

    Scale: the directive projection is narrow; the census is ONE
    map-side-combined groupBy on the canonical key. Self-canonical
    pages (canonical == own url) count toward their group like any
    other member."""
    d = (page_directives(df, url_col=url_col, html_col=html_col)
         .filter(F.col("canonical_url") != ""))
    host = F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1)
    return (d.select("url", "canonical_url", host.alias("_h"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("_h").alias("n_hosts"),
                 F.min("url").alias("keep_url"))
            .filter(F.col("n_pages") >= 2))


#: soft-404 / parked-page phrase patterns — RE2-compatible, shared
#: verbatim with the DuckDB twin. Real crawls serve these with HTTP
#: 200, so the only scalable catch is content phrasing (the same
#: heuristic CCNet/C4-style curation uses before any quality model).
ERROR_PAGE_RE = (r"(?i)(page (you requested )?(was |could )?not( be)? found"
                 r"|404 not found|error 404|page does not exist"
                 r"|no longer (exists|available))")
PARKED_RE = (r"(?i)(domain (is )?for sale|buy this domain"
             r"|under construction|coming soon|account suspended)")


def soft404_flags(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Per-page soft-404 / parked-domain verdict from the raw BINARY
    html: (url, title, error_hit, parked_hit, reason) with reason in
    ('error_page', 'parked', 'ok') — error phrasing outranks parked
    phrasing when both match.

    A crawl serves these with HTTP 200 ("soft" 404), so they survive
    every transport-level filter and poison a training corpus with
    near-identical junk unless caught by content. Execution shape:
    the same sniff-gated decode as ``page_metadata`` + two JVM regexp
    passes fused into the scan projection — zero shuffle, zero Python;
    non-HTML payloads yield ('', false, false, 'ok')."""
    page = page_html(F.col(html_col))
    err = page.rlike(ERROR_PAGE_RE)
    park = page.rlike(PARKED_RE)
    return df.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(page, TITLE_RE, 1).alias("title"),
        err.alias("error_hit"),
        park.alias("parked_hit"),
        F.when(err, F.lit("error_page"))
        .when(park, F.lit("parked"))
        .otherwise(F.lit("ok")).alias("reason"))


def host_error_rate(df: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """Per-host soft-404/parked census: (host, n_pages, n_error,
    n_parked, error_rate) — the host-level spam/decay signal a recrawl
    scheduler and the curation blocklist both read (a host serving
    mostly error pages is parked or dead; drop it wholesale instead of
    paying per-page heuristics).

    ONE map-side-combinable groupBy on host over the narrow flag
    projection; the rate is a single correctly-rounded double division
    (exact integer censuses underneath — the repo's rational
    discipline)."""
    flags = soft404_flags(df, url_col=url_col, html_col=html_col)
    host = F.regexp_extract("url", r"https?://([^/]+)", 1)
    bad = (F.col("error_hit") | F.col("parked_hit")).cast("long")
    return (flags.select(host.alias("host"),
                         F.col("error_hit").cast("long").alias("_e"),
                         F.col("parked_hit").cast("long").alias("_p"),
                         bad.alias("_b"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum("_e").alias("n_error"),
                 F.sum("_p").alias("n_parked"),
                 F.sum("_b").alias("_nb"))
            .select("host", "n_pages", "n_error", "n_parked",
                    # ONE correctly-rounded IEEE division on exact
                    # integers — bit-identical cross-engine, no round()
                    (F.col("_nb").cast("double")
                     / F.col("n_pages").cast("double"))
                    .alias("error_rate")))


#: meta-refresh redirect shape — RE2-compatible, shared with the twin.
#: Matches content="<delay>;url=<target>" with optional whitespace.
META_REFRESH_RE = (r'(?i)<meta[^>]*http-equiv="refresh"[^>]*'
                   r'content="(\d+)\s*;\s*url=([^"]*)"')


def meta_refresh_targets(df: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """Client-side redirect stubs out of the raw BINARY html:
    (url, refresh_delay, refresh_target, is_redirect) — one row per
    page, empty-profile for pages without the directive.

    A crawler stores meta-refresh stubs as their own captures; a
    training corpus must treat them like 3xx responses — drop the stub,
    credit the target (parked domains and moved pages are the usual
    emitters). Same zero-shuffle sniff-gated projection as
    ``page_directives``; the delay is a LONG (-1 when absent) so the
    common delay-0 "immediate redirect" slice is selectable without
    string casts."""
    page = page_html(F.col(html_col))
    delay_s = F.regexp_extract(page, META_REFRESH_RE, 1)
    target = F.regexp_extract(page, META_REFRESH_RE, 2)
    return df.select(
        F.col(url_col).alias("url"),
        F.when(delay_s == "", F.lit(-1)).otherwise(delay_s.cast("long"))
        .cast("long").alias("refresh_delay"),
        target.alias("refresh_target"),
        (target != "").alias("is_redirect"))


def redirect_resolved(df: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """(url, target, target_captured, target_is_redirect) — one row per
    meta-refresh redirect stub, resolved one hop against the corpus:
    was the redirect TARGET itself fetched, and is it another stub
    (a chain needing a further hop)? The 3xx-equivalent bookkeeping a
    curation run needs to drop stubs while crediting targets — an
    uncaptured target is frontier work, a stub target is a chain (real
    crawls cap chains at ~5 hops; the corpus plants one-hop chains, so
    one resolve round closes them — re-apply on its own output for
    deeper archives).

    Scale shape: stubs are a tiny slice (~1% of captures), so the
    corpus-side probe is ONE broadcast semi-join (stub target set
    broadcast against the scan — no corpus shuffle), and the resolve is
    a broadcast join of two stub-sized frames."""
    prof = meta_refresh_targets(df, url_col, html_col)
    stubs = (prof.where(F.col("is_redirect"))
             .select("url", F.col("refresh_target").alias("target")))
    # corpus probe: only rows whose url is some stub's target survive
    # (broadcast semi) — then their own redirect flag is recomputed on
    # that tiny slice only.
    targets = stubs.select(F.col("target").alias(url_col)).distinct()
    hit = df.join(F.broadcast(targets), url_col, "left_semi")
    tprof = (meta_refresh_targets(hit, url_col, html_col)
             .select(F.col("url").alias("target"),
                     F.col("is_redirect").alias("_t_redir")))
    return (stubs.join(F.broadcast(tprof), "target", "left")
            .select("url", "target",
                    F.col("_t_redir").isNotNull().alias("target_captured"),
                    F.coalesce(F.col("_t_redir"), F.lit(False))
                    .alias("target_is_redirect")))


def charset_census(df: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """Corpus charset-declaration census: (charset, n_pages, n_hosts)
    where charset is 'bom-utf8' (UTF-8 BOM prefix — it outranks any
    meta label), the lowercased ``<meta charset>`` label, 'undeclared'
    (HTML with no declaration), or 'not-html'.

    The encoding audit that sizes a transcode leg BEFORE building it:
    at crawl scale the legacy-label slice (iso-8859-1, windows-1252)
    decides whether the reader needs a charset-dispatch decode or can
    assume UTF-8 + replacement. Zero Python, one map-side-combinable
    groupBy over a narrow sniff-gated projection; the BOM check
    decodes 3 bytes as ISO-8859-1 (total map, never raises)."""
    page = page_html(F.col(html_col))
    bom = (F.decode(F.substring(F.col(html_col), 1, 3), "ISO-8859-1")
           == "\xef\xbb\xbf")
    label = F.lower(F.regexp_extract(page, CHARSET_META_RE, 1))
    status = (F.when(page == "", F.lit("not-html"))
              .when(bom, F.lit("bom-utf8"))
              .when(label != "", label)
              .otherwise(F.lit("undeclared")))
    host = F.regexp_extract(url_col, r"https?://([^/]+)", 1)
    return (df.select(status.alias("charset"), host.alias("_h"))
            .groupBy("charset")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("_h").alias("n_hosts")))


def triangle_stats(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    UNDIRECTED simplification of ``edges`` (self-loops dropped,
    direction and multiplicity collapsed) — the web-graph cohesion
    diagnostic published next to PageRank/HITS (spam farms and link
    rings show up as abnormal clustering).

    Scale shape — the MapReduce orientation trick (Suri &
    Vassilvitskii, WWW 2011): orient every undirected edge from its
    lower-``(degree, node)`` endpoint to the higher one, so each node's
    oriented out-degree is O(sqrt(m)) even for the hottest hub — the
    wedge self-join can never quadratically explode on a celebrity
    node. Wedges come from ONE equi-join of the oriented edge list on
    the pivot; each triangle closes with ONE more equi-join against the
    oriented edges keyed on (v, w) and is generated exactly once (at
    its lowest-ordered vertex). Per-node counts explode 3 rows per
    triangle into a map-side-combined groupBy. Every quantity is an
    exact integer; the coefficient is one correctly-rounded double op.
    """
    und = (edges.select(F.least(src_col, dst_col).alias("a"),
                        F.greatest(src_col, dst_col).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    e = (und
         .join(deg.select(F.col("node").alias("a"),
                          F.col("degree").alias("da")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("degree").alias("db")), "b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    ori = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"))
    e1 = ori.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = ori.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2"))))
    tri = wedges.join(
        ori.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"])
    tn = (tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
          .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    d, t = F.col("degree"), F.coalesce(F.col("n_triangles"), F.lit(0))
    coeff = F.when(
        d >= 2,
        F.round(F.lit(2.0) * t.cast("double")
                / (d * (d - 1)).cast("double"), 6)).otherwise(F.lit(0.0))
    return (deg.join(tn, "node", "left")
            .select(F.col("node").alias("host"), "degree",
                    t.cast("long").alias("n_triangles"),
                    coeff.alias("clustering")))


def cocitation_pairs(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst",
                     max_fanin: int | None = 1000) -> DataFrame:
    """Related-host discovery by co-citation: two hosts are similar when
    they link the same destinations (HITS' hub-side similarity, the
    "sites like this" signal). Output: every src pair sharing >= 1
    destination, with the shared count and the outlink-set Jaccard.

    Scale shape: ONE self-equi-join of the distinct edge list keyed on
    dst — never src x src. A pathological fan-in dst (everyone links
    example.com) would make that join quadratic in its in-degree, so
    over-``max_fanin`` destinations are dropped FIRST via the
    aggregate + broadcast anti-join cap (util.drop_overcap_keys); such
    hubs carry no similarity signal anyway. Out-degrees fold from the
    CAP-SURVIVING edge list (the containment_pairs precedent: both the
    intersection and the set sizes cover the same surviving vocabulary,
    so the ratio is self-consistent); the Jaccard is integer counts +
    one correctly-rounded division."""
    from .util import drop_overcap_keys

    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    if max_fanin is not None:
        e = drop_overcap_keys(e, "dst", max_fanin)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_d"))
    x = e.select(F.col("src").alias("host_a"), "dst")
    y = e.select(F.col("src").alias("host_b"), "dst")
    common = (x.join(y, "dst")
              .filter(F.col("host_a") < F.col("host_b"))
              .groupBy("host_a", "host_b")
              .agg(F.count(F.lit(1)).alias("common_dsts")))
    da = outdeg.select(F.col("src").alias("host_a"),
                       F.col("out_d").alias("out_a"))
    db = outdeg.select(F.col("src").alias("host_b"),
                       F.col("out_d").alias("out_b"))
    c = F.col("common_dsts")
    return (common.join(da, "host_a").join(db, "host_b")
            .select("host_a", "host_b", c.cast("long").alias("common_dsts"),
                    F.col("out_a").cast("long").alias("out_a"),
                    F.col("out_b").cast("long").alias("out_b"),
                    F.round(c.cast("double")
                            / (F.col("out_a") + F.col("out_b") - c)
                            .cast("double"), 6).alias("jaccard")))


def seed_distance(edges: DataFrame, seeds: list, max_hops: int = 3,
                  src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Link distance from a trusted seed set: (node, dist) with dist =
    BFS hops along out-links, −1 beyond ``max_hops`` — TrustRank's
    discrete cousin (Gyongyi 2004 measures decayed trust; this measures
    the horizon itself: spam nests live far from every seed, and the
    −1 ring is the first thing a corpus review eyeballs).

    Exact integers, no folds to pin. Scale shape: ``max_hops`` frontier
    joins, each edges ⋈ current-distance table followed by a map-side-
    combinable min — the distance table never exceeds node cardinality,
    and the min-combine absorbs the hub fan-in the way the CC
    propagation does. The unioned lineage is O(max_hops) deep —
    localCheckpoint upstream if hops grow past the low tens."""
    if not seeds:
        raise ValueError("seed_distance needs a non-empty seed list")
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    d = (nodes.filter(F.col("node").isin([str(s) for s in seeds]))
         .select("node", F.lit(0).cast("int").alias("dist")))
    for _ in range(max_hops):
        step = (e.join(d, e["src"] == d["node"])
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("dist")))
        d = (d.unionByName(step)
             .groupBy("node").agg(F.min("dist").alias("dist")))
    return (nodes.join(d, "node", "left")
            .select(F.col("node").alias("host"),
                    F.coalesce("dist", F.lit(-1)).cast("int")
                    .alias("dist")))


def hyperball(edges: DataFrame, max_t: int = 3,
              src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the per-node neighborhood
    function N(v, t) = |{w : dist(v, w) <= t}| for every node at once,
    estimated by maintaining one HyperLogLog counter per node and
    merging each node's counter with its out-neighbors' counters once
    per round. Returns (host, t, n_registers, est_raw) for t = 0..max_t.

    This is THE way to get all-nodes distance statistics out of a
    10^8-host web graph — exact all-pairs BFS is O(n*m) and dead on
    arrival, while HyperBall is ``max_t`` rounds of (edges ⋈ registers)
    + a map-side-combinable ``max`` groupBy, the same shuffle shape as
    the PageRank iteration above. Common Crawl publishes exactly this
    readout (harmonic centrality per host per crawl; see
    ``harmonic_from_hyperball``).

    Determinism contract, matching ``sketch.hll_cardinality``: registers
    are pure functions of ``md5(node)`` (j = first byte, rank = leading
    zeros of the next 60 bits + 1), the estimator fold sums
    ``pow(2, -r)`` (exact powers of two) over registers sorted by j, and
    the raw Flajolet estimator is spelled as the same literal arithmetic
    in the DuckDB twin — no corrections, no RNG, bit-exact under any
    partitioning.

    Scale shape: the register table holds <= min(m, |B(v,t)|) rows per
    node (m = 256), so the working set is <= 256x nodes whatever the
    edge count; the per-round merge groupBy(node, j) combines map-side,
    absorbing hub fan-in exactly like ``seed_distance``'s min-combine.
    Lineage grows one join + one agg per round — localCheckpoint the
    register table every ~8 rounds if chasing the full diameter."""
    from .sketch import HLL_M, hll_register_table

    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    regs = (hll_register_table(nodes, "node", item=F.md5(F.col("node")))
            .select(F.col("grp").alias("node"), "j", "r"))

    alpha_m2 = ((0.7213 / (1.0 + 1.079 / float(HLL_M)))
                * float(HLL_M) * float(HLL_M))

    def _estimate(reg: DataFrame, t: int) -> DataFrame:
        folded = (reg.groupBy("node")
                  .agg(F.count(F.lit(1)).alias("n_registers"),
                       F.aggregate(
                           F.sort_array(F.collect_list(F.struct("j", "r"))),
                           F.lit(0.0),
                           lambda acc, x: acc + F.pow(F.lit(2.0), -x["r"]))
                       .alias("_s")))
        return folded.select(
            F.col("node").alias("host"),
            F.lit(t).cast("int").alias("t"),
            F.col("n_registers").cast("long").alias("n_registers"),
            (F.lit(alpha_m2)
             / (F.col("_s")
                + (F.lit(HLL_M) - F.col("n_registers")).cast("double")))
            .alias("est_raw"))

    out = _estimate(regs, 0)
    for t in range(1, max_t + 1):
        regs = regs.persist()
        pulled = (e.join(regs, e["dst"] == regs["node"])
                  .select(e["src"].alias("node"), "j", "r"))
        regs = (regs.unionByName(pulled)
                .groupBy("node", "j").agg(F.max("r").alias("r")))
        out = out.unionByName(_estimate(regs, t))
    return out


def harmonic_from_hyperball(balls: DataFrame) -> DataFrame:
    """Approximate harmonic centrality from a ``hyperball`` table:
    H(v) = sum over t >= 1 of (N(v, t) - N(v, t-1)) / t — each shell's
    estimated size discounted by its distance (Boldi & Vigna 2014 use
    exactly this telescoping readout of the HyperBall counters; it is
    the centrality Common Crawl ships per host).

    One self-join on (host, t = t-1) + a sorted-fold sum per host, so
    the double is a deterministic value sequence (shells summed in t
    order) — bit-exact vs the twin. Negative shell deltas (possible
    when the raw estimator wobbles between rounds) are kept as-is:
    clamping would hide estimator drift the diagnostic exists to show."""
    cur = balls.select("host", "t", F.col("est_raw").alias("n_t"))
    prev = balls.select("host", (F.col("t") + 1).alias("t"),
                        F.col("est_raw").alias("n_prev"))
    shells = (cur.join(prev, ["host", "t"])
              .select("host", "t",
                      ((F.col("n_t") - F.col("n_prev"))
                       / F.col("t").cast("double")).alias("shell")))
    return (shells.groupBy("host")
            .agg(F.max("t").cast("int").alias("max_t"),
                 F.aggregate(
                     F.sort_array(F.collect_list(F.struct("t", "shell"))),
                     F.lit(0.0),
                     lambda acc, x: acc + x["shell"]).alias("harmonic")))


def label_propagation(edges: DataFrame, iters: int = 3,
                      src_col: str = "src", dst_col: str = "dst"
                      ) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected simplification of the graph,
    made fully deterministic: every node starts labeled with its own
    id; each round every node adopts the most frequent label among its
    neighbors' current labels, ties broken by the smallest label, and
    nodes without neighbors keep what they have. Returns (host,
    community) = the labels after exactly ``iters`` rounds — a
    well-defined contract even where classic async LPA would oscillate
    (synchronous LPA on bipartite structures flips between two
    labelings; the round count pins which one you get).

    Next to weak components (host_components) this is the finer
    community readout: components say "connected at all", LPA says
    "densely interlinked" — link farms and mirror clusters collapse to
    one label long before the full component does.

    Scale shape: each round is one edges ⋈ labels join + TWO
    aggregate-only shuffles (count per (node, label), then
    min_by-struct argmax per node) — no windows, so a 10^6-degree hub
    costs a combinable aggregation, never a single-task buffer (the
    round-3 occupancy-cap lesson). Labels table = one row per node.
    Lineage grows per round; localCheckpoint every ~8 rounds at depth.
    """
    eu = (edges.select(F.col(src_col).alias("src"),
                       F.col(dst_col).alias("dst"))
          .unionByName(edges.select(F.col(dst_col).alias("src"),
                                    F.col(src_col).alias("dst")))
          .filter(F.col("src") != F.col("dst"))
          .distinct().persist())
    labels = (eu.select(F.col("src").alias("node"))
              .unionByName(eu.select(F.col("dst").alias("node")))
              .distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(iters):
        nb = (eu.join(labels, eu["dst"] == labels["node"])
              .select(eu["src"].alias("node"), "label"))
        counts = (nb.groupBy("node", "label")
                  .agg(F.count(F.lit(1)).alias("c")))
        best = (counts.groupBy("node")
                .agg(F.min_by("label", F.struct((-F.col("c")).alias("nc"),
                                                F.col("label")))
                     .alias("blabel")))
        labels = (labels.join(best, "node", "left")
                  .select("node", F.coalesce("blabel", "label")
                          .alias("label")))
    return labels.select(F.col("node").alias("host"),
                         F.col("label").alias("community"))


def community_modularity(edges: DataFrame, labels: DataFrame,
                         src_col: str = "src", dst_col: str = "dst"
                         ) -> DataFrame:
    """Newman modularity per community: for each label c over the
    undirected simplification, ``term_c = L_c/m − (D_c/(2m))²`` with
    L_c = edges internal to c, D_c = total degree of c's nodes, m =
    total edges; Σ term_c is the partition's Q (≈0 for random labels,
    0.3+ for real community structure — THE acceptance gate on an LPA
    run before anyone partitions a crawl by its labels). Returned
    per-community (community, n_nodes, internal_edges, degree_sum,
    modularity_term) rather than pre-summed, so the readout doubles as
    the which-communities-are-real diagnostic and the contract never
    pins a float fold — every term is two correctly-rounded ops on
    exact integers (L/m, then d·d), bit-identical cross-engine.

    Scale shape: one canonical-edge distinct, two label joins on node
    keys, three map-side-combinable aggregations; m arrives as a 1-row
    broadcast cross. No windows, no folds."""
    eu = (edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct().persist())
    lab = labels.select(F.col("host").alias("node"), "community")
    m1 = eu.agg(F.count(F.lit(1)).alias("_m"))

    deg = (eu.select(F.col("a").alias("node"))
           .unionByName(eu.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    dc = (deg.join(lab, "node")
          .groupBy("community")
          .agg(F.count(F.lit(1)).alias("n_nodes"),
               F.sum("degree").alias("degree_sum")))
    la = lab.select(F.col("node").alias("a"),
                    F.col("community").alias("_ca"))
    lb = lab.select(F.col("node").alias("b"),
                    F.col("community").alias("_cb"))
    lc = (eu.join(la, "a").join(lb, "b")
          .filter(F.col("_ca") == F.col("_cb"))
          .groupBy(F.col("_ca").alias("community"))
          .agg(F.count(F.lit(1)).alias("internal_edges")))
    zero = F.lit(0).cast("long")
    half = (F.col("degree_sum").cast("double")
            / (F.lit(2.0) * F.col("_m").cast("double")))
    return (dc.join(lc, "community", "left")
            .crossJoin(F.broadcast(m1))
            .select("community",
                    F.col("n_nodes").cast("long").alias("n_nodes"),
                    F.coalesce("internal_edges", zero).cast("long")
                    .alias("internal_edges"),
                    F.col("degree_sum").cast("long").alias("degree_sum"),
                    (F.coalesce("internal_edges", zero).cast("double")
                     / F.col("_m").cast("double")
                     - half * half).alias("modularity_term")))


def robots_rule_pattern(prefix: Column) -> Column:
    """Anchored regex for one RFC 9309 rule path: literal chars escaped,
    ``*`` -> ``.*``, a trailing ``$`` -> end anchor. The construction is
    pure string expressions shared by semantics (not text) with the
    DuckDB twin — both Java regex and RE2 read the produced pattern
    identically (escaped char classes, ``.*``, ``^``/``$`` anchors
    only)."""
    anchored = prefix.endswith("$")
    body = F.when(anchored,
                  F.substring(prefix, 1, F.length(prefix) - 1)
                  ).otherwise(prefix)
    esc = F.regexp_replace(body, r"([\\.\[\]{}()+?^|$])", r"\\$1")
    return F.concat(F.lit("^"), F.replace(esc, F.lit("*"), F.lit(".*")),
                    F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def robots_verdicts(urls: DataFrame, rules: DataFrame,
                    url_col: str = "url") -> DataFrame:
    """RFC 9309 (robots.txt) rule matching: per url, the winning rule
    and its verdict — (url, allow, matched_prefix).

    ``rules`` is the parsed per-host robots table (host, prefix,
    allow): one row per Allow/Disallow line, ``prefix`` the path
    prefix (the empty prefix matches every path). Rule paths may carry
    the RFC 9309 special characters: ``*`` matches any char sequence
    and a TRAILING ``$`` anchors the rule at the path end (a ``$``
    anywhere else is literal, per the RFC's ABNF). Plain rules keep the
    cheap ``startswith`` residual; only rules carrying a special char
    pay the regex translation (escape literals, ``*`` -> ``.*``,
    trailing ``$`` -> anchor — `robots_rule_pattern`). Matching follows
    the REP standard: the MOST SPECIFIC rule wins, specificity = octet
    length of the RULE TEXT (wildcards count as written — the
    reference-parser convention, e.g. Google's robotstxt matcher); on a
    length tie the LEAST RESTRICTIVE rule (allow) wins; a url no rule
    matches is allowed. The tie-break beyond that (same length, same
    verdict, different prefix text) is the lexicographically largest
    prefix — any choice is semantically equal there, this one is
    deterministic and engine-portable.

    Scale shape: rules tables are tiny next to a crawl corpus (a few
    lines per host), so the rules side broadcasts and the equi-join on
    host carries the match residual as the join filter — no shuffle of
    the corpus beyond ONE map-side-combinable max keyed on url. The
    winner pick is a single string ``max`` over a packed
    ``lpad(2*len(prefix)+allow)|prefix`` key (longest-then-allow order
    folded into one binary-comparable key), not a window. The per-row
    regex evaluation happens ONLY on wildcard rules (a CASE inside the
    residual), so a corpus matched against plain-prefix rules never
    compiles a pattern."""
    u = urls.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(url_col, r"https?://([^/]+)", 1).alias("_h"),
        F.regexp_extract(url_col, r"https?://[^/]+(/.*)", 1).alias("_p"))
    wild = F.col("prefix").contains("*") | F.col("prefix").endswith("$")
    r = rules.select(F.col("host").alias("_rh"), F.col("prefix"),
                     F.col("allow").cast("int").alias("_a"),
                     wild.alias("_w"),
                     robots_rule_pattern(F.col("prefix")).alias("_pat"))
    residual = F.when(F.col("_w"),
                      F.regexp_like(F.col("_p"), F.col("_pat"))
                      ).otherwise(F.col("_p").startswith(F.col("prefix")))
    j = u.join(F.broadcast(r),
               (F.col("_h") == F.col("_rh")) & residual, "left")
    key = F.concat(
        F.lpad((F.length("prefix") * 2 + F.col("_a")).cast("string"),
               6, "0"),
        F.lit("|"), F.col("prefix"))
    return (j.groupBy("url").agg(F.max(key).alias("_k"))
            .select(
                "url",
                F.coalesce(
                    F.substring("_k", 1, 6).cast("int") % 2 == 1,
                    F.lit(True)).alias("allow"),
                F.coalesce(F.expr("substring(_k, 8)"), F.lit(""))
                .alias("matched_prefix")))


# ---------------------------------------------------------------------------
# DOM tag-skeleton templates (X159)
# ---------------------------------------------------------------------------

#: open/close tag NAME at a tag boundary (attributes/text ignored).
TAG_RE = r"<(/?[a-z][a-z0-9]*)"


def dom_skeletons(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(url, host, skeleton, n_tags): the page's tag-sequence
    fingerprint — every open/close tag name in document order, text and
    attributes stripped, md5-hashed. Pages sharing a skeleton render
    from one template; the per-host skeleton census is the
    wrapper-induction / layout-clustering signal scrapers and
    boilerplate models key on (a host serving 10^6 urls from 3
    skeletons is a database frontend, not 10^6 authored pages).

    Narrow zero-shuffle projection: sniff-gated decode (``page_html``)
    -> one regexp_extract_all -> lower/join/md5. Non-HTML payloads
    (PDF, junk, poison) contribute no rows."""
    t = page_html(F.col(html_col))
    tags = F.regexp_extract_all(F.lower(t), F.lit(TAG_RE), F.lit(1))
    return (df.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(url_col, r"https://([^/]+)/", 1).alias("host"),
        F.md5(F.array_join(tags, ">")).alias("skeleton"),
        F.size(tags).cast("long").alias("n_tags"))
        .filter(F.col("n_tags") > 0))
