"""Regenerate docs/PLANS.md: formatted physical plans of the flagship
stages with shuffle-hygiene commentary. Run after changing any operator.

Each generated ``## <title>`` section is replaced in place, so the
hand-written sections (the audits below the generated ones) survive every
run; a generated section the file lacks is appended, and a missing file is
written from the header plus every section."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_automation_system_spark.functions import dedup as D  # noqa: E402
from ocr_automation_system_spark.operators.adapters import build_entities  # noqa: E402
from ocr_automation_system_spark.operators.extract import extract_documents  # noqa: E402
from ocr_automation_system_spark.operators.rules import run_rules  # noqa: E402
from ocr_automation_system_spark.queries import REGISTRY, corpus_for  # noqa: E402
from ocr_automation_system_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "extraction": """Narrow end to end: one scan -> one mapInPandas pass. The oracle routes
each row to its HTML/PDF/OCR leg inside the batch, so there is no leg
filter, no second pass over the payload column and no union. The only
exchange is ensure_parallelism's round-robin repartition, which fires on a
split-starved local input like this one-file corpus and is absent at
production split counts; extraction throughput scales linearly with
executors, which is what the N->4N efficiency criterion measures.""",
    "entity_join": """Input is the COMMITTED extraction table (plans/resume.py writes it
once), read ONCE: the doctype filter and the pruned columns are pushed to
the one scan. A projection parses each doctype's json under its own
document_type condition, keys the row by that doctype's PAN and builds its
doc struct. The empty-key filter is pushed below it with its own
from_json pruned to the key field, so each doc's fields_json is parsed
twice: once for the key, once in full. One aggregation keyed on
entity_key then keeps the min-url doc per doctype: partial aggregate, ONE
hash exchange, final aggregate. It is a sort aggregate because a struct
min buffer is not fixed-width; keys are near-unique PANs, so the shuffle
is uniform and the partial aggregate has little to merge. No window, no join. The rules stage
adds NO exchange: three projections over the entity row (shared bindings,
one struct column per rule CASE, then inline of the rule rows) in the
aggregation's stage, and entity_report's groupBy on entity_key reuses the
aggregation's hash partitioning. In the executed plan the from_json
Filter and Projects and the rule-CASE Project run outside whole-stage
codegen, because from_json and the rules' exists() are CodegenFallback,
and so do both sort aggregates (see Higher-order-function codegen
cliffs); the bindings Project and the inline Generate are codegen'd.""",
    "lsh_pairs": """The LSH band join shuffles on (band, sig) — the signature, never the
document text. Signature computation is explode -> md5 -> 8 MIN
aggregates in ONE whole-stage-codegen hash aggregate: map-side partial
aggregation collapses each doc's shingles to an 8-long row BEFORE the
doc_id shuffle, so the shuffle payload is n_docs x 8 longs, not the
shingle set. Both self-join sides read the same band subtree; AQE reuses
the exchange. The Jaccard verification joins candidates (tiny) back to
the shingle table on doc ids — broadcast-eligible under AQE. Every
projection reaches the JVM as Spark SQL text (text.shingles_sql and one
selectExpr per step), so building this plan costs a few hundred py4j
round trips. Codegen check on the executed plan (Spark 4.1.2, AQE final
plan): the shingle Generate and the shingle Project are the only
operators outside whole-stage codegen. Both carry transform(), which
Spark 4.1 evaluates as CodegenFallback whatever its shape; the guard
inside the transform and the let-bound token array keep its
per-element work down, not the codegen stage.""",
    "simhash": """Same explode->aggregate shape as MinHash: distinct tokens explode,
two 32-bit digest halves per token (conv on md5 hex — all codegen), then
64 per-bit SUM aggregates + count in one hash aggregate keyed on doc_id
(partial agg collapses tokens map-side; the shuffle is n_docs x 65
longs). Bit packing is an exact integer comparison (2*sum > n). The
4x16-bit pigeonhole block join shuffles on (block, block_val); the
Hamming popcount filter runs BEFORE the distinct so the dedup shuffle
carries only true near pairs (x4 block multiplicity). A previous
version folded a 64-counter struct per token in F.aggregate — higher-
order lambdas are CodegenFallback (interpreted per element); the
explode-agg shape benched ~4x faster and scales the same way.""",
    "quota": """One hash shuffle on the domain key. The load-bearing detail is the
partial+final WindowGroupLimit pair: each map partition prunes to its
local top-quota BEFORE the exchange, so a mega-domain ships at most
quota rows per upstream partition and is never materialized fully
sorted — the row_number filter is pushed through the window.""",
    "contamination": """The benchmark side is tiny by construction and BROADCAST
(BuildRight): the corpus side goes scan -> explode -> broadcast-hash-
join with NO shuffle before the join; only matched (contaminated) rows
reach the distinct-count aggregate's exchange. Join key is the
shingle's md5-derived long — 8 bytes at any scale, never the n-gram
string.""",
    "ann": """Embedding bucket ids and cosines run in Arrow-vectorized pandas UDFs
(ArrowEvalPython nodes) — numpy matmul-shaped work with left-associative
cumsum accumulation so results stay bit-identical to the SQL oracle's
a1+a2+... chains. The near-dup self-join shuffles on the bucket id only;
the bucket-occupancy cap (window count over bucket) runs before the join
so a pathological bucket is dropped, not squared. At production scale
the bucket table is written once, hash-partitioned by bucket, and every
query is a partition-pruned lookup.""",
}


HEADER = """# PLANS — physical-plan review of the flagship stages

Auto-generated by `python scripts/dump_plans.py` (sf0.001 inputs; plan
SHAPE is scale-independent, AQE adjusts partition counts at runtime).
Read top-to-bottom as the answer to: where are the shuffles, what got
pushed down, and what stays in whole-stage codegen.
"""


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = build_session("dump_plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = corpus_for(spark, SF)
    results = extract_documents(corpus)

    # The validation stage consumes the COMMITTED extraction table — mirror
    # plans/resume.py, which writes extraction once and reads it back,
    # instead of inlining the UDF pass into the validation plan.
    import tempfile
    ext_path = os.path.join(tempfile.mkdtemp(), "extractions")
    results.write.mode("overwrite").parquet(ext_path)
    committed = spark.read.parquet(ext_path)

    from ocr_automation_system_spark.functions import curation as C
    from ocr_automation_system_spark.functions import similarity as S
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections = [
        ("Extraction (one-pass mapInPandas)", "extraction", results),
        ("Entity join + validation rules", "entity_join",
         run_rules(build_entities(committed))),
        ("MinHash-LSH near-dup pairs", "lsh_pairs",
         D.ngram_jaccard_pairs(docs)),
        ("SimHash near-dup pairs (64-bit, pigeonhole blocks)", "simhash",
         D.simhash_near_pairs(docs)),
        ("ANN near-dup pairs (random-hyperplane, vectorized)", "ann",
         S.cosine_near_dup_pairs(emb, threshold=0.3,
                                 planes=S.hyperplanes(16, 64, seed=0))),
        ("Per-domain quota (WindowGroupLimit)", "quota",
         C.domain_quota(docs, quota=10)),
        ("Benchmark decontamination (broadcast bench side)", "contamination",
         C.benchmark_contamination(docs)),
    ]

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "PLANS.md")
    if os.path.exists(path):
        with open(path) as fh:
            text = fh.read()
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        text = HEADER
    for title, key, df in sections:
        body = f"## {title}\n\n{COMMENTARY[key]}\n\n```\n{_explain(df)}```\n"
        pattern = re.compile(rf"^## {re.escape(title)}\n.*?(?=^## |\Z)",
                             re.S | re.M)
        text, n = pattern.subn(lambda _m: body + "\n", text, count=1)
        if n == 0:
            text = text.rstrip("\n") + "\n\n" + body
    with open(path, "w") as fh:
        fh.write(text)
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
