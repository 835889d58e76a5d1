"""Oracle twin artifacts for the binary-payload pipeline queries.

The driver's DuckDB comparator can only check queries whose inputs it can
read with SQL. The extraction pipeline's input is the synthetic html corpus
(BINARY payloads), and its first stage is per-document Python — not
SQL-expressible. To still get hard rows+schema+hash driver checks for the
pipeline queries, this module precomputes the *extraction stage* with the
pure-Python oracle (`oracle.doctype.extract_document`) run SERIALLY — no
Spark — and writes the expected rows to a parquet "twin" table. The
DuckDB oracle SQL for the downstream relational stages (adapters → entity
join → rules → report, duplicate-id / checksum / lineage aggregations) then
runs against the twin parquet as an independent SQL implementation of those
stages (`queries.py` `SQL_PIPELINE_*`).

What this does and doesn't prove:

* the relational stages get a true dual implementation (DuckDB SQL vs Spark
  DataFrame ops) — full differential coverage;
* the extraction stage's *Spark plumbing* (one mapInPandas pass, Arrow batch
  transfer, schema mapping, partitioning) is checked against a serial run
  of the same oracle function — the same property
  `tests/test_pipeline_byte_identity.py` asserts, now surfaced through the
  driver's hash gate;
* reference parity of the oracle functions themselves is covered separately
  by the extractor fixture tests (`tests/test_oracle_extractors.py`).

Everything is cached in the system temp dir keyed by (corpus version, twin
version, row count) so a stale artifact can never shadow changed semantics.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

#: bump whenever twin generation logic changes.
TWIN_VERSION = 3

from ..corpus import (
    CORPUS_VERSION,
    corpus_cache_path,
    generate_rows,
    source_fingerprint,
    write_corpus,
)

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fingerprint of every source file twin generation transitively runs —
#: the generator, this module, the whole serial-oracle package, and the
#: two functions modules whose kernels the twins call. Any edit to any
#: of them invalidates the cache even if nobody re-bumps TWIN_VERSION
#: (round 3 shipped a twin built mid-edit under an unchanged version;
#: this closes that class).
TWIN_FINGERPRINT = source_fingerprint(
    os.path.join(_PKG, "corpus.py"),
    os.path.abspath(__file__),
    *sorted(
        os.path.join(_PKG, "oracle", f)
        for f in os.listdir(os.path.join(_PKG, "oracle"))
        if f.endswith(".py")
    ),
    os.path.join(_PKG, "functions", "curation.py"),
    os.path.join(_PKG, "functions", "multimodal.py"),
)

_TWIN_KEY = f"v{CORPUS_VERSION}_{TWIN_VERSION}_{TWIN_FINGERPRINT}"


def corpus_path(n_rows: int) -> str:
    """Same path as ``queries.corpus_for`` — shared artifact."""
    return corpus_cache_path(n_rows)


def twin_extractions_path(n_rows: int) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_twin_extract_{_TWIN_KEY}_{n_rows}.parquet")


def twin_blocks_path(n_rows: int) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_twin_blocks_{_TWIN_KEY}_{n_rows}.parquet")


def twin_media_path(n_rows: int) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_twin_media_{_TWIN_KEY}_{n_rows}.parquet")


def twin_zlib_path(n_rows: int) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_twin_zlib_{_TWIN_KEY}_{n_rows}.parquet")


def _write_twin_zlib(path: str, rows: list) -> None:
    """Serial golden run of the compression-ratio signal — the SAME
    ``_zlib_record`` the Spark batches call (DEFLATE is not
    SQL-expressible; the twin is the single-node oracle, the SQL just
    reads it)."""
    import pandas as pd

    from ..functions.curation import _zlib_record

    df = pd.DataFrame.from_records(
        [_zlib_record(r["url"], r["text"]) for r in rows])
    for c in ("raw_len", "comp_len"):
        df[c] = df[c].astype("int64")
    df.to_parquet(path, index=False)


def _write_twin_extractions(path: str, rows: list) -> None:
    import pandas as pd

    from .doctype import extract_document

    records = [extract_document(r["url"], r["html"]) for r in rows]
    df = pd.DataFrame.from_records(records)
    # contract surface: the array column is serialized (driver comparator
    # sorts every column; pandas can't sort lists)
    df["missing_fields"] = df["missing_fields"].map(",".join)
    for c in ("blocks_kept", "blocks_dropped"):
        df[c] = df[c].astype("int32")
    df.to_parquet(path, index=False)


#: max_side used by the resize contract query — small enough that the
#: stub decoder's <=255px dims actually downscale at test scale.
RESIZE_MAX_SIDE = 128


def _write_twin_blocks(path: str, rows: list) -> None:
    """Per-block Readability scoring rows, serial oracle run (twin of
    ``operators.extract.block_scores`` — same leg gate, same function)."""
    import pandas as pd

    from ..oracle.pdf_stub import PDF_MAGIC
    from .html_extract import block_records

    recs: list = []
    for r in rows:
        payload = bytes(r["html"]) if r["html"] is not None else b""
        if not payload or payload.startswith(PDF_MAGIC):
            continue
        recs.extend(block_records(r["url"], payload))
    df = pd.DataFrame.from_records(
        recs, columns=["url", "block_idx", "n_lines", "n_chars",
                       "link_chars", "link_density", "boilerplate", "kept",
                       "text_md5"])
    for c in ("block_idx", "n_lines", "n_chars", "link_chars"):
        df[c] = df[c].astype("int32")
    df["link_density"] = df["link_density"].astype("float64")
    for c in ("boilerplate", "kept"):
        df[c] = df[c].astype("bool")
    df.to_parquet(path, index=False)


def _write_twin_media(path: str, rows: list) -> None:
    import pandas as pd

    from ..functions.multimodal import (
        _decode_dims, safe_resize_dims, sniff_mime,
    )

    out = []
    for r in rows:
        payload = bytes(r["html"]) if r["html"] is not None else b""
        rec = {
            "media_id": r["url"], "status": "ok",
            "mime": sniff_mime(payload), "n_bytes": len(payload),
            "sha1": hashlib.sha1(payload).hexdigest(),
            "width": -1, "height": -1,
            "new_width": -1, "new_height": -1, "n_resized_bytes": -1,
        }
        try:
            w, h = _decode_dims(payload)
            nw, nh = safe_resize_dims(w, h, RESIZE_MAX_SIDE)
            rec.update(width=w, height=h, new_width=nw, new_height=nh,
                       n_resized_bytes=max(1, int(len(payload)
                                                  * (nw * nh) / (w * h))))
        except Exception as exc:
            rec["status"] = f"error:{type(exc).__name__}"
        out.append(rec)
    df = pd.DataFrame(out)
    # q_media_metadata coalesces NULL dims to -1 and casts to long at the
    # contract surface so neither side carries nullable-int dtypes.
    for c in ("width", "height", "new_width", "new_height",
              "n_resized_bytes", "n_bytes"):
        df[c] = df[c].astype("int64")
    df.to_parquet(path, index=False)


def ensure_twins(n_rows: int) -> dict:
    """Idempotently materialize corpus + twin parquets; return their paths."""
    paths = {
        "corpus": corpus_path(n_rows),
        "twin_extractions": twin_extractions_path(n_rows),
        "twin_media": twin_media_path(n_rows),
        "twin_blocks": twin_blocks_path(n_rows),
        "twin_zlib": twin_zlib_path(n_rows),
    }
    if not os.path.exists(paths["corpus"]):
        write_corpus(paths["corpus"], n_rows)
    need = [k for k in ("twin_extractions", "twin_media", "twin_blocks",
                        "twin_zlib")
            if not os.path.exists(paths[k])]
    if need:
        rows = generate_rows(n_rows)
        if "twin_extractions" in need:
            _write_twin_extractions(paths["twin_extractions"], rows)
        if "twin_media" in need:
            _write_twin_media(paths["twin_media"], rows)
        if "twin_blocks" in need:
            _write_twin_blocks(paths["twin_blocks"], rows)
        if "twin_zlib" in need:
            _write_twin_zlib(paths["twin_zlib"], rows)
    return paths


def render_sql(sql: str, n_rows: int) -> str:
    """Substitute twin-artifact path placeholders into oracle SQL (and make
    sure the artifacts exist — generation is pure Python, seconds at test
    scale)."""
    if "__TWIN_" not in sql and "__CORPUS__" not in sql:
        return sql
    paths = ensure_twins(n_rows)
    return (sql
            .replace("__TWIN_EXTRACTIONS__", paths["twin_extractions"])
            .replace("__TWIN_MEDIA__", paths["twin_media"])
            .replace("__TWIN_BLOCKS__", paths["twin_blocks"])
            .replace("__TWIN_ZLIB__", paths["twin_zlib"])
            .replace("__CORPUS__", paths["corpus"]))
