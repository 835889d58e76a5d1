"""SparkSession factory with scale-oriented defaults.

Single place for the engine's Spark configuration so tests, bench and
spark-submit entry points agree. Tuned per SURVEY.md §4:

* AQE on (join-strategy re-selection, shuffle coalescing, skew-join
  splitting for the validation join).
* Arrow execution on, with ``maxRecordsPerBatch`` bounded because the
  ``documents`` payload column is BINARY (html/pdf bytes) — batches must fit
  Python-worker memory at 100 TB scale, where payloads are ~100 KB not ~3 KB.
* ``spark.python.worker.reuse`` so per-worker lazy singletons (the
  reference's OCR-model pattern, `core/ocr_engine.py:6-11`) amortize.
* Shuffle partitions sized for the local harness; on a real cluster this is
  set per-job (``--conf``) to ~2-3x total cores, and AQE coalesces down.
* Parquet column chunks are written with zstd at its default level, not
  Spark's default snappy: every Parquet table the package writes (the
  resumable extraction commit, the validation and curation sinks, the
  connected-components checkpoints, the streaming file sinks) stores the
  same rows in about a quarter fewer bytes at no measured cost in time,
  and Spark, pyarrow and DuckDB all read it. Frames written by pandas or
  pyarrow directly (``corpus.write_corpus``, the oracle's golden files)
  keep pyarrow's own default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def package_zip() -> str:
    """Zip this package for ``--py-files`` shipping. ``spark-submit
    --py-files $(python -c 'from ocr_automation_system_spark.session import
    package_zip; print(package_zip())')`` is the production invocation; in
    local/driver-api runs ``build_session`` ships it automatically so
    executor Python workers can unpickle the pandas-UDF closures.

    The zip is written under a unique temporary name and then renamed over
    the fixed path, so drivers starting together on one host never ship
    each other a half-written file."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "ocr_automation_system_spark.zip")
    fd, tmp = tempfile.mkstemp(prefix=".ocr_automation_system_spark.",
                               suffix=".zip", dir=os.path.dirname(out))
    os.close(fd)
    try:
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
        _write_package_zip(tmp, pkg_dir, root)
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


def _write_package_zip(out: str, pkg_dir: str, root: str) -> None:
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                # ship package DATA files too (data/public_suffix_list
                # .dat — read zip-safely via importlib.resources in
                # urlnorm), not just code: a --py-files deployment that
                # silently lacked the rule dimension would fail at
                # import, not at first use
                if fn.endswith((".py", ".dat")):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))


def build_session(
    app_name: str = "ocr_automation_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers (the --py-files contract;
    # required whenever the driver script lives outside the repo root).
    spark.sparkContext.addPyFile(package_zip())
    return spark
