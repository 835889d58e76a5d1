"""The --py-files deployment contract: the package zip must be
importable ON ITS OWN — code AND data — because the production
invocation ships executors nothing else. Round-5 regression: the
bundled PSL .dat rendered into twin SQL at import time, and the
corpus source-fingerprint, both read through filesystem open() on
__file__-relative paths, which raises NotADirectoryError inside a
zip; this test imports the real generated zip in a clean interpreter
so any future import-time filesystem dependency fails here, not on a
cluster."""

import json
import subprocess
import sys
import zipfile

from ocr_automation_system_spark.session import package_zip


def test_package_zip_imports_standalone_with_data():
    z = package_zip()
    names = zipfile.ZipFile(z).namelist()
    assert any(n.endswith("data/public_suffix_list.dat")
               for n in names), "package data must ship in the zip"
    # a CLEAN interpreter whose only path entry for the package is the
    # zip itself (cwd-independent): import the heaviest module, read
    # the bundled list, and compute the corpus fingerprint
    code = (
        "import sys, json\n"
        f"sys.path.insert(0, {z!r})\n"
        "import ocr_automation_system_spark.queries as Q\n"
        "from ocr_automation_system_spark.functions.urlnorm import "
        "psl_full_rules\n"
        "from ocr_automation_system_spark.corpus import "
        "CORPUS_FINGERPRINT\n"
        "print(json.dumps({'n': len(Q.REGISTRY), "
        "'rules': len(psl_full_rules()), 'fp': CORPUS_FINGERPRINT}))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd="/",
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rules"] > 9000
    assert got["n"] >= 270
    # the fingerprint must MATCH the source checkout's, or zip-deployed
    # executors and a source-checkout driver would disagree on every
    # cache filename
    from ocr_automation_system_spark.corpus import CORPUS_FINGERPRINT
    assert got["fp"] == CORPUS_FINGERPRINT


def test_package_zip_concurrent_writers_never_expose_a_partial_zip():
    """Drivers starting together on one host share the zip's fixed path:
    each writes a private temporary file and renames it into place, so a
    reader sees a whole zip at every moment and no temporary is left."""
    import glob
    import os
    from concurrent.futures import ThreadPoolExecutor

    def build_and_read(_):
        path = package_zip()
        with zipfile.ZipFile(path) as zf:
            return path, zf.testzip()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(build_and_read, range(16), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert {p for p, _ in got} == {package_zip()}
    assert all(bad is None for _, bad in got)
    tmp_dir = os.path.dirname(package_zip())
    assert not glob.glob(os.path.join(tmp_dir, ".ocr_automation_system_spark.*.zip"))
