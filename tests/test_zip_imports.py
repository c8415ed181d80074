"""Python workers re-read a zip archive's directory only when the archive
changed (``zen3geo_spark.keep_unchanged_zip_directories``)."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import zen3geo_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13)
    or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="only CPython 3.10-3.12 re-read the archive in invalidate_caches")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"z3g_zip_a": "A = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # the class attribute comes back after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        import z3g_zip_a

        assert z3g_zip_a.A == 1
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1  # without the fix: one re-read per call

        zen3geo_spark.keep_unchanged_zip_directories()
        zen3geo_spark.keep_unchanged_zip_directories()  # idempotent
        importlib.invalidate_caches()  # first call stamps the importer
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"z3g_zip_a": "A = 1\n", "z3g_zip_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        import z3g_zip_b

        assert z3g_zip_b.B == 2
    finally:
        for name in ("z3g_zip_a", "z3g_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_WORKER_SCRIPT = r"""
import json, os, shutil, sys, zipimport
sys.path.insert(0, sys.argv[1])
from zen3geo_spark.functions.geo import extract_points_arrow
from zen3geo_spark.session import get_spark
from zen3geo_spark.sources.pages import synth_pages

spark = get_spark(app_name="zip_fix", cores=1, shuffle_partitions=1)
# ship the package as --py-files does: the worker imports it from the zip
pkg = shutil.make_archive("pkg", "zip", sys.argv[1], "zen3geo_spark")
spark.sparkContext.addPyFile(pkg)
n = extract_points_arrow(synth_pages(spark, 50).coalesce(1)).count()


def probe(batches):
    import os, sys, zipimport
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "loaded": ["zen3geo_spark" in sys.modules],
        "fixed": [zipimport.zipimporter.invalidate_caches.__module__
                  == "zen3geo_spark"],
        "pkg_from_zip": [".zip" in getattr(sys.modules.get("zen3geo_spark"),
                                           "__file__", "")],
    })


rows = [r.asDict() for r in spark.range(1, numPartitions=1).mapInPandas(
    probe, "pid long, loaded boolean, fixed boolean, pkg_from_zip boolean"
).collect()]
print("RESULT " + json.dumps({
    "points": n, "workers": rows,
    "driver_fixed": zipimport.zipimporter.invalidate_caches.__module__
    == "zen3geo_spark"}))
spark.stop()
"""


def test_worker_that_ran_extract_has_fix(tmp_path):
    """A local[1] session's only Python worker runs extract_points_arrow
    and nothing of this package else; the next task in that worker sees
    the fix installed, while the driver's zipimporter is untouched."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600)
    line = next((ln for ln in p.stdout.splitlines()
                 if ln.startswith("RESULT ")), None)
    assert line, p.stderr[-3000:]
    out = json.loads(line[len("RESULT "):])
    assert out["points"] > 0
    assert out["driver_fixed"] is False
    assert out["workers"] and all(
        w["loaded"] and w["fixed"] and w["pkg_from_zip"]
        for w in out["workers"]), out
