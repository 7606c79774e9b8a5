"""The stat-checked zip-import cache of ``polars_dataset_spark.worker_zipcache``.

Each guard check runs in a fresh interpreter, because installing the guard
patches ``zipimport`` for the whole process. The closure check captures the
``applyInPandas`` kernel of every per-trace operator, as Spark ships it, and
unpickles it in a fresh interpreter that looks like a Python worker.
"""

import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql.group import GroupedData

from polars_dataset_spark import Dataset
from polars_dataset_spark.operators import fourier_transform, interpolate_frame, regrid
from polars_dataset_spark.operators.fourier import lomb_scargle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARD = "polars_dataset_spark.worker_zipcache._invalidate_if_changed"


def _run(script: str, tmp_path, secret: bool) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if secret:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    env["PYTHONPATH"] = REPO
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


_ZIP_SCRIPT = """
import importlib, os, sys, zipfile, zipimport

def write_zip(members):
    with zipfile.ZipFile("pkgs.zip", "w") as z:
        for name, src in members.items():
            z.writestr(name, src)

write_zip({"zg/__init__.py": "", "zg/sub/__init__.py": "", "zg/sub/a.py": "A = 1"})
archive = os.path.abspath("pkgs.zip")
sys.path.insert(0, archive)
import zg.sub.a
importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == archive]
assert len(importers) == 3, importers  # the archive root, zg/ and zg/sub/

reads = []
read_directory = zipimport._read_directory
def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

from polars_dataset_spark import worker_zipcache
assert worker_zipcache.install()
importlib.invalidate_caches()
assert len(reads) == 1, reads  # first call reads once per archive, not per importer
importlib.invalidate_caches()
importlib.invalidate_caches()
assert len(reads) == 1, reads  # unchanged archive: no _read_directory call
cached = zipimport._zip_directory_cache[archive]
assert all(f._files is cached for f in importers)

write_zip({"zg/__init__.py": "", "zg/sub/__init__.py": "", "zg/sub/a.py": "A = 1",
           "zg/sub/b.py": "B = 2"})
importlib.invalidate_caches()
assert len(reads) == 2, reads  # new size and mtime: re-read
import zg.sub.b
assert zg.sub.b.B == 2
print("ok")
"""


@pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 12), reason="guard applies to CPython 3.10-3.11"
)
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path):
    assert _run(_ZIP_SCRIPT, tmp_path, secret=True).strip() == "ok"


def test_guard_only_in_python_workers_before_312(tmp_path):
    script = """
    import sys, zipimport
    from polars_dataset_spark import worker_zipcache
    def current():
        return zipimport.zipimporter.invalidate_caches
    original = worker_zipcache._original
    print(current() is original, worker_zipcache.install(), current() is original)
    """
    # outside a Python worker: the original method stays
    assert _run(script, tmp_path, secret=False).split() == ["True", "False", "True"]

    script_312 = """
    import sys, zipimport
    from polars_dataset_spark import worker_zipcache
    real = sys.version_info
    sys.version_info = (3, 12, 0, "final", 0)
    installed = worker_zipcache.install()
    sys.version_info = real
    print(installed, zipimport.zipimporter.invalidate_caches is worker_zipcache._original)
    """
    # CPython >= 3.12 reads archives lazily already: the original method stays
    assert _run(script_312, tmp_path, secret=True).split() == ["False", "True"]


def _capture_closures(spark, monkeypatch):
    captured = {}
    original = GroupedData.applyInPandas

    def recording(self, func, schema):
        captured["fn"] = func
        return original(self, func, schema)

    monkeypatch.setattr(GroupedData, "applyInPandas", recording)
    rows = [(g, float(x), float(np.sin(x + g))) for g in range(3) for x in np.linspace(0, 4, 20)]
    ds = Dataset(
        spark.createDataFrame(pd.DataFrame(rows, columns=["g", "t", "y"])), index="t", id_vars=["g"]
    )
    grid = np.linspace(0.5, 3.5, 7)
    closures = {}
    for name, build in [
        ("regrid", lambda: regrid(ds, grid)),
        ("interpolate_frame", lambda: interpolate_frame(ds, grid)),
        ("fourier_transform", lambda: fourier_transform(ds)),
        ("lomb_scargle", lambda: lomb_scargle(ds, [0.5, 1.0])),
    ]:
        captured.clear()
        build()
        closures[name] = cloudpickle.dumps(captured["fn"])
    return closures


def test_every_per_trace_kernel_closure_installs_the_guard(spark, monkeypatch, tmp_path):
    want = GUARD if (3, 10) <= sys.version_info[:2] < (3, 12) else "zipimport.zipimporter.invalidate_caches"
    for name, payload in _capture_closures(spark, monkeypatch).items():
        path = tmp_path / f"{name}.pkl"
        path.write_bytes(payload)
        script = f"""
        import pickle, zipimport
        pickle.loads(open({str(path)!r}, "rb").read())
        m = zipimport.zipimporter.invalidate_caches
        print(m.__module__ + "." + m.__qualname__)
        """
        assert _run(script, tmp_path, secret=True).strip() == want, name
