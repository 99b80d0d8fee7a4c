"""The executor-side zip re-read gate (`session.gate_worker_zip_invalidation`).

Before CPython 3.13, `importlib.invalidate_caches()` made every zip finder
re-read its archive's central directory; a reused PySpark worker calls it
before every task. The gate keys each re-read on the archive's stat."""

import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

needs_eager_zip_invalidation = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="zipimporter.invalidate_caches re-reads eagerly only on 3.10-3.12")


def _write_zip(path: Path, modules: dict) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@needs_eager_zip_invalidation
def test_gate_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    import importlib

    from pyspark.taskcontext import TaskContext

    from amazon_kinesis_replay_spark.session import (
        gate_worker_zip_invalidation)

    # undo the install after the test, and fake being inside a task
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))

    archive = tmp_path / "gated.zip"
    _write_zip(archive, {"zip_gate_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zip_gate_mod_a", "zip_gate_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        import zip_gate_mod_a
        assert zip_gate_mod_a.A == 1
        gate_worker_zip_invalidation()
        importlib.invalidate_caches()       # first sight: keyed re-read
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads     # unchanged: never re-read

        _write_zip(archive, {"zip_gate_mod_a": "A = 1\n",
                             "zip_gate_mod_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert str(archive) in reads         # changed: re-read
        import zip_gate_mod_b
        assert zip_gate_mod_b.B == 2

        os.remove(archive)                   # missing: stdlib fallthrough
        importlib.invalidate_caches()
        assert sys.path_importer_cache[str(archive)]._files == {}
    finally:
        sys.path_importer_cache.pop(str(archive), None)


@needs_eager_zip_invalidation
def test_reused_worker_skips_unchanged_zip_rereads(spark):
    """After an engine kernel ran on a worker, a later task's
    `importlib.invalidate_caches()` (what pyspark runs before each task)
    re-reads no archive."""
    import pandas as pd

    from amazon_kinesis_replay_spark.sources import ndjson

    n = spark.sparkContext.defaultParallelism
    files = spark.createDataFrame([(f"p{i}", b"") for i in range(n)],
                                  "path string, content binary")
    files.repartition(n).mapInPandas(ndjson._decode_lines,
                                     "value string, path string").collect()

    def probe(batches):
        import importlib
        import zipimport as zi
        finders = sum(isinstance(f, zi.zipimporter)
                      for f in sys.path_importer_cache.values())
        reads = [0]
        real = zi._read_directory

        def counting(path):
            reads[0] += 1
            return real(path)

        zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({
            "finders": [finders], "reads": [reads[0]],
            "engine": ["amazon_kinesis_replay_spark" in sys.modules]})

    rows = (spark.range(0, n, 1, n)
            .mapInPandas(probe, "finders long, reads long, engine boolean")
            .toPandas())
    if not (rows["finders"] > 0).any():
        pytest.skip("the Python workers have no zip finder on sys.path")
    ran_kernel = rows[rows["engine"] & (rows["finders"] > 0)]
    assert len(ran_kernel), rows
    assert (ran_kernel["reads"] == 0).all(), rows


def test_driver_import_leaves_zipimporter_untouched():
    code = ("import zipimport\n"
            "before = zipimport.zipimporter.invalidate_caches\n"
            "import amazon_kinesis_replay_spark\n"
            "assert zipimport.zipimporter.invalidate_caches is before\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-2000:]
