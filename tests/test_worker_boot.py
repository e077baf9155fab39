"""Python-worker start-up: zip archives are re-read on invalidation only
when they changed (sparkschema._worker.ready)."""

import importlib
import json
import sys
import zipfile
import zipimport

import pytest

from sparkschema import _worker

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12 "
           "(gh-103200); ready() does nothing there")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for i in range(1000):
            z.writestr(f"filler/m{i:04d}.py", f"X = {i}\n")
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_eager_zip_invalidation
def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"sszip_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("sszip_a").A == 1
        _worker.ready()
        _worker.ready()  # idempotent

        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"sszip_a": "A = 1\n", "sszip_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("sszip_b").B == 2
    finally:
        for name in ("sszip_a", "sszip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _worker._stamps.pop(archive, None)


def test_ready_leaves_zipimport_alone_from_python_312(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(_worker, "_installed", False)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    _worker.ready()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert _worker._installed


@needs_eager_zip_invalidation
def test_reused_worker_rereads_no_zip_directory(spark):
    """Runs of the Arrow kernel over 4 partitions: a worker serving its
    next task re-reads no zip directory, although PySpark invalidates the
    import caches at the start of every task."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sparkschema.compiler.jsoncol import json_valid_column

    @F.pandas_udf(T.StringType())
    def since_last_task(valid):
        # chained on the kernel's output, so it runs after the kernel in
        # the same task and worker; one batch per task (8 rows)
        import zipimport as zi

        import pandas as pd

        w = sys.modules.get("sparkschema._worker")
        ready = w is not None and w._installed
        delta = None
        if ready:
            now = dict(w.counts)
            prev = getattr(w, "_test_counts", None)
            w._test_counts = now
            if prev is not None:
                delta = {k: now.get(k, 0) - prev.get(k, 0)
                         for k in ("reread", "cached")}
        row = json.dumps([ready, delta, len(zi._zip_directory_cache)])
        return pd.Series([row] * len(valid))

    docs = spark.range(0, 32, numPartitions=4).select(
        F.format_string('{"k": %d}', "id").alias("doc"))
    probe = since_last_task(json_valid_column(
        "doc", {"properties": {"k": {"maximum": 20}}}))
    # a task may get a worker left idle by an earlier test rather than one
    # that already ran this probe: repeat until some worker serves again
    repeats = []
    for _ in range(10):
        rows = [json.loads(r[0]) for r in docs.select(probe).collect()]
        if not any(n for _, _, n in rows):
            pytest.skip("the Python workers import from no zip archive")
        assert all(ready for ready, _, _ in rows), \
            "the kernel UDF did not call sparkschema._worker.ready()"
        repeats += [d for _, d, _ in rows if d is not None]
        if len(repeats) >= 4:
            break
    assert repeats, "no Python worker served a second task"
    for d in repeats:
        assert d["reread"] == 0
        assert d["cached"] > 0


@needs_eager_zip_invalidation
def test_worker_that_only_loads_the_kernel_is_ready(spark):
    """A worker whose kernel tasks get no rows never runs the UDF body;
    loading the UDF is enough. A filter leaves every partition empty in
    front of the kernel; a later task of the same worker then has its
    start-of-task invalidations served from the zip-directory cache.

    The UDFs run in a worker pool of their own (PySpark keys worker pools
    by the executor environment), so no earlier test's task warmed the
    workers."""
    import os
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sparkschema.compiler.jsoncol import json_valid_column

    sc = spark.sparkContext
    sc.environment["SPARKSCHEMA_TEST_POOL"] = uuid.uuid4().hex
    try:
        @F.pandas_udf(T.StringType())
        def worker_state(ids):
            # not a sparkschema function: loading it calls nothing
            import pandas as pd

            w = sys.modules.get("sparkschema._worker")
            state = [os.getpid(), w is not None and w._installed,
                     dict(w.counts) if w is not None else {}]
            return pd.Series([json.dumps(state)] * len(ids))

        empty = spark.range(0, 64, 1, 4).where(F.col("id") < 0) \
            .select(F.format_string('{"k": %d}', "id").alias("doc"))
        spec = {"properties": {"k": {"maximum": 20}}}
        for _ in range(3):
            assert empty.select(json_valid_column("doc", spec)).collect() == []
            rows = [json.loads(r[0]) for r in spark.range(0, 8, 1, 4)
                    .select(worker_state("id")).collect()]
            ready = [(pid, counts) for pid, installed, counts in rows
                     if installed]
            if ready:
                break
        assert ready, "no worker that loaded the kernel UDF called ready()"
        for _, counts in ready:
            assert counts.get("cached", 0) > 0, counts
    finally:
        del sc.environment["SPARKSCHEMA_TEST_POOL"]
