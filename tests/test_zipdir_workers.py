"""Python workers with the stat-keyed zip directory (boilerpipe_coffee_spark._zipdir).

PySpark invalidates the import caches before every task.  These tests
check, in real workers, that an archive added mid-session still imports
and that a worker stops re-reading ``pyspark.zip`` after its first task.
"""

import zipfile

import pyarrow as pa


def _rows(spark, fn, schema, tasks=16):
    return spark.range(0, tasks, numPartitions=tasks).mapInArrow(fn, schema).collect()


def test_archives_added_mid_session_import(spark, tmp_path):
    sc = spark.sparkContext

    def add(name, src):
        path = str(tmp_path / f"{name}_archive.zip")
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{name}.py", src)
        sc.addPyFile(path)

    def values(it):
        import zd_first

        try:
            import zd_second

            second = zd_second.VALUE
        except ImportError:
            second = -1
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict({"a": [zd_first.VALUE], "b": [second]})

    add("zd_first", "VALUE = 1\n")
    assert {(r.a, r.b) for r in _rows(spark, values, "a long, b long")} == {(1, -1)}
    add("zd_second", "VALUE = 2\n")
    assert {(r.a, r.b) for r in _rows(spark, values, "a long, b long")} == {(1, 2)}


def test_worker_reads_pyspark_zip_once(spark):
    def report(it):
        # engine stages import the package when their code is unpickled
        import os
        import sys
        import time
        import zipimport

        import boilerpipe_coffee_spark  # noqa: F401

        t = time.monotonic_ns()
        (importer,) = [
            z
            for z in sys.path_importer_cache.values()
            if isinstance(z, zipimport.zipimporter)
            and os.path.basename(z.archive) == "pyspark.zip"
            and not z.prefix
        ]
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "t": [t], "files": [id(importer._files)]}
        )

    by_pid = {}
    for _ in range(3):
        for r in _rows(spark, report, "pid long, t long, files long"):
            by_pid.setdefault(r.pid, []).append((r.t, r.files))
    seen = {}
    for pid, tasks in by_pid.items():
        tasks.sort()
        # a worker's first task here may be its first ever, which ran the
        # stock invalidate_caches before the package was imported
        seen[pid] = {files for _, files in tasks[1:]}
    assert max(len(tasks) for tasks in by_pid.values()) >= 3
    assert all(len(ids) <= 1 for ids in seen.values()), seen
