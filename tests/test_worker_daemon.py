"""Python workers fork from ``worker_daemon``: a warm worker re-reads the
directory of no unchanged zip on ``sys.path`` before a task, and still
sees a zip rewritten in place."""

from __future__ import annotations

import ast
import zipfile

import pytest

pytestmark = pytest.mark.fast


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("graft_pin_mod.py", f"VALUE = {value!r}\n")


def test_warm_worker_rereads_only_changed_zips(spark, tmp_path):
    zpath = str(tmp_path / "pin.zip")
    _write_zip(zpath, "one")

    def task(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        state = sys.modules.setdefault("graft_pin_state", type(sys)("graft_pin_state"))
        first = not hasattr(state, "reads")
        if first:
            # count every directory read from here on: the next task's
            # setup (``importlib.invalidate_caches``) happens before its body
            state.reads = []
            read_directory = zipimport._read_directory

            def counted(archive):
                state.reads.append(archive)
                return read_directory(archive)

            zipimport._read_directory = counted
            sys.path.insert(0, zpath)
        reads = list(state.reads)
        sys.modules.pop("graft_pin_mod", None)
        value = importlib.import_module("graft_pin_mod").VALUE
        dirs = sorted(
            (imp.archive, id(imp._files))
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        )
        state.reads.clear()  # this body's own reads (the import) are not setup
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "first": [first], "value": [value],
            "reads": [repr(reads)], "dirs": [repr(dirs)],
        })

    sc = spark.sparkContext
    # a distinct worker environment gets its own daemon and idle pool, so
    # the second single-task job reuses the first job's worker
    sc.environment["GRAFT_WORKER_PIN"] = str(tmp_path)
    try:
        schema = "pid int, first boolean, value string, reads string, dirs string"
        one = spark.range(1, numPartitions=1).mapInPandas(task, schema).collect()[0]
        _write_zip(zpath, "two, rewritten")
        two = spark.range(1, numPartitions=1).mapInPandas(task, schema).collect()[0]
    finally:
        del sc.environment["GRAFT_WORKER_PIN"]

    assert one["first"] and not two["first"] and one["pid"] == two["pid"]
    dirs_one, dirs_two = ast.literal_eval(one["dirs"]), ast.literal_eval(two["dirs"])
    assert any(a.endswith("pyspark.zip") for a, _ in dirs_one)
    # the second task's setup read only the rewritten zip ...
    assert ast.literal_eval(two["reads"]) == [zpath]
    # ... kept every unchanged archive's directory object ...
    unchanged = [d for d in dirs_one if d[0] != zpath]
    assert unchanged and set(unchanged) <= set(dirs_two)
    # ... and imported the new content
    assert (one["value"], two["value"]) == ("one", "two, rewritten")
