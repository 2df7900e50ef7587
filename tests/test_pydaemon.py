"""The Python worker daemon (``commoncrawl_spark.pydaemon``): a task
start re-reads no zip directory whose file is unchanged, and still
re-reads one that was rewritten."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from commoncrawl_spark import pydaemon


def test_worker_task_rereads_no_unchanged_zip(spark):
    # the first task on a worker counts zipimport's directory reads from
    # then on; a later task on the same worker reports that count, which
    # covers its own start (importlib.invalidate_caches over every
    # zipimporter on the worker's path)
    def probe(batches):
        import zipimport

        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            stock = zipimport._read_directory

            def counted(archive):
                zipimport._probe_reads[0] += 1
                return stock(archive)

            zipimport._probe_reads = [0]
            zipimport._read_directory = counted
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [-1 if reads is None else reads[0]]})

    got = [r.reads for r in spark.range(64, numPartitions=64)
           .mapInPandas(probe, "reads long").collect()]
    reports = [n for n in got if n >= 0]
    assert reports, "no worker ran a second task"
    assert max(reports) == 0, got


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    archive = str(tmp_path / "mods.zip")

    def write(name):
        # rewritten the way session._package_zip rewrites the package zip
        with zipfile.ZipFile(archive + ".tmp", "w") as zf:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
        os.replace(archive + ".tmp", archive)

    reads = []
    stock = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or stock(path))
    write("probe_zip_old")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("probe_zip_old").NAME == "probe_zip_old"
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads  # unchanged: kept

        write("probe_zip_new_module")
        importlib.invalidate_caches()
        assert archive in reads
        mod = importlib.import_module("probe_zip_new_module")
        assert mod.NAME == "probe_zip_new_module"
    finally:
        for name in ("probe_zip_old", "probe_zip_new_module"):
            sys.modules.pop(name, None)
