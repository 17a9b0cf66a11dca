"""The Python worker daemon: zip imports skip unchanged archives, and
the package imports on workers from any driver working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from lawfirm_data_pipeline_spark import worker_daemon

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _count_directory_reads(batches):
    """One row: how many archive directories ``invalidate_caches`` re-reads
    in this worker (it already ran once for the task's own setup)."""
    read = zipimport._read_directory
    calls = []

    def counting(path):
        calls.append(path)
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(calls)]})


def test_worker_task_rereads_no_unchanged_archive(spark):
    got = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_count_directory_reads, "reads LONG")
        .collect()
    )
    assert [r.reads for r in got] == [0]


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "X = 1\n")


def test_zipimporter_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a.py"])
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0))
        worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    worker_daemon.install()
    if sys.version_info >= (3, 13):
        assert zipimport.zipimporter.invalidate_caches is stock
        return

    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # no stamp yet: reads and stamps
    assert reads == [archive] * 2
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()
    assert reads == [archive] * 2
    assert importer.find_spec("a") is not None

    _write_zip(archive, ["b.py", "c.py"])
    importer.invalidate_caches()
    assert reads == [archive] * 3
    assert importer.find_spec("a") is None and importer.find_spec("b") is not None
    importer.invalidate_caches()
    assert reads == [archive] * 3


_RUN_FROM_ELSEWHERE = """
import sys
sys.path.insert(0, {repo!r})
from lawfirm_data_pipeline_spark.queries import QUERIES
from lawfirm_data_pipeline_spark.session import get_spark

spark = get_spark(app_name="any_cwd", cpus=2)
for name in ("q244_bmp_decode", "q100_resize_audit"):
    print(name, len(QUERIES[name](spark, {sf!r}).collect()))
spark.stop()
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    from tests.conftest import SF_ORACLE

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _RUN_FROM_ELSEWHERE.format(repo=_REPO, sf=SF_ORACLE)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    counts = dict(line.split() for line in out.stdout.splitlines())
    assert set(counts) == {"q244_bmp_decode", "q100_resize_audit"}
    assert all(int(n) > 0 for n in counts.values())
