"""Session-level contracts: what the engine ships to Python workers, and
which environment settings it reads."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import parallel_mapreduce_spark.session as S

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "parallel_mapreduce_spark"


class _RecordingContext:
    applicationId = "test-package-zip"

    def __init__(self):
        self.added = []

    def addPyFile(self, path):
        self.added.append(path)


def test_package_zip_never_reuses_a_file_left_at_the_per_pid_path(
    tmp_path, monkeypatch
):
    """A zip another process left in the temp dir must not be shipped in
    place of this process's code, even when it sits at a path named after
    this process's pid."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(S, "_SHIPPED", set())
    monkeypatch.setattr(S, "_PKG_ZIP", None, raising=False)
    planted = tmp_path / f"pmr_spark_pkg_{os.getpid()}.zip"
    planted.write_bytes(b"stale zip from an earlier process")
    sc = _RecordingContext()
    S.ensure_package_on_workers(sc)
    [shipped] = sc.added
    assert Path(shipped) != planted
    with zipfile.ZipFile(shipped) as zf:
        assert zf.read("parallel_mapreduce_spark/session.py") == (
            PKG / "session.py"
        ).read_bytes()


def test_package_zip_is_removed_at_interpreter_exit(tmp_path):
    script = (
        "import parallel_mapreduce_spark.session as S\n"
        "class C:\n"
        "    applicationId = 'app'\n"
        "    def addPyFile(self, path):\n"
        "        print(path)\n"
        "S.ensure_package_on_workers(C())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    shipped = Path(out.strip().splitlines()[-1])
    assert shipped.is_relative_to(tmp_path)
    assert not shipped.exists()
    assert list(tmp_path.iterdir()) == []


def test_package_reads_only_deployment_settings():
    """Tuning thresholds are module constants; the only SPARK_GRAFT_* env
    vars the package reads say where data, indexes and checkpoints live
    and how many cores to use."""
    names = set()
    for path in PKG.rglob("*.py"):
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert names == {
        "SPARK_GRAFT_CHECKPOINT_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_INDEX_DIR",
        "SPARK_GRAFT_SF_DIR",
    }


def test_default_driver_heap_fits_the_memory_it_reads(monkeypatch):
    """The default driver heap is half the memory this process may use —
    the cgroup limit when one is set, else physical memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # A cgroup limit, a v1 "unlimited" limit (2^63 rounded to pages), none.
    for limit in (3 << 30, 9223372036854771712, None):
        monkeypatch.setattr(S, "_cgroup_memory_max", lambda: limit)
        heap = S.default_driver_memory()
        assert re.fullmatch(r"[1-9][0-9]*m", heap)
        assert int(heap[:-1]) << 20 <= min(limit or total, total)
    monkeypatch.setattr(S, "_cgroup_memory_max", lambda: 3 << 30)
    assert S.default_driver_memory() == "1536m"


def test_no_pmr_temp_dir_outlives_the_process(tmp_path, sf_dir):
    """A process that takes a durable lineage cut and serves the streaming
    kNN query leaves no pmr_* entry in its temp dir once it exits (the kNN
    snapshot is a deliberate cross-run cache: it stays in this process's
    snapshot root, outside that temp dir)."""
    from parallel_mapreduce_spark.functions.similarity import _knn_snap_root

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = f"""
import parallel_mapreduce_spark.sources.tables as T
from parallel_mapreduce_spark.registry import QUERIES, _load_all
from parallel_mapreduce_spark.session import get_spark
_load_all()
spark = get_spark("temp-leak", cpus=2, shuffle_partitions=4)
T.LOCAL_CUT_MAX_BYTES = 0
T.cut(T.load_table(spark, {sf_dir!r}, "documents"), eager=False,
      sf_dir={sf_dir!r}, table="documents")
print(spark.sparkContext._jsc.sc().getCheckpointDir().get())
assert QUERIES["stream_ann_serve_topk"].fn(spark, {sf_dir!r}).count() > 0
"""
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_DRIVER_MEMORY": "1g"}
    env["SPARK_GRAFT_INDEX_DIR"] = _knn_snap_root()
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    ckpt = out.strip().splitlines()[-1].removeprefix("file:")
    assert Path(ckpt).is_relative_to(tmp)
    assert [p.name for p in tmp.iterdir() if p.name.startswith("pmr_")] == []
