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
