"""Scratch-space lifetime (session.scratch_dir): every directory the
engine writes for itself lives under one per-process root that its
process removes at exit, and a root whose process died before its exit
hook ran is removed by the next process's first scratch_dir call. Each
case runs in a child process with its own empty TMPDIR and starts no
Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, tmpdir) -> str:
    """Run `code` in a fresh interpreter with TMPDIR=`tmpdir`; return
    its stdout."""
    env = {**os.environ, "TMPDIR": str(tmpdir), "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    return out.stdout


def test_scratch_root_is_removed_at_normal_exit(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    written = _run(
        "import os\n"
        "from recipes_spark.session import scratch_dir\n"
        "path = os.path.join(scratch_dir('x'), 'f')\n"
        "open(path, 'w').write('data')\n"
        "print(path)\n",
        tmp,
    ).strip()
    assert written.startswith(str(tmp) + os.sep), written
    assert os.listdir(tmp) == []


def test_first_scratch_dir_reaps_only_dead_roots(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    exited = subprocess.Popen([sys.executable, "-c", "pass"])
    exited.wait()
    dead = tmp / f"recipes_scratch_{exited.pid}_abc"
    live = tmp / f"recipes_scratch_{os.getpid()}_abc"
    for root in (dead, live):
        root.mkdir()
        (root / "f").write_text("data")
    _run("from recipes_spark.session import scratch_dir; scratch_dir('x')", tmp)
    assert os.listdir(tmp) == [live.name]
    assert (live / "f").read_text() == "data"
