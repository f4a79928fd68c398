"""Tests that the benchmark command leaves no process running.

Run from the repository root: ``python3 -m pytest perfbench/test_reap.py -q``
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# the supervised command starts a process, records its pid and exits at
# once, so the process is orphaned while it still sleeps
_ORPHANING = """
import subprocess, sys
orphan = subprocess.Popen([sys.executable, "-c", "import time; time.sleep({sleep})"])
open({pid_file!r}, "w").write(str(orphan.pid))
"""


def _supervise(tmp_path, sleep: float, grace: float) -> tuple:
    """Run the orphaning command under ``run.supervise`` in a fresh process
    (the subreaper setting is for life); return its pid and the seconds taken."""
    pid_file = str(tmp_path / "orphan.pid")
    command = [sys.executable, "-c", _ORPHANING.format(sleep=sleep, pid_file=pid_file)]
    supervisor = (f"import sys; sys.path.insert(0, {HERE!r}); import run; "
              f"run.REAP_GRACE_S = {grace}; sys.exit(run.supervise({command!r}))")
    t0 = time.monotonic()
    subprocess.run([sys.executable, "-c", supervisor], check=True, timeout=120)
    seconds = time.monotonic() - t0
    with open(pid_file) as f:
        return int(f.read()), seconds


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_orphan_is_waited_for(tmp_path):
    pid, seconds = _supervise(tmp_path, sleep=2, grace=60)
    assert not _running(pid)
    assert seconds >= 2


def test_orphan_past_the_grace_is_killed(tmp_path):
    pid, seconds = _supervise(tmp_path, sleep=600, grace=0.5)
    assert not _running(pid)
    assert seconds < 60
