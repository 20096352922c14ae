"""end_session stops every process a launch leaves behind, including one
that moved to a process group of its own and outlived its parent."""

import subprocess
import sys
import time

import procfs
from run import run_session

# forks a child that leaves the group (as PySpark's worker daemon does) and
# sleeps; the parent prints the child's pid and exits at once
ORPHAN = """
import os, sys, time
pid = os.fork()
if pid == 0:
    os.setpgid(0, 0)
    time.sleep(60)
    os._exit(0)
print(pid, flush=True)
"""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_end_session_kills_an_escaped_grandchild():
    proc = subprocess.Popen([sys.executable, "-c", ORPHAN], stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    child = int(proc.stdout.readline())
    proc.stdout.close()
    proc.wait()
    assert _alive(child) and procfs.session_pids(proc.pid) == [child]
    procfs.end_session(proc)
    assert not _alive(child)
    assert procfs.session_pids(proc.pid) == []


def test_run_session_returns_and_leaves_nothing(tmp_path):
    out = tmp_path / "out"
    with open(out, "w") as f:
        t0 = time.time()
        code = run_session([sys.executable, "-c", ORPHAN], t0 + 30, stdout=f)
    assert code == 0 and time.time() - t0 < 10
    assert not _alive(int(out.read_text()))

