"""Determinism under failure: a retried task and a killed-then-resumed run
commit the same rows as a run with no faults.

Both tests launch their own Spark driver in a subprocess: the retry test
needs a `local[N,F]` master that allows task retries, and the kill test
needs a process it can SIGKILL. The shared session fixture can do neither.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from llmap_spark.sources import snapshot as snap

ROOT = Path(__file__).resolve().parent.parent
SF_SMOKE = "/root/testdata/sf0.001"
# small subprocess drivers next to the shared test session
ENV = {**os.environ, "PYTHONPATH": str(ROOT), "LLMAP_DRIVER_MEM": "1g"}


@pytest.fixture(scope="module")
def retry_runs(pages_smoke, tmp_path_factory):
    work = tmp_path_factory.mktemp("retry")
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tests" / "retry_driver.py"),
         pages_smoke, SF_SMOKE, str(work)],
        cwd=ROOT, env=ENV, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("job", ["run_extract_job", "kept_documents"])
def test_task_retry_is_deterministic(retry_runs, job):
    """Attempt 0 of every even partition fails and is retried; the output
    must not tell. Extraction compares committed rows and lineage,
    curation the kept ids."""
    clean, faults = retry_runs["clean"], retry_runs["faults"]
    assert clean["fired"] == []
    if job == "run_extract_job":
        assert "pages" in faults["fired"]
        assert faults["n_rows"] == clean["n_rows"] > 0
        assert faults["data"] == clean["data"]
        assert faults["lineage"] == clean["lineage"]
    else:
        assert {"docs", "signatures"} <= set(faults["fired"])
        assert faults["kept"] == clean["kept"] != []


def _run_extract(pages: str, out: str, **kwargs):
    return subprocess.Popen(
        [sys.executable, "-m", "llmap_spark.run_extract", "--input", pages,
         "--output", out, "--cores", "2"],
        cwd=ROOT, env=ENV, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        **kwargs)


def test_sigkill_mid_write_then_resume_is_exactly_once(spark, pages_smoke,
                                                       tmp_path):
    """SIGKILL the whole run_extract process group while its data write is
    in flight, then rerun it: the snapshot commits every url exactly once.
    A manifest renamed before the data write would already name the
    half-written snapshot at the moment of the kill."""
    out = str(tmp_path / "out")
    data = Path(out) / "data" / "snap-000001"
    proc = _run_extract(pages_smoke, out, start_new_session=True)
    deadline = time.monotonic() + 300
    while not (data / "_temporary").exists():
        assert proc.poll() is None, "run_extract ended before its write"
        assert time.monotonic() < deadline, "the data write never started"
        time.sleep(0.01)
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait(timeout=60)
    assert snap.committed_snapshots(out) == []
    assert not (data / "_SUCCESS").exists()

    resumed = _run_extract(pages_smoke, out)
    stdout, stderr = resumed.communicate(timeout=600)
    assert resumed.returncode == 0, stderr.decode()[-3000:]
    assert json.loads(stdout.decode().splitlines()[-1])["status"] == "committed"
    want = spark.read.parquet(pages_smoke)
    got = snap.read_extracted(spark, out)
    assert [s.snapshot_id for s in snap.committed_snapshots(out)] == [1]
    assert got.count() == want.count()
    assert (sorted(r.url for r in got.select("url").collect())
            == sorted(r.url for r in want.select("url").collect()))
