"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 14 --trace 0

Workloads (batch jobs in a closed loop: one job at a time, one client):
  crawl_extract        fresh crawl segment -> sources.snapshot.run_extract_job
                       (default ExtractConfig: fused, map-only) into an empty
                       output root; kernel and Arrow adapter dominate.
  crawl_resume_skewed  recrawl onto a root restored (untimed) to a committed
                       snapshot holding 90% of the urls, input skewed onto
                       the hot hosts, salted url-hash repartition; resume
                       anti-join, shuffle and commit dominate.
  curate_corpus        plans.training.curated_corpus written to parquet;
                       operators and shuffle stages only, no kernel.

Inputs are generated from ``--seed`` (perfbench/gen.py) and cached under
``.perfbench/inputs``. Every launch is its own ``taskset``-pinned
``spark-submit --py-files`` process on all cores this process may use.
``--trace 0`` makes one launch and prints the end-to-end metrics: its
set-up time and medians over its timed runs. ``--trace 1`` makes one launch
with Spark's event log on: warm runs, then the per-layer probes with an
untraced reference run next to each traced one, and prints the per-layer
metrics. Metric names and units are those of BENCHMARK.json. Every run's
output is checked; any failure makes the result ``correct: false`` and the
exit code 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("crawl_extract", "crawl_resume_skewed", "curate_corpus")
ROWS_NAME = {"crawl_extract": "pages_per_s", "crawl_resume_skewed": "pages_per_s",
             "curate_corpus": "docs_per_s"}
DEADLINE_S = 170       # whole invocation, generation included
DRIVER_MEMORY_MAX_MB = 2048


def driver_memory_mb() -> int:
    """Half of physical memory, at most 2 GiB: the program's own default
    (16g) asks for more than a small box has."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return min(DRIVER_MEMORY_MAX_MB, total_kb // 2048)


class Launcher:
    """Runs perfbench/job.py under spark-submit, pinned to this process's
    cores, with every file it writes kept under ``work``."""

    def __init__(self, work: Path, deadline: float):
        # bench/ is not a package (bench.py shadows the name): load by path
        loader = importlib.util.spec_from_file_location(
            "bench_scaling", ROOT / "bench" / "scaling.py")
        scaling = importlib.util.module_from_spec(loader)
        loader.loader.exec_module(scaling)

        self.work = work
        self.deadline = deadline
        self.cpus = sorted(os.sched_getaffinity(0))
        self.zip = scaling.make_engine_zip(work)
        self.submit = scaling.spark_submit_bin()
        self.env = {**os.environ,
                    "TMPDIR": str(work / "tmp"),
                    "SPARK_LOCAL_DIRS": str(work / "spark-local"),
                    # spark-submit's own launcher JVM: no file in /tmp either
                    "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
                    "PYTHONDONTWRITEBYTECODE": "1"}
        for d in ("tmp", "spark-local"):
            (work / d).mkdir(parents=True, exist_ok=True)
        self.n = 0

    @property
    def cores(self) -> int:
        return len(self.cpus)

    def launch(self, spec: dict, conf: dict | None = None) -> dict:
        self.n += 1
        spec_path = self.work / f"spec-{self.n}.json"
        err_path = self.work / f"launch-{self.n}.err"
        cmd = ["taskset", "-c", ",".join(map(str, self.cpus)),
               self.submit, "--master", f"local[{self.cores}]",
               "--driver-memory", f"{driver_memory_mb()}m",
               # no hsperfdata file: it would go to /tmp whatever
               # java.io.tmpdir says. -Xms: a heap that grows at G1's pace
               # made peak RSS differ by a third between launches
               "--driver-java-options",
               f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:+PerfDisableSharedMem"
               f" -Xms{driver_memory_mb()}m",
               "--conf", f"spark.sql.warehouse.dir={self.work / 'warehouse'}"]
        for k, v in (conf or {}).items():
            cmd += ["--conf", f"{k}={v}"]
        cmd += ["--py-files", str(self.zip), str(HERE / "job.py"), str(spec_path)]
        spec = {**spec, "cores": self.cores, "launch_ts": time.time()}
        spec_path.write_text(json.dumps(spec))
        out_path = self.work / f"launch-{self.n}.out"
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_session(cmd, self.deadline, stdout=out, stderr=err,
                               cwd=self.work, env=self.env)
        lines = [ln for ln in out_path.read_text().splitlines() if ln.startswith("{")]
        if code != 0 or not lines:
            tail = err_path.read_text()[-3000:]
            raise RuntimeError(f"launch {self.n} exited {code}:\n{tail}")
        return json.loads(lines[-1])


def run_session(cmd: list[str], deadline: float, **popen) -> int:
    """Runs ``cmd`` in a session of its own until it exits or ``deadline``
    passes, then stops every process left in that session and returns the
    exit code. Output goes to files, not pipes: a process left behind could
    hold a pipe open."""
    import procfs

    proc = subprocess.Popen(cmd, start_new_session=True, **popen)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"passed the deadline running {cmd[-1]}") from None
    finally:
        procfs.end_session(proc)
    return proc.returncode


def prepare_inputs(workload: str, seed: int, cache: Path, workers: int,
                   deadline: float) -> Path:
    """Generated inputs plus, for the crawl workloads, the oracle's
    extraction of them; both cached by workload, seed and generator
    version. The oracle runs in a process session of its own, so that its
    worker pool's helper processes are stopped with it."""
    import gen

    inputs = gen.generate(workload, seed, cache)
    oracle = inputs / "oracle.parquet"
    if workload != "curate_corpus" and not oracle.exists():
        tmp = inputs / f".oracle-{os.getpid()}.parquet"
        code = run_session([sys.executable, str(HERE / "check.py"),
                            str(inputs / "pages"), str(tmp), str(workers)],
                           deadline, cwd=ROOT, stdout=subprocess.DEVNULL)
        if code != 0:
            raise RuntimeError(f"the oracle exited {code}")
        os.replace(tmp, oracle)
    return inputs


def untraced(launcher: Launcher, spec: dict, seconds: float,
             rows: int) -> tuple[dict, list[dict]]:
    res = launcher.launch({**spec, "mode": "measure", "seconds": seconds})
    timed = [r for r in res["runs"] if not r["warm"]]
    wall = statistics.median(r["wall_s"] for r in timed)
    metrics = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(r["cpu_s"] for r in timed),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in timed),
    }
    w = spec["workload"]
    print(f"{w} timed runs: wall_s " + " ".join(f"{r['wall_s']:.3f}" for r in timed))
    print(f"{w} launch: workload ready at {res['ready_s']:.1f} s, runs done at "
          f"{res['runs_done_s']:.1f} s, of which checks "
          f"{sum(r['check_s'] for r in res['runs']):.1f} s")
    return metrics, res["runs"]


def traced(launcher: Launcher, spec: dict,
           names: list[str]) -> tuple[dict, list[dict], dict]:
    import eventlog
    import layers

    logs = launcher.work / "eventlog"
    logs.mkdir()
    spans_out = ROOT / ".perfbench" / f"spans-{spec['workload']}-s{spec['seed']}.jsonl"
    res = launcher.launch({**spec, "mode": "trace", "spans_out": str(spans_out)},
                          conf={"spark.eventLog.enabled": "true",
                                "spark.eventLog.dir": logs.as_uri(),
                                # one plain JSON file: the parser is stdlib
                                "spark.eventLog.compress": "false",
                                "spark.eventLog.rolling.enabled": "false"})
    metrics = layers.per_layer(spec["workload"], res,
                               eventlog.read_events(logs), launcher.cores, names)
    probes = {k: res["layers"][k] for k in ("failed", "attempted")}
    return metrics, res["runs"], probes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    # a terminated run still stops its launch's process group (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    needed = [ROOT / "llmap_spark", ROOT / "bench" / "scaling.py",
              ROOT / "BENCHMARK.json"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        print(f"perfbench: no program to measure, missing {missing}", file=sys.stderr)
        return 2
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    sys.path[:0] = [str(ROOT), str(HERE)]

    state = ROOT / ".perfbench"
    work = state / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        cores = len(os.sched_getaffinity(0))
        inputs = prepare_inputs(args.workload, args.seed, state / "inputs", cores,
                                deadline)
        rows = json.loads((inputs / "meta.json").read_text())["rows"]
        launcher = Launcher(work, deadline)
        spec = {"workload": args.workload, "seed": args.seed,
                "inputs": str(inputs), "oracle": str(inputs / "oracle.parquet"),
                "work": str(work)}
        probes = {"failed": 0, "attempted": 0}
        if args.trace:
            metrics, runs, probes = traced(launcher, spec, list(units))
        else:
            metrics, runs = untraced(launcher, spec, args.seconds, rows)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if metrics.keys() != units.keys():
        print(f"perfbench: metrics {sorted(metrics.keys() ^ units.keys())} "
              "differ from BENCHMARK.json", file=sys.stderr)
        return 2

    failed = sum(r["failed"] for r in runs) + probes["failed"]
    attempted = sum(r["attempted"] for r in runs) + probes["attempted"]
    w = args.workload
    for name, value in metrics.items():
        shown = ROWS_NAME[w] if name == "rows_per_s" else name
        print(f"{w} {shown} {value:.6g} {units[name]}")
    print(f"{w} failed_frac {failed / attempted:.6g} frac "
          f"({failed} failed of {attempted} rows attempted, {len(runs)} runs)")
    for r in runs:
        if r["failed"]:
            print(f"failed run: {json.dumps(r['detail'])[:2000]}", file=sys.stderr)
    if probes["failed"]:
        print(f"perfbench: traced probes failed {probes['failed']} rows", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
