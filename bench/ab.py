"""Alternating parent/change pairs of the repository benchmark.

    python3 bench/ab.py --base <rev> --workload curate_corpus --pairs 10
    python3 bench/ab.py --base <rev> --plans

Extracts the committed files of ``<rev>`` (``git archive``) under
``.perfbench/ab-<sha>/``, deleting the checkouts of other revisions, and
runs ``perfbench/run.py`` there and in this checkout, one launch per side
and pair, alternating which side runs first.
Every launch runs for ``BENCHMARK.json``'s ``run_seconds``; pair ``i`` runs
seed ``FIRST_SEED + i`` on both sides. Prints each pair's change/base ratio
of every end-to-end metric of ``BENCHMARK.json``, then per metric the two
medians, the median ratio, the change's wins (ties count for neither side),
the base's interquartile range and a verdict under the claim rule: at least
``MIN_CLAIM_PAIRS`` pairs, the change wins at least nine tenths of them, and
its median is better than the base's by more than the base's interquartile
range. A run that is not ``correct`` stops the comparison.

``--plans`` compares plans instead of timings: both sides print the
formatted physical plans of ``extract``, ``lsh_candidates``,
``kept_documents`` and ``curated_corpus`` over the same inputs (the
benchmark's seed-``FIRST_SEED`` crawl and curate inputs, generated by this
checkout), and the plans are diffed after expression, plan and RDD ids and
lambda variable names are renumbered by first appearance.
``lsh_candidates`` is printed on its own because the chain's plans cannot
show it: ``connected_components`` checkpoints the verified pairs while the
chain is built, so ``kept_documents`` and ``curated_corpus`` read those
pairs, not the LSH subtree. The plan dumper reaches the base over stdin,
so the base needs no copy of this script. Exits 1 when any plan differs.
"""

from __future__ import annotations

import argparse
import difflib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 600
FIRST_SEED = 951
MIN_CLAIM_PAIRS = 10
PLANS = ("extract", "lsh_candidates", "kept_documents", "curated_corpus")
PLAN_MARK = "@@plan "

# run as `python3 - <pages> <documents> <benchmark> <cores>` in a checkout:
# prints each plan of PLANS after a PLAN_MARK line
PLAN_DUMPER = f"""
import sys

from llmap_spark.operators.dedup import minhash_lsh_candidates
from llmap_spark.plans.pipeline import ExtractConfig, extract
from llmap_spark.plans.training import curated_corpus, kept_documents
from llmap_spark.session import get_spark, scan_conf_for

pages_dir, docs_dir, bench_dir, cores = sys.argv[1:]
spark = get_spark(app_name="ab-plans", cores=int(cores),
                  extra_conf=scan_conf_for(pages_dir, int(cores)))
pages = spark.read.parquet(pages_dir)
docs = spark.read.parquet(docs_dir)
bench = spark.read.parquet(bench_dir)
frames = {{
    "extract": lambda: extract(pages, ExtractConfig()),
    "lsh_candidates": lambda: minhash_lsh_candidates(docs),
    "kept_documents": lambda: kept_documents(docs),
    "curated_corpus": lambda: curated_corpus(docs, benchmark=bench),
}}
for name, build in frames.items():
    df = build()
    print({PLAN_MARK!r} + name)
    print(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"), flush=True)
spark.stop()
"""
# this checkout's generator writes the inputs both sides read
PLAN_INPUTS = f"""
import sys
from pathlib import Path

sys.path[:0] = [".", "perfbench"]
import gen

cache = Path(".perfbench", "inputs").resolve()
crawl = gen.generate("crawl_extract", {FIRST_SEED}, cache)
curate = gen.generate("curate_corpus", {FIRST_SEED}, cache)
print(crawl / "pages", curate / "documents", curate / "benchmark", sep="\\n")
"""
# the ids a plan draws from session-wide counters: group 1 is kept, group 2
# renumbered. PySpark names lambda variables from a process-wide counter,
# so a plan printed earlier in the dump shifts every later plan's names
_PLAN_IDS = (re.compile(r"(#)(\d+)"), re.compile(r"(plan_id=)(\d+)"),
             re.compile(r"(RDD\[)(\d+)"), re.compile(r"(lambda x_)(\d+)"))


def base_checkout(root: Path, rev: str) -> Path:
    """The committed files of ``rev`` under ``.perfbench/``, extracted once.
    The checkouts of every other revision are deleted first: each holds
    ~50 MB, most of it its own cache of the benchmark inputs."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=root, check=True, capture_output=True,
                         text=True).stdout.strip()
    dest = root / ".perfbench" / f"ab-{sha[:12]}"
    for stale in dest.parent.glob("ab-*"):
        if stale != dest:
            shutil.rmtree(stale)
    done = dest / ".extracted"
    if not done.exists():
        tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=root,
                             check=True, capture_output=True).stdout
        dest.mkdir(parents=True, exist_ok=True)
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(dest, filter="data")
        done.write_text(sha + "\n")
    return dest


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark launch; returns its metrics as {name: value}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"{checkout}: run.py exited {proc.returncode} "
                           f"with no result:\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res.get("correct"):
        raise RuntimeError(f"{checkout}: seed {seed} not correct: {lines[-1]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> dict:
    """Per metric: medians, median ratio, wins and the base's IQR."""
    out = {}
    for name, direction in better.items():
        base = [b[name] for b, _ in pairs]
        change = [c[name] for _, c in pairs]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
        b_med, c_med = statistics.median(base), statistics.median(change)
        out[name] = {
            "base_median": b_med, "change_median": c_med,
            "ratio_median": statistics.median(c / b for b, c in zip(base, change)),
            "wins": wins, "pairs": len(pairs), "base_iqr": iqr(base),
            "claim": (len(pairs) >= MIN_CLAIM_PAIRS
                      and wins >= 0.9 * len(pairs)
                      and sign * (b_med - c_med) > iqr(base)),
        }
    return out


def split_plans(text: str) -> dict[str, str]:
    """The dumper's output as {plan name: plan text}; lines before the
    first PLAN_MARK (log noise) are dropped."""
    plans: dict[str, str] = {}
    name = None
    for line in text.splitlines(keepends=True):
        if line.startswith(PLAN_MARK):
            name = line[len(PLAN_MARK):].strip()
            plans[name] = ""
        elif name is not None:
            plans[name] += line
    return plans


def normalize_plan(text: str) -> str:
    """Expression, plan and RDD ids and lambda variable names renumbered by
    first appearance, each kind on its own: the numbers differ between sessions, but which
    operators share an id is part of the plan. Operator numbers, codegen
    ids and literals are left alone."""
    for pattern in _PLAN_IDS:
        seen: dict[str, int] = {}
        text = pattern.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen) + 1)),
            text)
    return text


def diff_plans(base: dict[str, str], change: dict[str, str]) -> dict[str, list[str]]:
    """Per plan of PLANS, the unified diff of the normalized plans; an
    empty list means identical."""
    return {name: list(difflib.unified_diff(
        normalize_plan(base[name]).splitlines(),
        normalize_plan(change[name]).splitlines(),
        f"base/{name}", f"change/{name}", lineterm="")) for name in PLANS}


def dump_plans(checkout: Path, inputs: list[str], cores: int) -> dict[str, str]:
    proc = subprocess.run([sys.executable, "-", *inputs, str(cores)],
                          cwd=checkout, input=PLAN_DUMPER, capture_output=True,
                          text=True, timeout=RUN_TIMEOUT_S)
    plans = split_plans(proc.stdout)
    if proc.returncode or set(plans) != set(PLANS):
        raise RuntimeError(f"{checkout}: plan dump exited {proc.returncode} "
                           f"with plans {sorted(plans)}:\n{proc.stderr[-2000:]}")
    return plans


def compare_plans(root: Path, rev: str) -> int:
    inputs = subprocess.run([sys.executable, "-c", PLAN_INPUTS], cwd=root,
                            check=True, capture_output=True,
                            text=True).stdout.splitlines()
    cores = len(os.sched_getaffinity(0))
    base = dump_plans(base_checkout(root, rev), inputs, cores)
    change = dump_plans(root, inputs, cores)
    diffs = diff_plans(base, change)
    for name, lines in diffs.items():
        print(f"{name}: {'differs' if lines else 'identical'}")
        for line in lines:
            print(line)
    return 1 if any(diffs.values()) else 0


def main(argv=None, root: Path = ROOT) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--plans", action="store_true",
                    help="diff the physical plans instead of timing runs")
    args = ap.parse_args(argv)
    if args.plans:
        return compare_plans(root, args.base)
    if args.workload is None or args.pairs is None:
        ap.error("--workload and --pairs are required without --plans")

    declared = json.loads((root / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in declared["end_to_end"]}
    seconds = declared["run_seconds"]
    base = base_checkout(root, args.base)
    pairs = []
    for i in range(args.pairs):
        seed = FIRST_SEED + i
        order = [("base", base), ("change", root)]
        if i % 2:
            order.reverse()
        got = {side: run_once(path, args.workload, seed, seconds)
               for side, path in order}
        pairs.append((got["base"], got["change"]))
        ratios = " ".join(f"{k} {got['change'][k] / got['base'][k]:.3f}"
                          for k in better)
        print(f"pair {i + 1} seed {seed} ({order[0][0]} first): {ratios}",
              flush=True)
    for name, s in summarize(pairs, better).items():
        print(f"{name}: base median {s['base_median']:.4g} (IQR {s['base_iqr']:.3g}), "
              f"change median {s['change_median']:.4g}, ratio median "
              f"{s['ratio_median']:.3f}, change wins {s['wins']}/{s['pairs']}, "
              f"{'claim holds' if s['claim'] else 'no claim'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
