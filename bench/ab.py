"""Alternating parent/change pairs of the repository benchmark.

    python3 bench/ab.py --base <rev> --workload curate_corpus --pairs 10

Extracts the committed files of ``<rev>`` (``git archive``) under
``.perfbench/ab-<sha>/`` and runs ``perfbench/run.py`` there and in this
checkout, one launch per side and pair, alternating which side runs first.
Every launch runs for ``BENCHMARK.json``'s ``run_seconds``; pair ``i`` runs
seed ``FIRST_SEED + i`` on both sides. Prints each pair's change/base ratio
of every end-to-end metric of ``BENCHMARK.json``, then per metric the two
medians, the median ratio, the change's wins (ties count for neither side),
the base's interquartile range and a verdict under the claim rule: at least
``MIN_CLAIM_PAIRS`` pairs, the change wins at least nine tenths of them, and
its median is better than the base's by more than the base's interquartile
range. A run that is not ``correct`` stops the comparison.
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 600
FIRST_SEED = 951
MIN_CLAIM_PAIRS = 10


def base_checkout(root: Path, rev: str) -> Path:
    """The committed files of ``rev`` under ``.perfbench/``, extracted once."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=root, check=True, capture_output=True,
                         text=True).stdout.strip()
    dest = root / ".perfbench" / f"ab-{sha[:12]}"
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


def main(argv=None, root: Path = ROOT) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args(argv)

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
