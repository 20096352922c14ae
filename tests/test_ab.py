"""bench/ab.py driven against a fake perfbench/run.py in a throwaway git
repository: alternation, seeds and run length, per-pair ratios, medians,
wins, the base's IQR and the claim verdicts."""

from __future__ import annotations

import importlib.util
import json
import subprocess
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# prints a run.py-shaped result whose wall_s is speed.txt's value scaled
# by the seed, and logs which checkout ran which seed
FAKE_RUN = '''
import argparse, json, pathlib
ap = argparse.ArgumentParser()
for a in ("--workload", "--seed", "--seconds", "--trace"):
    ap.add_argument(a)
args = ap.parse_args()
here = pathlib.Path.cwd()
speed = float((here / "speed.txt").read_text())
seed = int(args.seed)
with open(LOG, "a") as f:
    side = (here / "side.txt").read_text().strip()
    f.write(f"{side} {seed} {args.seconds}\\n")
wall = speed * (1 + seed % 3 / 100)
m = {"setup_s": 10.0, "wall_s": wall, "rows_per_s": 1000 / max(wall, 1e-9),
     "cpu_s": 3 * wall, "peak_rss_mb": 100.0}
print("noise line")
print(json.dumps({"correct": speed > 0, "attempted": 5, "failed": 0,
                  "metrics": {k: {"value": v, "unit": "u"} for k, v in m.items()}}))
'''


def _load_ab():
    spec = importlib.util.spec_from_file_location("bench_ab", ROOT / "bench" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def fake_repo(tmp_path):
    repo = tmp_path / "repo"
    (repo / "perfbench").mkdir(parents=True)
    log = tmp_path / "runs.log"
    (repo / "perfbench" / "run.py").write_text(f"LOG = {str(log)!r}\n" + FAKE_RUN)
    (repo / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    (repo / "speed.txt").write_text("10\n")
    (repo / "side.txt").write_text("base\n")

    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=repo, check=True, capture_output=True)

    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "base")
    (repo / "side.txt").write_text("change\n")
    return repo, log


def _run(repo, capsys, *argv):
    assert _load_ab().main(["--base", "HEAD", "--workload", "curate_corpus",
                            *argv], root=repo) == 0
    return capsys.readouterr().out


def test_ab_reports_pairs(fake_repo, capsys):
    repo, log = fake_repo
    (repo / "speed.txt").write_text("8\n")
    out = _run(repo, capsys, "--pairs", "3")
    # alternating order, seed 951 + i on both sides of pair i, every
    # launch as long as BENCHMARK.json's run_seconds
    assert log.read_text().split("\n")[:-1] == [
        "base 951 14", "change 951 14", "change 952 14", "base 952 14",
        "base 953 14", "change 953 14"]
    assert out.count("pair ") == 3
    assert "pair 2 seed 952 (change first): setup_s 1.000 wall_s 0.800" in out
    # wall_s base runs 10.0, 10.1, 10.2: median 10.1, IQR 0.2 by the
    # exclusive-quartile method; three pairs are too few for a claim
    assert ("wall_s: base median 10.1 (IQR 0.2), change median 8.08, "
            "ratio median 0.800, change wins 3/3, no claim") in out
    assert "rows_per_s: base median 99.01" in out
    assert "setup_s: base median 10 (IQR 0), change median 10, ratio median " \
           "1.000, change wins 0/3, no claim" in out
    # the base's committed files were extracted once, under .perfbench/
    (base,) = (repo / ".perfbench").glob("ab-*")
    assert (base / "side.txt").read_text() == "base\n"


def test_ab_deletes_other_base_checkouts(fake_repo, capsys):
    """Only the checkout of --base is kept under .perfbench/; the shared
    inputs cache stays."""
    repo, _ = fake_repo
    for name in ("ab-0123456789ab", "ab-ba9876543210", "inputs"):
        (repo / ".perfbench" / name).mkdir(parents=True)
        (repo / ".perfbench" / name / "f").write_text("x\n")
    sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, check=True,
                         capture_output=True, text=True).stdout.strip()
    _run(repo, capsys, "--pairs", "1")
    assert sorted(p.name for p in (repo / ".perfbench").iterdir()) == [
        f"ab-{sha[:12]}", "inputs"]
    assert (repo / ".perfbench" / "inputs" / "f").exists()
    # a second run against the same base reuses its checkout
    (repo / ".perfbench" / f"ab-{sha[:12]}" / "kept").write_text("x\n")
    _run(repo, capsys, "--pairs", "1")
    assert (repo / ".perfbench" / f"ab-{sha[:12]}" / "kept").exists()


def test_ab_claim_needs_ten_pairs(fake_repo, capsys):
    repo, _ = fake_repo
    (repo / "speed.txt").write_text("8\n")
    out = _run(repo, capsys, "--pairs", "10")
    assert out.count("pair ") == 10
    assert ("wall_s: base median 10.1 (IQR 0.2), change median 8.08, "
            "ratio median 0.800, change wins 10/10, claim holds") in out
    assert "change wins 10/10, claim holds" in \
        next(ln for ln in out.splitlines() if ln.startswith("rows_per_s:"))
    assert "change wins 0/10, no claim" in \
        next(ln for ln in out.splitlines() if ln.startswith("setup_s:"))


def test_ab_no_claim_within_noise(fake_repo, capsys):
    repo, _ = fake_repo
    (repo / "speed.txt").write_text("9.99\n")
    out = _run(repo, capsys, "--pairs", "10")
    # wins every pair, but by less than the base's IQR
    assert ("wall_s: base median 10.1 (IQR 0.2), change median 10.09, "
            "ratio median 0.999, change wins 10/10, no claim") in out


def test_ab_stops_on_an_incorrect_run(fake_repo, capsys):
    repo, _ = fake_repo
    (repo / "speed.txt").write_text("0\n")
    with pytest.raises(RuntimeError, match="not correct"):
        _run(repo, capsys, "--pairs", "1")


def test_ab_summary_directions():
    ab = _load_ab()
    pairs = [({"t": 10.0, "r": 5.0}, {"t": 9.0, "r": 6.0}),
             ({"t": 10.0, "r": 5.0}, {"t": 10.0, "r": 4.0})]
    s = ab.summarize(pairs, {"t": "lower", "r": "higher"})
    assert (s["t"]["wins"], s["r"]["wins"]) == (1, 1)  # a tie counts for neither
    assert s["t"]["ratio_median"] == pytest.approx(0.95)
    assert not s["t"]["claim"]
    assert json.dumps(s)  # plain data
    # a clear win on every pair needs MIN_CLAIM_PAIRS pairs to claim
    win = ({"t": 10.0}, {"t": 5.0})
    assert not ab.summarize([win] * 9, {"t": "lower"})["t"]["claim"]
    assert ab.summarize([win] * 10, {"t": "lower"})["t"]["claim"]


# canned formatted-plan fragments: (base, change, identical after
# normalize_plan)
PLAN_CASES = {
    "expression_ids_shifted": (
        "Output [2]: [url#12, warc_ts#13]\nInput [1]: [url#12]\n",
        "Output [2]: [url#40, warc_ts#41]\nInput [1]: [url#40]\n", True),
    "long_suffix_kept": (
        "Output [1]: [doc_id#563L]\n", "Output [1]: [doc_id#564L]\n", True),
    # blanking the ids would hide that the join now reads one attribute
    # on both sides
    "shared_id_is_structure": (
        "Left keys [1]: [doc_id#5L]\nRight keys [1]: [doc_id#9L]\n",
        "Left keys [1]: [doc_id#5L]\nRight keys [1]: [doc_id#5L]\n", False),
    "plan_ids_shifted": (
        "Arguments: hashpartitioning(doc_id#3L, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=1294]\n",
        "Arguments: hashpartitioning(doc_id#7L, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=1290]\n", True),
    "rdd_ids_shifted": (
        "Arguments: [node#1L], MapPartitionsRDD[57] at checkpoint\n",
        "Arguments: [node#2L], MapPartitionsRDD[61] at checkpoint\n", True),
    "lambda_names_shifted": (
        "Condition : transform(array(x#2), lambdafunction(lambda x_5#3.t, "
        "lambda x_5#3, false))\n",
        "Condition : transform(array(x#2), lambdafunction(lambda x_8#3.t, "
        "lambda x_8#3, false))\n", True),
    "lambda_names_distinct": (
        "lambdafunction(lambda x_5#3, lambda x_5#3, false)\n",
        "lambdafunction(lambda x_5#3, lambda x_6#3, false)\n", False),
    "partition_count_literal": (
        "Arguments: hashpartitioning(doc_id#3L, 8), ENSURE_REQUIREMENTS\n",
        "Arguments: hashpartitioning(doc_id#3L, 16), ENSURE_REQUIREMENTS\n",
        False),
    "operator_numbers_kept": (
        "+- Exchange (5)\n   +- * HashAggregate (4)\n",
        "+- Exchange (6)\n   +- * HashAggregate (5)\n", False),
    "codegen_ids_kept": (
        "(3) Project [codegen id : 1]\n", "(3) Project [codegen id : 2]\n",
        False),
}


@pytest.mark.parametrize("case", PLAN_CASES)
def test_normalize_plan(case):
    ab = _load_ab()
    base, change, same = PLAN_CASES[case]
    assert (ab.normalize_plan(base) == ab.normalize_plan(change)) is same


def test_normalize_plan_numbers_by_first_appearance():
    ab = _load_ab()
    text = ("Output [2]: [url#12, lang#4]\nInput [1]: [lang#4]\n"
            "Arguments: [plan_id=99], [plan_id=7], MapPartitionsRDD[12]\n")
    assert ab.normalize_plan(text) == (
        "Output [2]: [url#1, lang#2]\nInput [1]: [lang#2]\n"
        "Arguments: [plan_id=1], [plan_id=2], MapPartitionsRDD[1]\n")


def test_split_plans_drops_log_noise():
    ab = _load_ab()
    out = ("WARN NativeCodeLoader: no native library\n"
           "@@plan extract\n== Physical Plan ==\n* Project (1)\n\n"
           "@@plan kept_documents\n== Physical Plan ==\nExchange (2)\n")
    assert ab.split_plans(out) == {
        "extract": "== Physical Plan ==\n* Project (1)\n\n",
        "kept_documents": "== Physical Plan ==\nExchange (2)\n"}


def test_diff_plans_names_the_changed_plan():
    ab = _load_ab()
    base = {name: f"== Physical Plan ==\nScan parquet (1)\nOutput: [x#{i}]\n"
            for i, name in enumerate(ab.PLANS)}
    change = {name: text.replace("#", "#10") for name, text in base.items()}
    change["kept_documents"] += "Exchange (2)\n"
    diffs = ab.diff_plans(base, change)
    assert list(diffs) == list(ab.PLANS)
    assert diffs["extract"] == [] and diffs["curated_corpus"] == []
    assert "+Exchange (2)" in diffs["kept_documents"]
    assert "--- base/kept_documents" in diffs["kept_documents"]


def test_plan_dumper_builds_every_plan():
    """The dumper sent to both checkouts is valid Python that prints every
    plan of PLANS under its marker."""
    import ast

    ab = _load_ab()
    ast.parse(ab.PLAN_DUMPER)
    ast.parse(ab.PLAN_INPUTS)
    for name in ab.PLANS:
        assert f'"{name}": lambda' in ab.PLAN_DUMPER


def test_timing_runs_need_workload_and_pairs(fake_repo, capsys):
    repo, log = fake_repo
    with pytest.raises(SystemExit) as exc:
        _load_ab().main(["--base", "HEAD", "--pairs", "1"], root=repo)
    assert exc.value.code == 2
    assert "--workload and --pairs are required" in capsys.readouterr().err
    assert not log.exists()
