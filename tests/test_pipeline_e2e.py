"""E2E: Spark pipeline output is byte-identical to the single-process oracle
on the synthetic corpus (BASELINE.json north_rule invariant), and the
physical knobs (salting, repartition, parallelism) never change results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llmap_spark import oracle
from llmap_spark.plans.pipeline import ExtractConfig, extract


@pytest.fixture(scope="module")
def oracle_rows(pages_smoke):
    t = oracle.extract_parquet(pages_smoke)
    return {u: (txt, st, tuple((s["start"], s["end"]) for s in spans))
            for u, txt, st, spans in zip(
                t.column("url").to_pylist(),
                t.column("extracted_text").to_pylist(),
                t.column("status").to_pylist(),
                t.column("spans").to_pylist())}


def _run(spark, pages_smoke, cfg) -> dict:
    df = spark.read.parquet(pages_smoke)
    ex = extract(df, cfg)
    rows = ex.select("url", "extracted_text", "status", "spans").collect()
    return {r.url: (r.extracted_text, r.status,
                    tuple((s.start, s.end) for s in r.spans)) for r in rows}


def _assert_identical(got: dict, want: dict):
    assert set(got) == set(want)  # no missing, no duplicate urls
    for u in want:
        assert got[u][0] == want[u][0], f"extracted_text mismatch for {u}"
        assert got[u][1] == want[u][1], f"status mismatch for {u}"
        assert got[u][2] == want[u][2], f"spans mismatch for {u}"


def test_fused_matches_oracle(spark, pages_smoke, oracle_rows):
    got = _run(spark, pages_smoke, ExtractConfig())
    _assert_identical(got, oracle_rows)


def test_salting_is_physical_only(spark, pages_smoke, oracle_rows):
    """Salted repartition balances partitions but cannot change results
    (SURVEY §4.3 claim, proven)."""
    got = _run(spark, pages_smoke, ExtractConfig(repartition=16, n_salts=8))
    _assert_identical(got, oracle_rows)
    got1 = _run(spark, pages_smoke, ExtractConfig(repartition=1, n_salts=1))
    _assert_identical(got1, oracle_rows)


def test_funnel_short_circuit(spark, pages_smoke):
    """Pages with zero candidate blocks bypass refine; they still appear in
    the output with kept=0 (reference passthrough, llmap.py:240-241)."""
    df = spark.read.parquet(pages_smoke)
    ex = extract(df, ExtractConfig()).cache()
    try:
        total = ex.count()
        assert total == df.count()
        skipped = ex.filter((F.col("n_blocks_kept") == 0)
                            & (F.col("extracted_text") == "")).count()
        assert skipped > 0  # all-links/ws_only/empty edge pages exist
        empty = ex.filter(F.col("status") == "empty").count()
        assert empty > 0
    finally:
        ex.unpersist()


def test_ops_columns_and_lineage_consistency(spark, pages_smoke):
    from llmap_spark.plans.pipeline import lineage_from

    ex = extract(spark.read.parquet(pages_smoke), ExtractConfig()).cache()
    try:
        lin = lineage_from(ex, snapshot_id=1, started_at="2025-01-01 00:00:00",
                           finished_at="2025-01-01 00:00:01")
        agg = lin.agg(F.sum("n_rows").alias("n"), F.sum("n_ok").alias("ok"),
                      F.sum("n_err").alias("err"),
                      F.sum("n_empty").alias("empty")).collect()[0]
        assert agg.n == ex.count()
        # exact partition of the statuses: every row is ok, err, or empty
        assert agg.ok + agg.err + agg.empty == agg.n
        assert agg.empty > 0  # the smoke corpus plants empty pages
        assert lin.filter(F.col("kernel_version").isNull()).count() == 0
    finally:
        ex.unpersist()


# the kernel's page statuses -> the one lineage counter each lands in
LINEAGE_BUCKET = {"ok": "n_ok", "no_body": "n_ok", "truncated": "n_ok",
                  "decode_replaced": "n_ok", "parse_error": "n_err",
                  "empty": "n_empty"}


def test_lineage_buckets_name_every_kernel_status():
    import inspect
    import re

    from llmap_spark import kernel

    src = inspect.getsource(kernel.page_status)
    assert set(re.findall(r'return "(\w+)"', src)) == set(LINEAGE_BUCKET)


@pytest.fixture(scope="module")
def lineage_by_status(spark):
    from llmap_spark.plans.pipeline import lineage_from

    # one partition per status, so each lineage row counts exactly one
    ex = spark.createDataFrame(
        [(i, 0, st, 10, 5) for i, st in enumerate(LINEAGE_BUCKET)],
        "partition_id int, salt_bucket int, status string, "
        "bytes_in long, bytes_out long")
    rows = lineage_from(ex, snapshot_id=1, started_at="2025-01-01 00:00:00",
                        finished_at="2025-01-01 00:00:01").collect()
    names = list(LINEAGE_BUCKET)
    return {names[r.partition_id]: r for r in rows}


@pytest.mark.parametrize("status", LINEAGE_BUCKET)
def test_lineage_counts_each_status_once(lineage_by_status, status):
    r = lineage_by_status[status]
    counts = {c: r[c] for c in ("n_ok", "n_err", "n_empty")}
    want = {c: int(c == LINEAGE_BUCKET[status]) for c in counts}
    assert r.n_rows == 1 and counts == want


def test_input_order_invariance(spark, pages_smoke, oracle_rows):
    """Shuffled input order -> identical per-url output (reference
    determinism discipline, llmap.py:209-213)."""
    df = spark.read.parquet(pages_smoke).orderBy(F.reverse(F.col("url")))
    ex = extract(df, ExtractConfig())
    got = {r.url: (r.extracted_text, r.status, tuple((s.start, s.end) for s in r.spans))
           for r in ex.select("url", "extracted_text", "status", "spans").collect()}
    _assert_identical(got, oracle_rows)


# url -> host_of(url): the host key the hot-host salt matches on
HOST_OF = {
    "query_no_slash": ("http://example.com?x=1", "example.com"),
    "fragment_no_slash": ("http://example.com#top", "example.com"),
    "query_after_path": ("http://example.com/a?x=1", "example.com"),
    "bare_host": ("https://example.com", "example.com"),
    "upper_scheme_mixed_host": ("HTTPS://Example.COM/a", "example.com"),
    "mixed_scheme": ("Http://News.Example.com/", "news.example.com"),
    "port_kept": ("http://example.com:8080/a", "example.com:8080"),
    "ipv4_with_port": ("http://10.0.0.1:80?q", "10.0.0.1:80"),
    "path_relative": ("/a/b?x=1", ""),
    "protocol_relative": ("//example.com/a", ""),
    "ftp": ("ftp://example.com/a", ""),
    "leading_blank": (" http://example.com/", ""),
    "empty": ("", ""),
    "null": (None, None),
}


@pytest.fixture(scope="module")
def host_of_rows(spark):
    from llmap_spark.plans.pipeline import host_of

    df = spark.createDataFrame([(k, u) for k, (u, _) in HOST_OF.items()],
                               "k string, url string")
    return {r.k: r.h for r in
            df.select("k", host_of(F.col("url")).alias("h")).collect()}


@pytest.mark.parametrize("case", HOST_OF)
def test_host_of(host_of_rows, case):
    assert host_of_rows[case] == HOST_OF[case][1]


N_SALTS = 1000
# url -> whether _with_salt routes it through the salt (hot.example is hot)
SALT_ROUTING = {
    "upper_scheme_and_host": ("HTTP://HOT.example", True),
    "query_no_slash": ("http://hot.example?x", True),
    "trailing_slash": ("https://hot.example/", True),
    "cold_host": ("http://cold.example/", False),
    "hot_host_with_port": ("http://hot.example:80/", False),
}


@pytest.fixture(scope="module")
def salted_rows(spark):
    from llmap_spark.plans.pipeline import _with_salt

    df = spark.createDataFrame([(k, u) for k, (u, _) in SALT_ROUTING.items()],
                               "k string, url string")
    cfg = ExtractConfig(n_salts=N_SALTS, hot_hosts=("hot.example",))
    hashed = F.pmod(F.xxhash64("url", F.lit("salt")), F.lit(N_SALTS))
    return {r.k: (r.salt_bucket, r.hashed) for r in
            _with_salt(df, cfg).withColumn("hashed", hashed).collect()}


@pytest.mark.parametrize("case", SALT_ROUTING)
def test_with_salt_routes_hot_hosts(salted_rows, case):
    salt, hashed = salted_rows[case]
    assert hashed != 0  # so a salted row and an unsalted one differ
    assert salt == (hashed if SALT_ROUTING[case][1] else 0)
    assert 0 <= salt < N_SALTS


def test_run_curate_cli(spark, tmp_path):
    """The curation spark-submit main end-to-end: writes the kept list and
    reports consistent counts (reuses the test session via getOrCreate)."""
    import json

    from llmap_spark import run_curate

    out = str(tmp_path / "kept")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_curate.main(["--input", "/root/testdata/sf0.001/documents.parquet",
                              "--output", out, "--cores", "8"])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["input_rows"] == 500
    assert summary["kept_rows"] == spark.read.parquet(out).count()
    assert summary["kept_rows"] + summary["dropped_rows"] == 500
    assert 0 < summary["kept_rows"] < 500


def test_run_curate_cli_emit_corpus(spark, tmp_path):
    """--emit corpus writes the scrubbed training-ready text: same keep-set
    ids as the keep-list mode, text + scrub-stat columns attached."""
    import io
    import json
    from contextlib import redirect_stdout

    from llmap_spark import run_curate

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_curate.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out, "--cores", "8", "--emit", "corpus"])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    got = spark.read.parquet(out)
    assert summary["kept_rows"] == got.count() > 0
    assert {"doc_id", "text", "n_paras", "n_paras_kept", "n_emails",
            "n_ipv4", "n_phones"} == set(got.columns)


def test_run_curate_cli_benchmark_drops_contaminated(spark, tmp_path):
    """--emit corpus --benchmark: the document whose text is the
    benchmark is decontaminated away and counted in dropped_rows; three
    distinct documents that each pass the quality gate, so nothing else
    drops."""
    import hashlib
    import io
    import json
    from contextlib import redirect_stdout

    from llmap_spark import run_curate

    texts = ["the " + " ".join(hashlib.md5(f"{d}-{w}".encode()).hexdigest()[:6]
                               for w in range(12)) for d in range(3)]
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    spark.createDataFrame([(texts[2],)], "text string") \
        .write.parquet(str(tmp_path / "bench"))
    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_curate.main(
            ["--input", str(tmp_path / "docs"), "--output", out,
             "--cores", "8", "--emit", "corpus",
             "--benchmark", str(tmp_path / "bench")])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {0, 1}
    assert (summary["input_rows"], summary["kept_rows"],
            summary["dropped_rows"]) == (3, 2, 1)
