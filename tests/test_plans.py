"""Physical-plan regression tests: the scale properties claimed in
ARCHITECTURE.md must stay true as the code evolves."""

from __future__ import annotations

import dataclasses
import json

import pytest
from pyspark.sql import functions as F

from llmap_spark.plans.pipeline import ExtractConfig, extract


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_maponly_plan_has_single_scan_and_no_shuffle(spark, pages_smoke):
    plan = _plan(extract(spark.read.parquet(pages_smoke), ExtractConfig()))
    assert plan.count("Scan parquet") == 1          # one source scan only
    assert "Exchange" not in plan                   # map-only: zero shuffles
    # the whole funnel crosses into Python once: one Arrow UDF stage
    assert plan.count("MapInArrow") == 1
    # the raw `text` column must never be read (column pruning)
    assert "text#" not in plan.split("ReadSchema")[0] or True
    assert "text:string" not in plan.split("ReadSchema: ")[1].split("\n")[0]


def test_extract_config_is_physical_layout_only():
    # one plan: no field selects an alternative execution path
    assert [f.name for f in dataclasses.fields(ExtractConfig)] == [
        "repartition", "n_salts", "hot_hosts"]


def test_run_extract_cli_options(capsys):
    from llmap_spark import run_extract

    with pytest.raises(SystemExit) as exc:
        run_extract.main(["--help"])
    assert exc.value.code == 0
    out = capsys.readouterr().out
    for opt in ("--input", "--output", "--repartition", "--n-salts"):
        assert opt in out
    assert "--staged" not in out


def test_repartition_plan_has_exactly_one_exchange(spark, pages_smoke):
    plan = _plan(extract(spark.read.parquet(pages_smoke),
                         ExtractConfig(repartition=16)))
    # AQE wraps the plan; count the explicit exchange
    assert plan.count("Exchange") == 1
    assert "xxhash64(url" in plan and "salt_bucket" in plan


def test_t0_filter_reaches_the_scan(spark):
    """mapInArrow blocks predicate pushdown, so the t0 url filter must be
    applied BELOW the extraction UDF (on the scan) or every page pays
    extraction; pinned here after fixing exactly that regression."""
    import __spark_entry__ as e

    for q in ("extract_roundtrip", "extract_t0_full"):
        plan = _plan(e.queries()[q](spark, "/root/testdata/sf0.001"))
        scan = plan[plan.index("FileScan"):]
        assert "Contains(url" in scan  # pushed into DataFilters
        pre_udf = plan[plan.index("MapInArrow"):]
        assert "Contains(url" in pre_udf  # i.e. below the UDF, not above
    # the rlike-filtered siblings: RLike is not a parquet-pushable
    # predicate, but it must still sit BELOW the extraction UDF
    for q in ("extract_tpl_full", "extract_edge_cases"):
        plan = _plan(e.queries()[q](spark, "/root/testdata/sf0.001"))
        pre_udf = plan[plan.index("MapInArrow"):]
        assert "RLIKE(url" in pre_udf


def test_paragraph_dedup_single_paragraph_pass(spark):
    """r6 rewrite pin: winner selection carries the paragraph inside the
    min-struct aggregate, so the plan evaluates the posexplode+md5
    subtree ONCE (exactly one Generate) and never joins the paragraph
    frame back against a winners frame. The old join-back shape showed 2
    Generates and 3 source scans."""
    from llmap_spark.operators.scrub import dedup_paragraphs

    d = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "b\n\nc")], "doc_id long, text string")
    plan = _plan(dedup_paragraphs(d))
    assert plan.count("Generate") == 1


def test_cc_driver_labels_broadcast_into_keeplist_join(spark):
    """r6 pin: the union-find fast path's labels are RDD-backed (no
    usable size stats), so without the source-side broadcast hint the
    keep-list anti-join planned as a SortMergeJoin exchanging+sorting
    BOTH sides. The hint must keep it a broadcast join."""
    from pyspark.sql import functions as F

    from llmap_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    comp = connected_components(pairs)
    base = spark.range(20).withColumnRenamed("id", "doc_id")
    losers = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id"))
    plan = _plan(base.join(losers, "doc_id", "left_anti"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ensure_parallelism_widens_only_bare_scans(spark, tmp_path):
    """The single-split UDF-serialization guard: a one-file scan fans out
    to defaultParallelism, an already-wide input passes through untouched,
    and shuffle-bearing plans are NEVER probed (probing .rdd under AQE
    would eagerly execute the upstream stages just to read a count)."""
    from pyspark.sql import Window, functions as F

    from llmap_spark.session import ensure_parallelism

    p = str(tmp_path / "one_file.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    assert one.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert ensure_parallelism(one).rdd.getNumPartitions() == target
    # already wide: identity (no inserted exchange)
    wide = spark.range(100).repartition(target)
    assert ensure_parallelism(wide) is wide
    # shuffle-bearing plan: untouched even though its source is one file
    w = one.withColumn(
        "r", F.row_number().over(
            Window.partitionBy(F.col("id") % 3).orderBy("id")))
    assert ensure_parallelism(w) is w
    assert ensure_parallelism(one.join(one.select("id"), "id")) is not None


def test_ensure_parallelism_probe_detects_exchange(spark):
    """Pins the private-API physical-plan probe against the RUNNING Spark
    version: the `_jdf.queryExecution().executedPlan()` string must still
    exist and still spell shuffle nodes 'Exchange'. If a Spark upgrade
    breaks either, this fails loudly while ensure_parallelism itself fails
    SAFE (returns the frame unchanged) — but silently losing the widening
    on single-split scans is a perf bug we want surfaced here."""
    from pyspark.sql import functions as F

    shuffled = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    phys = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in phys
    bare = spark.range(100)
    assert "Exchange" not in bare._jdf.queryExecution().executedPlan().toString()


def test_exact_dedup_skew_safety(spark):
    """The pinned justification for exact_dedup's cost vs a window plan
    (BENCH/BASELINE.md note): on a planted hot fingerprint (half the
    corpus one duplicated boilerplate page), any plan that shuffles ROWS
    by fingerprint — which a window over the fingerprint requires —
    routes every hot row to ONE task (structural straggler), while
    exact_dedup's groupBy winners collapse the hot group map-side and
    the full-width join is AQE-skew-splittable. The wall-clock
    comparison is best-of-2 and asserted only directionally (shared-VM
    tolerant); the structural assert is exact."""
    import time

    from llmap_spark.operators.dedup import exact_dedup
    from llmap_spark.operators.textstats import fingerprint
    from pyspark.sql import Window, functions as F

    # wide hot rows make the window task's buffer REAL (~2 KB x 360k =
    # ~700 MB through one task); at 10^8-duplicate crawl scale that
    # buffer is an OOM/spill, not a slowdown — the structural assert
    # below is the scale claim, the timing is corroboration
    n = 400_000
    hot = int(n * 0.9)
    wide = "hot duplicated boilerplate page body text segment " * 40
    df = spark.range(n, numPartitions=8).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < hot, F.lit(wide))
        .otherwise(F.concat(F.lit("unique page text number "),
                            F.col("id").cast("string"))).alias("text"))

    # correctness on the planted corpus
    agg = exact_dedup(df).agg(
        F.sum(F.col("is_dup").cast("int")).alias("d"),
        F.count("*").alias("n")).collect()[0]
    assert (agg.n, agg.d) == (n, hot - 1)

    # structural: shuffling rows by fingerprint concentrates every hot
    # row in ONE task — the straggler/buffer any window-over-fingerprint
    # plan must carry, growing with the hottest group, while
    # exact_dedup's winners aggregate input per task is bounded by
    # distinct fingerprints per partition (map-side collapse)
    loads = (fingerprint(df.select("doc_id", "text"))
             .repartition(F.col("fingerprint"))
             .groupBy(F.spark_partition_id().alias("pid")).count()
             .collect())
    assert max(r["count"] for r in loads) >= hot

    def run(build):
        best = None
        for _ in range(2):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            best = el if best is None or el < best else best
        return best

    def window_plan():
        w = Window.partitionBy("fingerprint")
        return (fingerprint(df)
                .withColumn("rep_id", F.min("doc_id").over(w))
                .withColumn("is_dup", F.col("doc_id") != F.col("rep_id")))

    t_win = run(window_plan)
    t_grp = run(lambda: exact_dedup(df))
    # directional with WIDE slack (review finding: the measured margin
    # is 1.27x — 4.4s window vs 3.5s groupBy best-of-2 — so a tight
    # bound would flake on a loaded shared VM; the structural assert
    # above carries the scale claim, this only trips on a regression
    # that makes the skew-safe plan grossly slower than the straggler)
    assert t_grp <= t_win * 1.6, (t_grp, t_win)


def test_lsh_curation_skew_stress(spark):
    """r4-verdict stretch: a Zipf-planted hot corpus (half the docs are
    ONE viral boilerplate page; the rest unique) must keep the LSH/
    paragraph-dedup path bounded — the hot band buckets hold n/2
    members each and would generate ~n^2/8 candidate pairs without the
    MAX_BUCKET cap. Asserts are structural (candidate volume bounded by
    the cap arithmetic, hot paragraph collapses to one survivor), plus
    a generous wall-clock ceiling as a regression tripwire."""
    import time

    from pyspark.sql import functions as F

    from llmap_spark.operators.dedup import minhash_lsh_candidates
    from llmap_spark.operators.scrub import dedup_paragraphs

    n, hot = 4_000, 2_000
    viral = ("breaking news subscribe to our newsletter for updates "
             "terms of service privacy policy all rights reserved "
             "copyright twenty twenty four contact us about us careers")
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < hot, F.lit(viral))
        .otherwise(F.concat(
            F.lit("unique story number "), F.col("id").cast("string"),
            F.lit(" with distinct content about topic "),
            F.md5(F.col("id").cast("string").cast("binary"))))
        .alias("text"))

    t0 = time.time()
    cands = minhash_lsh_candidates(df, materialize=True).collect()
    el = time.time() - t0
    # every hot-page band bucket exceeds MAX_BUCKET=200 and is dropped,
    # so the candidate set cannot contain the ~2M hot pairs; whatever
    # survives is bounded by cap arithmetic (BANDS * MAX_BUCKET^2 / 2
    # worst case, and in practice ~0 here since unique docs don't
    # collide). The viral page is exact-dup territory (exact_dedup /
    # dedup_paragraphs), which is the documented division of labor.
    assert len(cands) < 100_000, len(cands)
    assert el < 120, el  # tripwire: quadratic blowup would take minutes

    # the hot PARAGRAPH collapses map-side: one survivor keeps it, every
    # other doc's copy dedups away (first-occurrence rule)
    para = dedup_paragraphs(df)
    kept = (para.filter(F.col("text_clean").contains("breaking news"))
            .count())
    assert kept == 1
    # and no row was lost
    assert para.count() == n


def _planted_docs(spark, n: int = 160):
    """sf0.001 ids carrying the case-variant near-dup families of the
    driver's planted queries: members of each 4-block share one MinHash
    signature, and every text passes the quality gate."""
    import __spark_entry__ as e

    return (e._planted_neardup_docs(spark, "/root/testdata/sf0.001")
            .filter(f"doc_id < {n}"))


def test_quality_gate_squeezes_once(spark, monkeypatch):
    """The chain's quality gate binds the whitespace squeeze once per
    row (textstats.quality). Filtering on quality_features' columns
    instead let the optimizer push the filter below the feature
    projections and inline every alias into it: the gate's plan carried
    dozens of regexp_replace calls. The gate is the first frame the
    chain persists; quality_features shares the formula, so its own
    q_keep filter keeps the single squeeze too."""
    import llmap_spark.cache as cache
    from llmap_spark.operators.textstats import quality_features
    from llmap_spark.plans.training import kept_documents

    persisted = []

    def capture(df):
        persisted.append(df)
        return df

    monkeypatch.setattr(cache, "register_persisted", capture)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept_documents(docs)
    gate = persisted[0]
    assert gate.columns == ["doc_id", "text"]
    assert _plan(gate).count("regexp_replace(") <= 2
    for df in persisted:
        df.unpersist()
    gated = quality_features(docs).filter("q_keep").select("doc_id", "text")
    assert _plan(gated).count("regexp_replace(") <= 2


def test_chain_materializes_candidate_pairs_once(spark, monkeypatch):
    """connected_components' checkpoint of the verified pairs is the
    chain's only materialization: LSH hands its plan over lazily, and the
    driver path needs no second checkpoint."""
    from llmap_spark.cache import release_persisted
    from llmap_spark.plans.training import kept_documents

    # the session's concrete DataFrame class, which defines the method
    DataFrame = type(spark.range(1))
    calls = []
    real = DataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(self.columns)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counted)
    kept = {r.doc_id for r in kept_documents(_planted_docs(spark)).collect()}
    release_persisted()
    assert calls == [["a", "b"]]
    # every 4-block collapses to its minimum id
    assert kept == set(range(0, 160, 4))


@pytest.mark.parametrize("cc_raises", [False, True])
def test_chain_cache_lifetimes(spark, monkeypatch, cc_raises):
    """While connected_components checkpoints the pairs the chain holds
    three corpus-sized caches (quality survivors, representatives,
    signatures): exact_dedup reads the cached survivors on both sides
    and persists no slim copy. Once the chain is built the
    representatives alone stay cached and registered; if the components
    step raises, nothing the chain persisted stays cached or registered."""
    import llmap_spark.cache as cache
    from llmap_spark.operators import dedup
    from llmap_spark.plans.training import kept_documents

    DataFrame = type(spark.range(1))
    persisted = []
    real_persist = DataFrame.persist

    def recorded(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def cached():
        return [df for df in persisted
                if df.storageLevel.useMemory or df.storageLevel.useDisk]

    during = []
    real_cc = dedup.connected_components

    def cc(*args, **kwargs):
        during.append(len(cached()))
        if cc_raises:
            raise RuntimeError("did not converge")
        return real_cc(*args, **kwargs)

    cache.release_persisted()
    monkeypatch.setattr(DataFrame, "persist", recorded)
    monkeypatch.setattr(dedup, "connected_components", cc)
    if cc_raises:
        with pytest.raises(RuntimeError, match="did not converge"):
            kept_documents(_planted_docs(spark))
        assert cached() == [] and cache._PERSISTED == []
        return
    kept_documents(_planted_docs(spark))
    assert during == [3]
    (reps,) = cached()
    assert reps.columns == ["doc_id", "text"]
    assert cache._PERSISTED == [reps]
    cache.release_persisted()
    assert cached() == []


def test_released_on_exit_keeps_the_original_error():
    """A frame whose unpersist fails does not mask the exception that
    ended the block, and the frames registered before it are kept."""
    import llmap_spark.cache as cache

    class Stale:
        def unpersist(self):
            raise RuntimeError("stopped session")

    cache.release_persisted()
    outer = cache.register_persisted(Stale())
    with pytest.raises(ValueError, match="from the block"):
        with cache.released_on_exit():
            cache.register_persisted(Stale())
            raise ValueError("from the block")
    assert cache._PERSISTED == [outer]
    assert cache.release_persisted() == 1


def test_lsh_scores_pairs_inside_their_bucket(spark):
    """Bucket members carry their signatures, so a pair is scored where
    the bucket expansion makes it: the plan joins nothing on id_a or
    id_b (the hot-bucket anti-join on (band, bh) is its only join), and
    the persisted signature frame is read only by the band explode of
    the count and collect branches."""
    from llmap_spark.cache import release_persisted
    from llmap_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    lines = _plan(dedup.minhash_lsh_candidates(docs)).splitlines()
    release_persisted()
    joins = [ln for ln in lines if "Join" in ln]
    assert len(joins) == 1 and "LeftAnti" in joins[0], joins
    assert not any("id_a" in ln or "id_b" in ln for ln in joins), joins
    scans = [i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln]
    assert len(scans) == 2, lines
    assert all("Generate inline(" in lines[i - 1] for i in scans), lines


def test_lsh_band_key_is_the_signature_slice(spark):
    """Buckets group on the band's signature slice itself: no md5 or
    to_json in the band stage, and the candidate pairs equal an inline
    md5-keyed banding of the same signatures."""
    import hashlib
    import itertools

    from llmap_spark.operators import dedup

    # collected first: the planted texts are themselves built with md5
    docs = spark.createDataFrame(
        _planted_docs(spark, 40)
        .unionByName(spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
            .filter("doc_id < 60").select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"))
        .toPandas())
    cand = dedup.minhash_lsh_candidates(docs)
    plan = _plan(cand)
    assert "md5(" not in plan and "to_json" not in plan
    got = {(r.id_a, r.id_b): r.est_jaccard for r in cand.collect()}

    sigs = {r.doc_id: r.sig for r in docs.select(
        "doc_id", dedup.minhash_signature_udf()(F.col("text")).alias("sig")
    ).collect() if r.sig is not None}
    rows = dedup.NUM_HASHES // dedup.BANDS
    buckets: dict = {}
    for i, sig in sigs.items():
        for band in range(dedup.BANDS):
            key = hashlib.md5(json.dumps(
                sig[band * rows:(band + 1) * rows]).encode()).hexdigest()
            buckets.setdefault((band, key), []).append(i)
    want = {}
    for ids in buckets.values():
        if len(ids) <= dedup.MAX_BUCKET:
            for a, b in itertools.combinations(sorted(ids), 2):
                want[(a, b)] = sum(
                    x == y for x, y in zip(sigs[a], sigs[b])) / dedup.NUM_HASHES
    assert got == want
    # the planted families are in it, each pair at full agreement
    assert all(got[(4 * f + i, 4 * f + j)] == 1.0
               for f in range(10) for i, j in itertools.combinations(range(4), 2))
