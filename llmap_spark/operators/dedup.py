"""Deduplication operators for web-scale text corpora.

The curation chain's two whole-document detectors, plus the clustering
step it runs after them:

  exact_dedup          md5 fingerprint -> groupBy-min winners -> join-back
  minhash_lsh          char-shingle MinHash signatures (pandas UDF) ->
                       bands grouped on their signature slices ->
                       candidate pairs with signature-estimated Jaccard
                       (JVM zip_with)
  connected_components min-label propagation over candidate pairs ->
                       duplicate clusters (no GraphFrames dep)

Sub-document (paragraph) dedup is scrub.dedup_paragraphs.

Scale notes baked in: LSH buckets are capped (hot-bucket skew guard),
signatures travel as array<long> (Arrow-native), band keys are signature
slices built in one JVM expression, verification math stays JVM-side
(zip_with), and components iterate with AQE-friendly joins, with a
driver-side union-find only for small pair sets: one bounded Arrow
collect in, Arrow-built labels out, no Python worker.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from llmap_spark.session import ensure_parallelism
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from llmap_spark.operators.textstats import fingerprint

MERSENNE61 = (1 << 61) - 1
# the one LSH configuration: 64 hashes in 16 bands of 4 rows over
# 5-byte shingles, hash family seeded once, buckets capped at 200 members
NUM_HASHES = 64
BANDS = 16
SHINGLE_K = 5
SEED = 42
MAX_BUCKET = 200


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: adds `fingerprint`, `rep_id` (min id with
    the same fingerprint) and `is_dup`.

    Winner selection is groupBy(fingerprint).min — NOT a window over the
    fingerprint: a window buffers each duplicate group in one task (a
    boilerplate page duplicated 10^8 times becomes one spilling straggler),
    while the groupBy's partial aggregation collapses hot groups map-side
    to one row per (partition, fingerprint), the same skew-safe shape
    scrub.dedup_paragraphs uses.

    One text pass for the winners side: the slim (id, fingerprint)
    projection is persisted (registered with llmap_spark.cache, same
    contract as the LSH signature frame) so the winners aggregate never
    re-reads the text column — the earlier two-branch plan re-scanned
    and re-hashed full text for the winners side (a second full-corpus
    pass at 100 TB; 4.2x slower at sf0.1 in the r3 driver bench). Wide
    input rows then join the winners frame DIRECTLY on the fingerprint
    (recomputing md5 inline in the main scan — codegen'd JVM arithmetic,
    no extra IO): one thin aggregate output against one full-width pass,
    with no intermediate per-id verdict join (the r4 plan's extra stage,
    ~10% of the bench time). A hot fingerprint skews this join's build
    of full-width rows, which AQE's skew-join split handles (the winners
    side is a single row per fingerprint, replicated to the splits);
    the aggregate itself collapses hot groups map-side as before. An
    input that is already cached (the curation chain caches its quality
    survivors) is read from that cache by both sides, so the slim frame
    is not persisted then: it would be a second corpus-sized cache of
    data the first one holds.

    NULL text -> NULL fingerprint = UNKNOWN content, never a duplicate:
    null keys drop out of the groupBy winners and never match the
    join-back, so every null-text row is its own representative without
    ever shuffling into a shared null bucket.

    CONTRACT: `id_col` must be a unique, non-null key (what a document id
    IS; min-per-fingerprint winners are meaningless otherwise). The
    winners join is LEFT, and NULL fingerprints never match a join key,
    so a pathological null-id or null-text row still survives as its own
    representative rather than silently dropping; duplicate ids would
    cross-attach verdicts and are the caller's bug."""
    from llmap_spark.cache import register_persisted

    level = df.storageLevel
    cached = level.useMemory or level.useDisk
    # match the old withColumn semantics: a pre-existing fingerprint
    # column is replaced, not duplicated into a join ambiguity
    df = df.drop("fingerprint", "rep_id", "is_dup")
    slim = (fingerprint(df.select(id_col, text_col), text_col)
            .select(id_col, "fingerprint"))
    if not cached:
        slim = register_persisted(slim.persist())
    winners = (slim.filter(F.col("fingerprint").isNotNull())
               .groupBy("fingerprint")
               .agg(F.min(id_col).alias("_rep")))
    return (
        fingerprint(df, text_col).join(winners, ["fingerprint"], "left")
        .withColumn("rep_id", F.coalesce(F.col("_rep"), F.col(id_col)))
        # coalesce: for a null-id row both sides are NULL and != yields
        # NULL, which filter(~is_dup) downstream (training.kept_documents)
        # would silently DROP — the survival contract says False
        .withColumn("is_dup", F.coalesce(
            F.col(id_col) != F.col("rep_id"), F.lit(False)))
        # the USING join hoists the key to column 0; restore input order
        .select(*df.columns, "fingerprint", "rep_id", "is_dup")
    )


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------

_FNV = np.uint64(1099511628211)
_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix64(h: np.ndarray) -> np.ndarray:
    """Murmur3-style finalizer — vectorized, stable across workers."""
    h = h.copy()
    h ^= h >> np.uint64(33)
    h *= _MIX1
    h ^= h >> np.uint64(33)
    h *= _MIX2
    h ^= h >> np.uint64(33)
    return h


def _shingle_hashes(text: str) -> np.ndarray:
    """Stable SHINGLE_K-byte-shingle 64-bit hashes, fully numpy-vectorized:
    sliding windows x FNV-prime powers, then a murmur finalizer. (The
    first draft hashed each shingle with blake2b in a Python loop —
    ~300 digest calls per doc dominated the whole LSH stage.) Never
    Python hash(): not stable across workers."""
    t = " ".join(text.split()).lower()
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
    if b.size < SHINGLE_K:
        return np.empty(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(
        b, SHINGLE_K).astype(np.uint64)
    # wraparound mod 2^64 is fine
    pw = _FNV ** np.arange(SHINGLE_K, dtype=np.uint64)
    h = _mix64((win * pw[None, :]).sum(axis=1, dtype=np.uint64))
    return np.unique(h)


def minhash_signature_udf():
    """pandas_udf: text -> array<long> MinHash signature. The per-doc min
    over (a*h+b) mod 2^61-1 is a vectorized numpy outer product."""
    rs = np.random.RandomState(SEED)
    a = rs.randint(1, MERSENNE61, size=NUM_HASHES,
                   dtype=np.int64).astype(np.uint64)
    b = rs.randint(0, MERSENNE61, size=NUM_HASHES,
                   dtype=np.int64).astype(np.uint64)

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = _shingle_hashes(t or "")
            if h.size == 0:
                # shingle-less doc: NULL signature. A shared sentinel
                # signature would make every tiny/empty doc a "perfect
                # duplicate" of every other one.
                out.append(None)
                continue
            # (NUM_HASHES, n_shingles) — wraparound mult is fine pre-mod
            m = (a[:, None] * h[None, :] + b[:, None]) % MERSENNE61
            out.append(m.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    # deterministic in fact; the flag stops the optimizer cloning the UDF
    # into the downstream isNotNull filter (CollapseProject otherwise
    # yields TWO ArrowEvalPython nodes — the signature pass ran twice per
    # row even under persist; verified in the physical plan)
    return sig.asNondeterministic()


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           materialize: bool = False) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Returns (id_a, id_b, est_jaccard double) with id_a < id_b. est_jaccard
    is the signature agreement fraction, computed JVM-side via zip_with —
    no second Python pass. Buckets larger than MAX_BUCKET are dropped
    (skew guard: a degenerate shingle bucket would otherwise create a
    quadratic join blowup; dropped buckets mean those docs are near-dups of
    *many* docs and are caught by other bands with overwhelming odds).

    Band key: the band's slice of the signature itself (4 longs), all
    bands built by one `inline(transform(sequence(...)))` expression.
    Two documents share a bucket exactly when their slices are equal, so
    no hash of the slice is needed.

    Shuffle diet: only (id, band, band slice) rows enter the bucket
    grouping and the candidate `distinct` — signatures (64 longs, ~0.5 KB)
    are re-attached AFTER the pair set is deduplicated, via broadcast of
    the (small by construction) pair list against the persisted signature
    frame. Carrying both signatures through the grouping + distinct would
    ship ~1 KB of avoidable shuffle per candidate occurrence.

    The operator is LAZY by default: it returns a plan and leaves the
    signature frame persisted (the UDF runs once per row however many
    consumers the caller wires up); the persist is REGISTERED with
    llmap_spark.cache so a long-lived session can release it via
    release_persisted(). Pass materialize=True to eagerly localCheckpoint
    the bounded candidate set and release the signature cache immediately —
    appropriate in notebooks/short jobs; on a long-lived cluster prefer
    writing the candidates to a table, since localCheckpoint blocks are
    lost on executor failure. A caller that hands the pairs straight to
    connected_components (the curation chain) keeps the lazy default:
    components checkpoints its input itself, and a second checkpoint
    would write the same pairs twice.
    """
    from llmap_spark.cache import register_persisted

    sig = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col))).select(
        "_id", minhash_signature_udf()(F.col(text_col)).alias("sig"))
    # shingle-less docs carry NULL signatures and cannot be near-dups
    sig = sig.filter(F.col("sig").isNotNull())
    # the signature subtree feeds three consumers (band explode + the two
    # signature re-joins); persist so the Python UDF runs once per row
    sig = sig.persist()
    if not materialize:
        register_persisted(sig)
    # band key: the band's signature slice itself, all BANDS bands in one
    # expression (one plan node, not one driver-built struct per band).
    # Equal slices are exactly what makes an LSH bucket, so grouping on
    # the slice needs no hash of it
    rows_per_band = NUM_HASHES // BANDS
    exploded = sig.select("_id", F.expr(
        f"inline(transform(sequence(0, {BANDS - 1}), b -> named_struct("
        f"'band', b, 'bh', slice(sig, b * {rows_per_band} + 1, "
        f"{rows_per_band}))))"))
    # hot-bucket guard via groupBy counts + ANTI-join against the
    # over-full buckets, NOT a window over (band, bh): the hot bucket is
    # exactly the case the cap exists for, and a window would buffer that
    # whole bucket in one task before dropping it; partial aggregation
    # collapses it map-side to one (partition, bucket) row. The anti-join
    # side is only the buckets EXCEEDING the cap — rare by construction —
    # so AQE broadcasts it at runtime and the exploded frame never
    # shuffles for the cap (the r3 inner-join formulation joined back the
    # corpus-sized <=cap bucket list instead: a full extra exchange,
    # measured +2.6 s at sf0.1 in the driver bench)
    hot = (exploded.groupBy("band", "bh")
           .agg(F.count(F.lit(1)).alias("_bn"))
           .filter(F.col("_bn") > MAX_BUCKET)
           .select("band", "bh"))
    pruned = exploded.join(hot, ["band", "bh"], "left_anti")
    # post-prune, every bucket is <= MAX_BUCKET members, so pair
    # generation is ONE groupBy + bounded in-array expansion
    # (MAX_BUCKET^2/2 structs per bucket row) instead of a two-sided
    # self-join. Saves a full exchange of the exploded frame AND stops
    # the counts/anti-join subtree being evaluated once per join side.
    byb = (pruned.groupBy("band", "bh")
           .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
           .filter(F.size("ids") >= 2))
    pairs = (byb.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> transform("
        "  slice(ids, i + 2, size(ids) - i - 1),"
        "  y -> struct(x AS id_a, y AS id_b)))"
    ))).alias("p")).select("p.id_a", "p.id_b")
        # strict <: a duplicated id in the input must not emit a
        # self-pair (sort_array makes equal ids adjacent, so the
        # in-array expansion WOULD pair them)
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct())
    sa = sig.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"))
    # no broadcast hint: AQE turns these into broadcast joins at runtime
    # when the pair set is small; a forced broadcast would OOM if a huge
    # corpus yields a pair set beyond driver memory
    withsigs = sa.join(pairs, "id_a").join(sb, "id_b")
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    out = withsigs.select(
        "id_a", "id_b",
        (agree / F.lit(float(NUM_HASHES))).alias("est_jaccard"))
    if materialize:
        out = out.localCheckpoint(eager=True)
        sig.unpersist()
    return out


# --------------------------------------------------------------------------
# clustering candidate pairs
# --------------------------------------------------------------------------

def _union_find_components(spark, pdf: pd.DataFrame,
                           id_type) -> DataFrame:
    """Driver-side union-find over a bounded pair set already collected
    to pandas (two id columns). Duplicate pairs and edge direction are
    irrelevant to union-find (union is symmetric and idempotent), so the
    RAW pair set works — no mirroring or distinct needed (r6: the driver
    fast path used to pay a distinct exchange and a doubled checkpoint
    write for a canonical edge set only the distributed fixpoint needs).
    Every union attaches the larger root under the smaller, so each set's
    root IS its minimum id — labels match the distributed min-label
    fixpoint exactly (pinned by pytest running both paths on the same
    graphs)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # zip over the columns: no per-row pyspark Row objects (collect()
    # would cost ~100+ B per edge in boxed Rows before union-find starts)
    for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    from pyspark.sql.types import StructField, StructType

    nodes = list(parent)
    dtype = pdf.dtypes.iloc[0]  # the collected id type, kept end to end
    labels = pd.DataFrame({"node": pd.Series(nodes, dtype=dtype),
                           "component": pd.Series([find(n) for n in nodes],
                                                  dtype=dtype)})
    schema = StructType([StructField("node", id_type),
                         StructField("component", id_type)])
    # pandas -> Arrow batches -> JVM: the labels frame needs no Python
    # worker (a frame built from a Python list is read by a Python-RDD
    # job on the chain's critical path). Broadcast hint: the frame is
    # bounded by construction (<= driver_threshold edges -> <= 2x that
    # in nodes, a few MB), but past Spark's Arrow local-relation size
    # threshold it is RDD-backed, whose sizeInBytes estimate is
    # defaultSizeInBytes (effectively infinite) — without the hint the
    # keep-list anti-join downstream then plans as a SortMergeJoin that
    # exchanges+sorts BOTH sides (r6 plan audit); the hint makes every
    # consumer join map-side. The distributed CC path returns
    # cluster-scale labels and is deliberately NOT hinted.
    return F.broadcast(spark.createDataFrame(labels, schema))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50,
                         checkpoint_dir: str | None = None,
                         driver_threshold: int = 250_000) -> DataFrame:
    """Duplicate clusters from candidate pairs: min-label propagation with
    POINTER DOUBLING (label = smallest reachable id).

    Each round does (1) a hop — every node takes the min label over its
    neighborhood — and (2) a jump — label <- label(label), halving the
    remaining pointer distance. The reachable-min distance roughly doubles
    per round, so convergence is O(log diameter) rounds instead of the
    O(diameter) of plain one-hop propagation (a 1000-node path converges
    in ~10 rounds, not ~1000; pinned by a pytest case). A run that has
    not converged after `max_iter` rounds RAISES instead of silently
    returning split components.

    Round cost: TWO materialization jobs (hop; jump) plus one trivial
    scan-aggregate over the already-materialized jump — change detection
    is FUSED into the jump join (the old-label comparison rides the same
    job), not run as a separate join job afterwards.

    Fault tolerance: the default materialization is localCheckpoint —
    fastest, but its blocks live on executors and are LOST on executor
    failure, killing a long iteration mid-flight on a real cluster. Pass
    `checkpoint_dir` (a cluster path — HDFS/S3) to use RELIABLE
    checkpoints instead, recoverable across executor loss. At 100 TB that
    is the right choice for any corpus whose CC runs longer than the mean
    executor MTBF.

    Reliable-checkpoint retention: Spark deletes checkpoint files only
    under spark.cleaner.referenceTracking.cleanCheckpoints=true (default
    FALSE), so a reliable run leaves O(rounds) label/edge snapshots in
    checkpoint_dir. Set that conf on long-lived clusters, or treat
    checkpoint_dir as per-run scratch and delete it after the returned
    labels are materialized (written/collected) — the frame reads from
    those files until then. setCheckpointDir is also CONTEXT-GLOBAL
    state, shared with any other checkpoint user in the session.

    This replaces a GraphFrames/union-find dependency; genuinely
    non-SQL-expressible, so the driver records rows-only for it and pytest
    checks it against a driver-side union-find on small data (both modes).

    Adaptive small-graph fast path: after the (always-paid) one-time
    materialization of the raw pair set, if 2x the pair count (an upper
    bound on the directed edge count — duplicates only shrink it) is
    <= driver_threshold the component labels are computed by a
    driver-side union-find on the RAW pairs — identical labels
    (component = min reachable id), zero iterative rounds, and no
    mirrored/distinct edge set to build (union-find is direction- and
    duplicate-agnostic). One bounded Arrow collect, a single task reading
    at most driver_threshold // 2 + 1 pairs, is both the size probe and
    the union-find input: a full limit means the graph is too big, so no
    count job runs, and a big graph costs the probe no more rows than a
    graph at the threshold. The labels go back to the JVM as Arrow
    batches, with no Python worker, in the input's id type. Near-dup
    candidate edges are typically a tiny fraction of corpus rows even at
    100 TB, so most runs take this path; bigger graphs build the canonical edge set and
    run the distributed loop. The default (250k directed edges) is sized
    for the PYTHON-side cost, which dominates: the Arrow frame itself is
    ~4 MB, but the union-find's parent dict boxes up to 2 ids per edge
    (~60-100 MB at the default) — a 1g-driver-safe bound. Pass
    driver_threshold=0 to force the distributed path (the pytest pinning
    round-count/convergence semantics does).
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # materialize the RAW pair set ONCE up front: the size probe and every
    # downstream consumer read this checkpoint, so a lazy `pairs` plan
    # (e.g. a full LSH pipeline) is evaluated exactly once — unmaterialized
    # it would be recomputed per round, measured 9x slower on the composed
    # curation chain. It is the chain's only materialization of the pairs
    # (plans/training._kept_reps hands LSH's plan over lazily). r6: the
    # mirrored+distinct canonical edge set is built only on the
    # DISTRIBUTED path — union-find is direction- and duplicate-agnostic,
    # so the common driver fast path skips that distinct exchange and the
    # doubled checkpoint write.
    pairs_m = ckpt(pairs.select(F.col(id_a).alias("a"),
                                F.col(id_b).alias("b")))
    # driver path iff 2 x raw pairs <= driver_threshold: 2x raw pairs
    # bounds the directed edge count from above (duplicates only shrink
    # it), so the rule never sends a graph to the driver that the
    # directed-edge rule would have kept distributed. ONE bounded Arrow
    # collect is both the size probe and the union-find input: one row
    # past the limit means "too big", with no separate count job. The
    # coalesce(1) makes it one task that reads the checkpoint's
    # partitions in turn and stops at limit + 1 rows; a bare limit would
    # take up to limit + 1 rows from EVERY partition and shuffle them all
    # into one reducer, so a graph above the threshold would move
    # partitions x limit rows just to learn it is too big (8M pairs in 64
    # partitions, 4 cores: 81 ms against 950 ms, and 376 ms for count()).
    # Label output is identical on both paths (pinned).
    if driver_threshold > 0:
        limit = driver_threshold // 2
        head = pairs_m.coalesce(1).limit(limit + 1).toPandas()
        if len(head) <= limit:
            return _union_find_components(
                spark, head, pairs_m.schema.fields[0].dataType)
    edges = ckpt(
        pairs_m.union(pairs_m.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
        .distinct()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_iter):
        # hop: min label over self + neighbors
        prop = (
            edges.join(labels, edges.a == labels.node)
            .select(F.col("b").alias("node"), F.col("label"))
        )
        hop = (
            labels.select("node", "label").union(prop)
            .groupBy("node").agg(F.min("label").alias("label"))
        )
        # materialize before the self-join: checkpointing cuts lineage AND
        # sidesteps attribute-resolution failures Spark hits when
        # self-joining a deep un-materialized plan (seen with window+union
        # upstreams); rounds are O(log diameter) so the extra
        # materialization is cheap
        hop = ckpt(hop)
        # jump: label <- label(label). Every label value is itself a node
        # (labels start as node ids and only node labels propagate), so the
        # self-join resolves each pointer one extra level; left join +
        # coalesce keeps the row if the lookup misses. The OLD label joins
        # in here too, so the changed-this-round flag materializes in the
        # SAME job as the jump instead of a separate join job per round.
        jumped = (
            hop.alias("x")
            .join(hop.select(F.col("node").alias("label"),
                             F.col("label").alias("label2")).alias("y"),
                  "label", "left")
            .select(F.col("node"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("label2"), F.col("label")))
                    .alias("label"))
            .join(labels.select("node", F.col("label").alias("_old")), "node")
            .select("node", "label",
                    (F.col("label") != F.col("_old")).cast("int").alias("_chg"))
        )
        new_labels = ckpt(jumped)
        # trivial aggregate over the materialized frame — no join recompute
        changed = new_labels.agg(F.max("_chg")).first()[0]
        labels = new_labels.select("node", "label")
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(log2(diameter) exceeds max_iter); raise max_iter")
    return labels.select(F.col("node"), F.col("label").alias("component"))
