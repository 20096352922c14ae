"""End-to-end training-data curation plan: the product story the operator
families build toward, composed as one lazy DataFrame transform.

    documents
      -> quality gate           (C4/Gopher-style integer features, JVM-side)
      -> exact dedup            (md5 fingerprint, keep cluster representative)
      -> MinHash LSH            (banded candidate pairs, skew-capped buckets)
      -> verify                 (signature-agreement threshold)
      -> connected components  (pointer-doubling min-label clusters)
      -> keep list              (drop every non-representative cluster member)

and, for the training-ready deliverable (curated_corpus):

      keep list
      -> decontaminate          (anti-join the ids whose word n-grams
                                 semi-join a broadcast held-out benchmark)
      -> paragraph dedup        (corpus-wide first-occurrence rewrite)
      -> PII redaction          (typed placeholders, JVM regexp)

Mirrors the reference's funnel shape end-to-end (coarse gate -> survivors ->
refine -> combine; reference llmap.py:139-229) at corpus scale: every stage
is a lazy transform, no driver-side data, and the expensive stages only see
survivors of the cheap ones. On arbitrary input the chain is non-SQL-
expressible (hash signatures + an iterative fixpoint), so the corpus query
records rows-only; the planted arithmetic twins (pipeline_kept_planted /
pipeline_curated_planted) make every stage outcome deterministic and ARE
hash-verified, and pytest pins the kept-set semantics on planted data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _kept_reps(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               verify_jaccard: float = 0.5,
               cc_checkpoint_dir: str | None = None) -> DataFrame:
    """Surviving representatives WITH their text: (id_col, text_col).

    The shared core of kept_documents (which projects the ids) and
    curated_corpus (which continues scrubbing the text). Returning the
    text here means curated_corpus does NOT re-scan the corpus and
    semi-join the keep-list back just to re-attach a column the cached
    reps frame already carries — at 100 TB that re-attach was a second
    full corpus scan (r6 optimization; survivors' text is identical to
    the source text by construction, reps is a row-subset of docs).

    A doc survives iff it (1) passes the quality gate, (2) is its exact-hash
    cluster representative, and (3) is the minimum id of its near-dup
    component (or near-dups with nothing). Deterministic: every rule is
    integer arithmetic or a seeded hash.

    cc_checkpoint_dir (an HDFS/S3 path) runs the component iteration on
    RELIABLE cluster checkpoints so an executor loss cannot kill the
    fixpoint mid-flight — the right mode on a real cluster when the
    corpus makes CC run longer than executor MTBF.
    """
    from llmap_spark.cache import (register_persisted, released_on_exit,
                                   unpersist_quietly)
    from llmap_spark.operators.dedup import (connected_components,
                                             exact_dedup,
                                             minhash_lsh_candidates)
    from llmap_spark.operators.textstats import quality

    # Document-level caches, each read by more than one consumer:
    #   q     the quality survivors (id, text). The gate filters on the
    #         shared formula's q_keep directly (textstats.quality binds
    #         each intermediate once per row), not on quality_features'
    #         columns — the optimizer pushed that filter below the
    #         feature projections and inlined every alias into it, 24
    #         regexp_replace calls in its plan. exact_dedup reads its
    #         input twice (its winners aggregate and the join side);
    #         cached, the gate runs once per document, and exact_dedup
    #         reads both sides from this cache instead of persisting a
    #         slim fingerprint copy of its own.
    #   reps  the exact-dedup representatives (id, text), read by LSH and
    #         by the final anti-join. Cached, the anti-join does not
    #         re-run exact_dedup's winners aggregate (two stages).
    # Both are filled by connected_components' checkpoint below, which
    # also fills LSH's signature frame: three corpus-sized caches while
    # it runs (q, reps, signatures). After it, reps alone is read, so q
    # and the signature frame are released as the block exits, and the
    # built chain holds one corpus-sized cache. Caches are
    # MEMORY_AND_DISK with LRU eviction (an over-large corpus spills
    # rather than OOMs); reps is registered with llmap_spark.cache so a
    # long-lived session releases it via release_persisted(), and is
    # released at once if the block raises (connected_components does
    # when it does not converge).
    reps = None
    try:
        with released_on_exit():
            q = register_persisted(
                docs.select(id_col, text_col)
                .filter(quality(F.col(text_col))["q_keep"]).persist())
            reps = exact_dedup(q, id_col=id_col, text_col=text_col) \
                .filter(~F.col("is_dup")) \
                .select(id_col, text_col).persist()
            # LSH stays lazy: connected_components checkpoints the
            # verified pairs once — the chain's only materialization of
            # them — and every later reader (its rounds, the keep-list
            # below) reads that
            cand = minhash_lsh_candidates(reps, id_col=id_col,
                                          text_col=text_col)
            verified = cand.filter(F.col("est_jaccard") >= verify_jaccard)
            comp = connected_components(verified,
                                        checkpoint_dir=cc_checkpoint_dir)
    except BaseException:
        if reps is not None:
            unpersist_quietly(reps)
        raise
    register_persisted(reps)
    near_dup_losers = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return reps.join(near_dup_losers, id_col, "left_anti")


def kept_documents(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", **kwargs) -> DataFrame:
    """Curated keep-list: one row per surviving doc id.

    A doc survives iff it (1) passes the quality gate, (2) is its exact-hash
    cluster representative, and (3) is the minimum id of its near-dup
    component (or near-dups with nothing). Deterministic: every rule is
    integer arithmetic or a seeded hash. Keyword args (verify_jaccard,
    cc_checkpoint_dir) pass through to the shared _kept_reps core; see
    its docstring for the cc_checkpoint_dir cluster-deployment note.
    """
    return _kept_reps(docs, id_col=id_col, text_col=text_col,
                      **kwargs).select(id_col)


def curated_corpus(docs: DataFrame, benchmark: DataFrame | None = None,
                   id_col: str = "doc_id", text_col: str = "text",
                   **kept_kwargs) -> DataFrame:
    """The deliverable: kept_documents' keep-list joined back to text and
    scrubbed into a training-ready corpus.

        kept_documents keep-list      (quality -> dedup -> LSH -> CC)
          -> decontaminate            (drop docs sharing any word 3-gram
                                       with the held-out benchmark; skipped
                                       when benchmark is None)
          -> dedup_paragraphs         (corpus-wide first-occurrence
                                       paragraph dedup; rewrites text)
          -> redact_pii               (typed placeholder tokens)

    Returns (id_col, text, n_paras, n_paras_kept, n_emails, n_ipv4,
    n_phones) — `text` is the fully-scrubbed payload. Scale shape: the
    keep-list needs NO attach join — the shared _kept_reps core already
    carries the survivors' text (r6: the earlier left-semi re-attach was
    a second full corpus scan); decontamination left-semi-joins the
    document grams to the broadcast benchmark grams and anti-joins the
    resulting ids away (the corpus side never shuffles for membership,
    and no per-document hit count is built); paragraph dedup
    is the one wide stage (fingerprint groupBy + reassembly); redaction
    is map-only JVM regexp. Stages are ordered cheapest-drop-first so the
    wide paragraph shuffle only sees survivors.
    """
    from llmap_spark.operators.scrub import (contaminated_ids,
                                             dedup_paragraphs, redact_pii)

    out = _kept_reps(docs, id_col=id_col, text_col=text_col, **kept_kwargs)
    # `out` always feeds MULTIPLE branches downstream: dedup_paragraphs
    # references its input twice (paras + counts), and the benchmark path
    # adds the gram explode + anti-join left side. Unpersisted, the
    # keep-list anti-join would evaluate once PER BRANCH — the CLAUDE.md
    # branch-recompute gotcha. Registered for release_persisted, same
    # contract as the reps persist in _kept_reps.
    from llmap_spark.cache import register_persisted

    out = register_persisted(out.persist())
    if benchmark is not None:
        dirty = contaminated_ids(out, benchmark, id_col=id_col,
                                 text_col=text_col)
        out = out.join(dirty, id_col, "left_anti")
    out = (dedup_paragraphs(out, id_col=id_col, text_col=text_col)
           .withColumnRenamed("text_clean", text_col))
    out = (redact_pii(out, text_col=text_col)
           .drop(text_col)
           .withColumnRenamed("text_redacted", text_col))
    return out.select(id_col, text_col, "n_paras", "n_paras_kept",
                      "n_emails", "n_ipv4", "n_phones")
