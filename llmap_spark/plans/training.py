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
      -> decontaminate          (drop docs sharing word n-grams with a
                                 broadcast held-out benchmark)
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
    from llmap_spark.operators.dedup import (connected_components,
                                             exact_dedup,
                                             minhash_lsh_candidates)
    from llmap_spark.operators.textstats import quality_features

    q = quality_features(docs, text_col=text_col).filter(F.col("q_keep"))
    reps = exact_dedup(q, id_col=id_col, text_col=text_col) \
        .filter(~F.col("is_dup")) \
        .select(id_col, text_col)
    # reps feeds BOTH the LSH stage (materialized eagerly below, which
    # populates this cache) and the final anti-join — persisting avoids a
    # second full quality+window pass over the corpus (measured ~40% off
    # the whole chain at sf0.1). SLIMMED to (id, text) before the persist
    # (round 4): downstream needs nothing else — LSH projects exactly
    # these two and the final output is ids — so caching the quality
    # feature columns + fingerprint would only widen the cache and every
    # downstream exchange. Storage is MEMORY_AND_DISK with LRU
    # eviction, so an over-large corpus spills rather than OOMs; the
    # persist is registered with llmap_spark.cache so a long-lived session
    # releases it via release_persisted().
    from llmap_spark.cache import register_persisted
    reps = register_persisted(reps.persist())
    # materialize=True: the candidate set feeds an ITERATIVE consumer
    # (connected components) plus the final anti-join — exactly the case
    # the LSH operator's caller-controlled materialization exists for
    # (releases the signature cache too)
    cand = minhash_lsh_candidates(reps, id_col=id_col, text_col=text_col,
                                  materialize=True)
    verified = cand.filter(F.col("est_jaccard") >= verify_jaccard)
    comp = connected_components(verified, checkpoint_dir=cc_checkpoint_dir)
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
                   nfc: bool = False,
                   id_col: str = "doc_id", text_col: str = "text",
                   **kept_kwargs) -> DataFrame:
    """The deliverable: kept_documents' keep-list joined back to text and
    scrubbed into a training-ready corpus.

        kept_documents keep-list      (quality -> dedup -> LSH -> CC)
          -> NFC normalize            (opt-in nfc=True: compose combining
                                       sequences + strip controls BEFORE
                                       fingerprinting)
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
    a second full corpus scan); decontamination broadcasts the benchmark
    gram set (corpus side never shuffles for membership); paragraph dedup
    is the one wide stage (fingerprint groupBy + reassembly); redaction
    is map-only JVM regexp. Stages are ordered cheapest-drop-first so the
    wide paragraph shuffle only sees survivors.
    """
    from llmap_spark.operators.scrub import (decontaminate as _decon,
                                             dedup_paragraphs, redact_pii)

    out = _kept_reps(docs, id_col=id_col, text_col=text_col, **kept_kwargs)
    if nfc:
        # normalize BEFORE paragraph dedup so fingerprints see composed
        # text (representation variants of the same paragraph collapse)
        from llmap_spark.operators.scrub import normalize_text

        out = (normalize_text(out, text_col=text_col)
               .drop(text_col, "changed")
               .withColumnRenamed("text_clean", text_col))
    # `out` always feeds MULTIPLE branches downstream: dedup_paragraphs
    # references its input twice (paras + counts), and the benchmark path
    # adds the gram explode + anti-join left side. Unpersisted, the
    # keep-list anti-join (and the per-row NFC UDF when enabled) would
    # evaluate once PER BRANCH — the CLAUDE.md branch-recompute gotcha.
    # Registered for release_persisted, same contract as the reps persist
    # in _kept_reps.
    from llmap_spark.cache import register_persisted

    out = register_persisted(out.persist())
    if benchmark is not None:
        dirty = (_decon(out, benchmark, id_col=id_col, text_col=text_col)
                 .filter(F.col("contaminated") == 1)
                 .select(id_col))
        out = out.join(dirty, id_col, "left_anti")
    out = (dedup_paragraphs(out, id_col=id_col, text_col=text_col)
           .withColumnRenamed("text_clean", text_col))
    out = (redact_pii(out, text_col=text_col)
           .drop(text_col)
           .withColumnRenamed("text_redacted", text_col))
    return out.select(id_col, text_col, "n_paras", "n_paras_kept",
                      "n_emails", "n_ipv4", "n_phones")
