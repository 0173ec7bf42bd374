"""End-to-end corpus-cleaning pipeline — the composition a 100 TB
training-data run actually executes, built entirely from this repo's
operators:

    documents
      → quality gate          (text_analysis.quality_score ≥ threshold)
      → language gate         (text_analysis.language_id == lang)
      → exact-dup removal     (dedup.exact_dedup keeper per md5 group)
      → near-dup removal      (dedup.minhash_lsh_pairs; drop the higher
                               doc_id of every high-similarity pair)
      → cleaned corpus        (doc_id + token count + quality score)

Composition is where the scale discipline pays off: each stage's
reduction happens before the next stage's shuffle, the near-dup pair
list is orders of magnitude smaller than the corpus (LSH candidates
only), and the final assembly is semi/anti joins on doc_id — no text
column ever crosses a shuffle after the first scan.

The whole pipeline is one declarative plan: Catalyst sees all five
stages at once (shared scans collapse, filters push down through the
joins), which no imperative stage-by-stage runner gets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from userbehavioranalysis_spark.functions import text as T
from userbehavioranalysis_spark.operators import text_analysis
from userbehavioranalysis_spark.operators.dedup import exact_dedup, minhash_lsh_pairs


def _quality_lang_gate(
    documents: DataFrame, min_score: float, lang: str
) -> DataFrame:
    """Quality + language gates fused into ONE per-doc projection:
    (doc_id, n_tokens, score_r4) for docs passing both.

    Equivalent by construction to
    ``quality_score(df).filter(score) ⋈ language_id(df).filter(lang)``
    on doc_id — both operators emit exactly one row per input doc, so
    the inner join is the conjunction of the two filters.  Fusing
    removes a whole scan+tokenize of the batch and the doc_id join
    (one exchange/broadcast per composite evaluation — guide §2.4);
    the expressions come verbatim from text_analysis
    (quality_score_expr / lang_guess_expr), so the values are
    bit-identical to the joined form."""
    return (
        documents.withColumn("tokens", F.expr(T.TOKENS_SPARK))
        .select(
            "doc_id",
            F.expr("cast(size(tokens) as bigint)").alias("n_tokens"),
            F.expr(text_analysis.quality_score_expr()).alias("score_r4"),
            F.expr(text_analysis.lang_guess_expr()).alias("lang_guess"),
        )
        .filter((F.col("score_r4") >= min_score) & (F.col("lang_guess") == lang))
        .select("doc_id", "n_tokens", "score_r4")
    )


def clean_corpus(
    documents: DataFrame,
    min_score: float = 0.5,
    lang: str = "en",
    near_dup_min_matches: int = 9,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cleaned-corpus keep list: (doc_id, n_tokens, score_r4).

    ``near_dup_min_matches`` of 9/12 minhashes ≈ Jaccard ≥ 0.75 — the
    usual near-dup cut; exact-dup groups keep their lowest doc_id, and
    of every near-dup pair the higher doc_id drops (transitively: a doc
    survives iff it is not doc_b of any qualifying pair).

    ``max_bucket`` is the production-scale knob: it forwards to
    ``minhash_lsh_pairs``'s hot-bucket cap, bounding the near-dup pair
    stage to O(corpus · cap) on dup-dense data at a recall cost only in
    mega-buckets (see dedup.minhash_lsh_pairs).  The registered
    ``pipeline_clean_corpus`` query keeps the exact uncapped semantics;
    tools/bench_scale.py measures the capped form as the 100 TB path.
    """
    gated = _quality_lang_gate(documents, min_score, lang)
    exact_keepers = exact_dedup(documents).select(
        F.col("keeper_id").alias("doc_id")
    )
    # no .distinct() on the anti-join side: left_anti is key-set
    # semantics (duplicate loser rows change nothing), and the distinct
    # was one extra exchange per evaluation (guide §2.4); the LSH dup
    # factor is bounded by the band count, so the undeduped side stays
    # O(pairs) at scale
    near_losers = minhash_lsh_pairs(
        documents,
        min_matching_hashes=near_dup_min_matches,
        max_bucket=max_bucket,
    ).select(F.col("doc_b").alias("doc_id"))
    return (
        gated
        .join(exact_keepers, "doc_id", "left_semi")
        .join(near_losers, "doc_id", "left_anti")
    )


def incremental_refresh(
    corpus: DataFrame,
    new_docs: DataFrame,
    min_score: float = 0.5,
    lang: str = "en",
    near_dup_min_matches: int = 9,
    max_bucket: int | None = None,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The daily-crawl refresh loop, composed end-to-end: which NEW
    documents earn a place in the already-cleaned corpus.

        new batch
          → quality gate          (score_r4 ≥ min_score)
          → language gate         (lang_guess == lang)
          → exact self-dedup      (keep lowest doc_id per md5 group)
          → exact corpus check    (md5 already in corpus → drop)
          → near-dup self-dedup   (minhash_lsh_pairs on the batch;
                                   higher doc_id of each pair drops)
          → near-dup corpus probe (minhash_incremental_matches vs the
                                   persisted band index; any match →
                                   drop — the corpus is never touched)
          → append list           (doc_id, n_tokens, score_r4)

    This is the production shape the incremental operators were built
    for: every corpus-sized computation (signatures, band buckets, the
    md5 set) is the PERSISTED artifact a real pipeline builds once —
    pass ``corpus_index`` (from dedup.minhash_corpus_index or read back
    from dedup.minhash_index_write's parquet) to probe it; only the
    batch is tokenized, hashed and gated per run, so the per-refresh
    cost is O(batch), not O(corpus).  Like clean_corpus, the whole
    thing is one declarative plan — the gates are joins Catalyst
    reorders and collapses around the shared batch scan.

    ``max_bucket`` forwards to BOTH near-dup stages (the corpus side of
    the probe and the batch's self-LSH); ``None`` keeps exact
    semantics — the registered query uses that form so the oracle is a
    full SQL replay.
    """
    from userbehavioranalysis_spark.operators.cachepool import release_pooled
    from userbehavioranalysis_spark.operators.dedup import (
        minhash_corpus_index,
        minhash_incremental_matches,
    )

    if corpus_index is None:
        # cache the internally-built index: its signature subtree feeds
        # two plan branches of the probe (band join + score join) — a
        # plain lazy pair would tokenize+minhash the CORPUS twice in
        # one job.  Caller-owned caches (one-shot per refresh; Spark's
        # LRU reclaims after the composed plan is consumed).  Release
        # the default pool FIRST: an earlier operator (e.g.
        # minhash_incremental_matches without an index) may have pooled
        # a plan-equal corpus signature, and unpersist() works by plan
        # equality — released later by the self-LSH step, that stale
        # frame would uncache this index too.
        release_pooled()
        sig_c, bk_c = minhash_corpus_index(corpus, max_bucket=max_bucket)
        corpus_index = (sig_c.cache(), bk_c.cache())
    gated = _quality_lang_gate(new_docs, min_score, lang)
    self_exact_keepers = exact_dedup(new_docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    corpus_md5 = corpus.select(F.md5("text").alias("text_md5")).distinct()
    corpus_exact_losers = (
        new_docs.select("doc_id", F.md5("text").alias("text_md5"))
        .join(corpus_md5, "text_md5", "left_semi")
        .select("doc_id")
    )
    # anti-join sides are NOT deduped — see clean_corpus
    corpus_near_losers = minhash_incremental_matches(
        None,
        new_docs,
        min_matching_hashes=near_dup_min_matches,
        corpus_index=corpus_index,
    ).select(F.col("new_doc_id").alias("doc_id"))
    # self-LSH last: its release_pooled() only drops its own pool, and
    # its batch-signature subtree is plan-identical to the probe's
    # cached sig_n, so the CacheManager serves it from the same blocks
    self_near_losers = minhash_lsh_pairs(
        new_docs,
        min_matching_hashes=near_dup_min_matches,
        max_bucket=max_bucket,
    ).select(F.col("doc_b").alias("doc_id"))
    return (
        gated
        .join(self_exact_keepers, "doc_id", "left_semi")
        .join(corpus_exact_losers, "doc_id", "left_anti")
        .join(self_near_losers, "doc_id", "left_anti")
        .join(corpus_near_losers, "doc_id", "left_anti")
    )


def screen_against_corpus(
    corpus_md5: DataFrame,
    corpus_index: tuple[DataFrame, DataFrame],
    new_docs: DataFrame,
    min_score: float = 0.5,
    lang: str = "en",
    near_dup_min_matches: int = 9,
) -> DataFrame:
    """Per-document corpus screening — the STREAMING-shaped subset of
    :func:`incremental_refresh`: quality gate, language gate, exact
    md5-vs-corpus check, and the near-dup probe of the persisted corpus
    index.  Every gate is PER-DOC (no within-delta keepers or self
    pairs), so the result is batching-invariant by construction: the
    union over any micro-batching of ``new_docs`` equals the
    whole-delta result exactly — the property the streaming replay's
    hash oracle proves end-to-end.  Within-delta self-dedup is the
    daily REWRITE's job (incremental_refresh); this is the arrival-time
    screen that keeps obvious corpus dups out of the landing zone.

    Both corpus artifacts are caller-owned persisted state (the md5
    set and the band index a production pipeline builds once), so each
    call costs O(batch).
    """
    from userbehavioranalysis_spark.operators.dedup import (
        minhash_incremental_matches,
    )

    gated = _quality_lang_gate(new_docs, min_score, lang)
    corpus_exact_losers = (
        new_docs.select("doc_id", F.md5("text").alias("text_md5"))
        .join(corpus_md5, "text_md5", "left_semi")
        .select("doc_id")
    )
    # anti-join side not deduped — see clean_corpus
    corpus_near_losers = minhash_incremental_matches(
        None,
        new_docs,
        min_matching_hashes=near_dup_min_matches,
        corpus_index=corpus_index,
    ).select(F.col("new_doc_id").alias("doc_id"))
    return (
        gated
        .join(corpus_exact_losers, "doc_id", "left_anti")
        .join(corpus_near_losers, "doc_id", "left_anti")
    )


def refresh_against_persisted(
    new_docs: DataFrame,
    index_path: str,
    md5_path: str,
    min_score: float = 0.5,
    lang: str = "en",
    near_dup_min_matches: int = 9,
) -> DataFrame:
    """:func:`incremental_refresh` with BOTH corpus artifacts read from
    disk — the md5 set parquet and the band index written by
    dedup.minhash_index_write — so the caller can run the true daily
    loop: probe, gate, then APPEND the survivors' artifacts
    (dedup.minhash_index_append + an md5 append) before the next batch
    arrives.  All six gates, O(batch) per call, corpus touched only
    through its persisted artifacts.

    The probe order matters for the shared-subtree cache: the indexed
    corpus probe runs first (it caches the batch signature subtree),
    and the self-LSH's plan-identical subtree then hits those blocks.
    """
    from userbehavioranalysis_spark.operators.dedup import (
        minhash_incremental_matches_indexed,
    )

    spark = new_docs.sparkSession
    gated = _quality_lang_gate(new_docs, min_score, lang)
    self_exact_keepers = exact_dedup(new_docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    corpus_exact_losers = (
        new_docs.select("doc_id", F.md5("text").alias("text_md5"))
        # explicit schema: the md5-set layout is this module's own
        # (single string column) — footer inference would be an extra
        # Spark job on every refresh micro-batch
        .join(
            spark.read.schema("text_md5 string").parquet(md5_path),
            "text_md5",
            "left_semi",
        )
        .select("doc_id")
    )
    # anti-join sides not deduped — see clean_corpus
    corpus_near_losers = minhash_incremental_matches_indexed(
        new_docs, index_path, min_matching_hashes=near_dup_min_matches
    ).select(F.col("new_doc_id").alias("doc_id"))
    self_near_losers = minhash_lsh_pairs(
        new_docs, min_matching_hashes=near_dup_min_matches
    ).select(F.col("doc_b").alias("doc_id"))
    return (
        gated
        .join(self_exact_keepers, "doc_id", "left_semi")
        .join(corpus_exact_losers, "doc_id", "left_anti")
        .join(self_near_losers, "doc_id", "left_anti")
        .join(corpus_near_losers, "doc_id", "left_anti")
    )
