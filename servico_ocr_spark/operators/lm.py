"""Corpus n-gram language model + LM-based quality filtering.

The CCNet move (Wenzek et al., LREC 2020 — public method): train a
language model on the corpus (CCNet uses KenLM on Wikipedia; here a
bigram model on the corpus itself — self-scoring, the in-domain
variant), score every document by its per-token likelihood, then
bucket documents into head/middle/tail by the CORPUS-RELATIVE position
of their score. The bucket boundaries are properties of the whole
corpus, not of any single document — the part that is genuinely a
distributed-systems problem at 10^12 documents, solved here with a
score-space-bounded histogram instead of a global sort.

Integer contract (the driver rule — no float aggregates): conditional
probabilities are parts-per-10^6 surrogates ``p_x1e6 = c(w1,w2)·10^6
div c(w1·)`` (truncating division, monotone in the true probability),
and the document score is the MEAN bigram ``p_x1e6`` — an integer
likelihood surrogate rather than a log-perplexity (the bm25/
token_rarity precedent: integer surrogate, same ordering intent,
engine-portable). BIGINT-safe while the hottest context occurs
< 9·10^12 times (the word_pmi bound — ~10^12 docs).

No reference analog: the reference (luizanisio/Servico-OCR) has no
corpus-level statistics; this face exists for the training-data
curation mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, h48, words_array

#: parts-per-1e6 probability scale shared by the model and the scores
LM_SCALE = 1_000_000


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(doc_id, w1, w2)`` — one row per bigram OCCURRENCE, document
    order. posexplode + window lead (whole-stage codegen — the shingling
    discipline, never array HOFs); one doc-keyed shuffle."""
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w1"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    return tokens.select(
        "doc_id", "w1", F.lead("w1", 1).over(win).alias("w2")
    ).where(F.col("w2").isNotNull())


def bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(w1, w2, n_bigram, n_ctx, p_x1e6)``: corpus bigram model with
    integer conditional probabilities — ``n_ctx`` is the context count
    c(w1·) = Σ_w2 c(w1,w2) (occurrences of w1 WITH a successor, so the
    per-context probabilities sum to ~10^6 minus truncation dust).

    Scale shape: one doc-keyed window shuffle builds the bigram stream,
    then ONE map-side-combinable count by (w1, w2) — a stopword bigram
    occurring 10^9 times collapses in the combiner. Context counts are
    derived by RE-AGGREGATING the bigram table (bounded by distinct
    bigrams ≤ |V|², tiny next to the occurrence stream — never a second
    corpus scan), and the final join is keyed on w1 over two
    already-aggregated frames. Documents stream through; only
    model-sized state survives.
    """
    counts = (
        _doc_bigrams(df, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_bigram"))
    )
    ctx = counts.groupBy("w1").agg(
        F.sum("n_bigram").cast("long").alias("n_ctx")
    )
    return counts.join(ctx, "w1").select(
        "w1",
        "w2",
        "n_bigram",
        "n_ctx",
        F.expr(f"(n_bigram * {LM_SCALE}) div n_ctx")
        .cast("long")
        .alias("p_x1e6"),
    )


def lm_doc_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, n_bigrams, lm_score_x1e6)``: per-document mean bigram
    probability under the corpus's own bigram model (self-scoring —
    every document's bigrams exist in the model, so there is no unseen
    backoff; a held-out model would add a left join with a floor).

    The bigram stream is built ONCE and cut — the model aggregation and
    the per-doc side both read it, and without the cut the doc-keyed
    window subtree executes twice. The per-doc side pre-aggregates to
    (doc_id, w1, w2, occurrences) BEFORE joining the model, so the join
    probe carries per-doc distinct bigrams, not raw occurrences; a
    corpus-hot bigram ("of the" in most documents) is a bounded probe
    straggler AQE's skew split handles — the build side has exactly one
    row per key. Documents with < 2 tokens are restored by a left join
    from the id universe with ``n_bigrams = 0, score = 0`` (the
    zero-token restore rule) so the percentile stage sees EVERY
    document, as CCNet's does."""
    bi = cut(_doc_bigrams(df, text_col, id_col))
    model = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_bigram"))
        .withColumn(
            "n_ctx",
            F.sum("n_bigram").over(Window.partitionBy("w1")).cast("long"),
        )
        .select(
            "w1",
            "w2",
            F.expr(f"(n_bigram * {LM_SCALE}) div n_ctx").alias("p_x1e6"),
        )
    )
    per_doc = (
        bi.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("n_occ"))
        .join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.expr("sum(n_occ * p_x1e6) div sum(n_occ)")
            .cast("long")
            .alias("lm_score_x1e6"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("lm_score_x1e6", F.lit(0))
        .cast("long")
        .alias("lm_score_x1e6"),
    )


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    subsample_ppm: int = 10_000,
    salt: str = "sg",
) -> DataFrame:
    """``(center, context, n_pairs)``: word2vec skip-gram training pairs
    (Mikolov et al. 2013 — public method) with DETERMINISTIC
    frequent-word subsampling, engine-portable.

    Subsampling replaces word2vec's coin flip ``p_keep = sqrt(t/f)``
    with an exact integer test on the portable 48-bit hash: an
    occurrence is kept iff ``r² · f_ppm ≤ t_ppm · 10^12`` where
    ``r = h48(salt:doc:pos:word) mod 10^6``, ``f_ppm`` is the word's
    corpus frequency in parts-per-10^6 and ``t_ppm`` the threshold —
    algebraically ``(r/10^6) ≤ sqrt(t/f)``, so the keep RATE matches
    word2vec's formula while the decision replays bit-identically on
    any engine. BIGINT-safe unconditionally: ``r² < 10^12``,
    ``f_ppm ≤ 10^6`` → the product stays < 10^18.

    As in word2vec, dropped occurrences are removed BEFORE windowing —
    surviving tokens are re-ranked per document (``row_number``) and
    contexts are the ``window`` successors in the compacted sequence,
    emitted in both directions. Scale shape: one corpus scan → token
    stream; the frequency join probes with occurrences against a
    one-row-per-word build (hot-word probe skew is AQE's skew-join
    case); ONE doc-keyed window computes the re-rank and all ``window``
    leads together (array + posexplode — the window subtree evaluates
    once); pair counting is a map-side-combinable agg bounded by
    distinct pairs ≤ |V|². The aggregated forward-pair table is
    referenced twice for the symmetric merge, so it is cut.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w"),
    )
    # vocab-sized and referenced twice (total + the ppm projection):
    # without the cut the corpus-wide count agg — and its scan —
    # executes twice (measured 5 scans -> 2 at sf0.01)
    freq = cut(tokens.groupBy("w").agg(F.count("*").cast("long").alias("f")))
    total = freq.agg(
        F.greatest(F.sum("f"), F.lit(1)).cast("long").alias("t")
    )
    freq_ppm = freq.crossJoin(F.broadcast(total)).select(
        "w", F.expr(f"(f * {LM_SCALE}) div t").cast("long").alias("f_ppm")
    )
    kept = (
        tokens.join(freq_ppm, "w")
        .withColumn(
            "r",
            F.pmod(
                h48(F.concat_ws(":", F.lit(salt), "doc_id", "pos", "w")),
                F.lit(LM_SCALE),
            ),
        )
        .where(
            F.col("r") * F.col("r") * F.col("f_ppm")
            <= F.lit(int(subsample_ppm) * LM_SCALE * LM_SCALE)
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    ctxs = kept.select(
        "doc_id",
        F.col("w").alias("center"),
        F.array(
            *[F.lead("w", d).over(win) for d in range(1, window + 1)]
        ).alias("nexts"),
    )
    fwd = cut(
        ctxs.select("center", F.explode("nexts").alias("context"))
        .where(F.col("context").isNotNull())
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n"))
    )
    both = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"),
            F.col("center").alias("context"),
            "n",
        )
    )
    return both.groupBy("center", "context").agg(
        F.sum("n").cast("long").alias("n_pairs")
    )


def lm_quality_buckets(scores: DataFrame) -> DataFrame:
    """``(doc_id, n_bigrams, lm_score_x1e6, bucket)``: head/middle/tail
    thirds by corpus-relative score position (CCNet's split), higher
    score = more model-typical = head.

    The percentile machinery never sorts the corpus: ONE map-side-
    combinable histogram agg (count per distinct score value — bounded
    by the score SPACE, ≤ 10^6+1 rows, independent of corpus size),
    then a global cumulative window over that bounded histogram (one
    task, the length_quantiles rank-arithmetic precedent — acceptable
    because its size is a property of LM_SCALE, not of the data), and
    an equi-join of docs back to their score's histogram row. Bucket =
    arithmetic on the strictly-greater cumulative count ``gt``:
    head if gt·3 < n, middle if gt·3 < 2n, else tail — ties share a
    score, hence a ``gt``, hence a bucket (deterministic; a boundary
    tie-block lands whole in the better bucket).

    ``scores`` is referenced TWICE (histogram build + the join back),
    so it is cut here — without the cut the whole upstream scoring
    pipeline (window, model join, restore join) executes twice,
    verified in the plan.
    """
    scores = cut(scores)
    w = (
        Window.orderBy(F.col("lm_score_x1e6").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        scores.groupBy("lm_score_x1e6")
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            "lm_score_x1e6",
            F.coalesce(F.sum("c").over(w), F.lit(0)).alias("gt"),
            F.sum("c").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        .select(
            "lm_score_x1e6",
            F.when(F.col("gt") * 3 < F.col("n"), F.lit("head"))
            .when(F.col("gt") * 3 < 2 * F.col("n"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    return scores.join(hist, "lm_score_x1e6").select(
        "doc_id", "n_bigrams", "lm_score_x1e6", "bucket"
    )
