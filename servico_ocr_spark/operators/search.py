"""Retrieval over the corpus: integer-contract BM25 top-k search.

The inverted index (`textstats.inverted_index`) materializes the
term→postings shape a corpus pipeline reuses; this module is its
flagship consumer — ranked retrieval of the best-matching documents
for a small query-term set (Robertson & Spärck Jones probabilistic
relevance framework; the BM25 form follows Robertson et al., TREC-3).
The reference service has no search face; this follows the public
retrieval-pipeline shape re-expressed Spark-first.

Portability contract (the driver bans float aggregates — every score
must hash identically between Spark and the DuckDB oracle):

- All arithmetic is fixed-point integer with **truncating division**
  (`div` in Spark, `//` in DuckDB; every operand here is non-negative,
  so trunc == floor and the engines agree).
- ``idf`` uses the integer *argument* of BM25's log as a surrogate
  (same precedent as `word_cooccurrence`'s lift-style PMI surrogate):
  ``idf = ((n_docs - df + 1) · idf_scale) div (df + 1)`` — monotone
  decreasing in df, ≥ 0, and portable. The log's dynamic-range
  compression is deliberately traded for bit-determinism.
- ``avgdl`` is the integer mean ``max(1, total_tokens div n_docs)``;
  the sub-token remainder is dropped on both engines identically.
- Division ORDER is part of the contract (overflow-safe): with
  ``idf_scale = 100`` the per-term product is ≤ ~2·10⁻¹⁷ of int64 at
  n_docs = 10¹², and the length-norm path never forms ``dl·n_docs``
  (the naive scaling that overflows at web scale) — only
  ``(dl·100) div avgdl``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, distinct_words, norm_text, words_array

__all__ = ["bm25_by_example", "bm25_hard_negatives", "bm25_topk", "rrf_fuse"]


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
    idf_scale: int = 100,
    tf_scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, n_terms, dl, score)``: the ``k`` best BM25 matches
    for ``terms`` (deduplicated, matched against the shared
    `common.words_array` tokenization so index and query agree),
    ordered by ``(score desc, doc_id asc)`` — the tiebreak makes the
    LIMIT boundary deterministic on both engines.

    Fixed-point score, per matched (doc, term) — ``k1_pct``/``b_pct``
    are k1·100 and b·100 (defaults k1 = 1.2, b = 0.75):

    - ``rel   = (dl · 100) div avgdl``               (dl/avgdl, ×100)
    - ``inner = (100 − b_pct) + (b_pct · rel) div 100``        (×100)
    - ``tfc   = (tf · (k1_pct+100) · 100 · tf_scale)
                 div (tf · 10⁴ + k1_pct · inner)``   (tf-saturation)
    - ``score = Σ_t idf_t · tfc_t``

    Documents containing none of the terms are not scored (standard
    retrieval semantics — at 10¹² docs the candidate set is the point).

    Scale shape, stage by stage:

    1. one corpus-scalar aggregation (n_docs, total_tokens, avgdl) —
       map-side-combinable, 1-row broadcast;
    2. explode → filter to the query terms → hash-aggregate
       ``(doc, term) → tf``: keyed on (doc, term) so a stopword query
       term still spreads over all partitions (no hot-key straggler);
       the filter runs before the shuffle, so shuffle volume is
       Θ(matching tokens), not corpus tokens;
    3. per-term df: a ≤ |terms|-row aggregate, broadcast back — no
       second corpus pass for document frequencies;
    4. per-doc score: one map-side-combinable sum keyed on doc;
    5. top-k as ``orderBy(...).limit(k)`` — TakeOrderedAndProject
       keeps a k-row heap per partition, never a global sort.
    """
    qterms = sorted(set(terms))
    if not qterms:
        raise ValueError("at least one query term required")
    if k < 1:
        raise ValueError("k >= 1 required")
    words = df.select(
        F.col(id_col).alias("doc_id"),
        words_array(F.col(text_col)).alias("ws"),
    )
    scalars = words.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.size("ws")), F.lit(0))
        .cast("long")
        .alias("total_tokens"),
    ).select(
        "n_docs",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("total_tokens div n_docs").cast("long"),
        ).alias("avgdl"),
    )
    qtf = (
        words.select(
            "doc_id",
            F.size("ws").cast("long").alias("dl"),
            F.explode("ws").alias("word"),
        )
        .where(F.col("word").isin(qterms))
        .groupBy("doc_id", "word")
        .agg(
            F.count("*").cast("long").alias("tf"),
            # constant within the group (dl is per-doc); max is exact
            F.max("dl").alias("dl"),
        )
    )
    dfreq = qtf.groupBy("word").agg(
        F.count("*").cast("long").alias("df_t")
    )
    per_term = (
        qtf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            "dl",
            F.expr(
                f"((n_docs - df_t + 1) * {int(idf_scale)})"
                f" div (df_t + 1)"
            ).alias("idf"),
            F.expr(
                f"(tf * {int(k1_pct) + 100} * 100 * {int(tf_scale)})"
                f" div (tf * 10000 + {int(k1_pct)} * "
                f"((100 - {int(b_pct)})"
                f" + ({int(b_pct)} * ((dl * 100) div avgdl)) div 100))"
            ).alias("tfc"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.max("dl").cast("long").alias("dl"),
            F.sum(F.col("idf") * F.col("tfc"))
            .cast("long")
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_by_example(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
    idf_scale: int = 100,
    tf_scale: int = 1000,
    max_term_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(query_id, doc_id, n_terms, score, rank)``: query-by-example
    ("more like this") BM25 — every document in ``queries`` retrieves
    its ``k`` best corpus matches using its OWN distinct words as the
    term set, self excluded. Same fixed-point arithmetic and division-
    order contract as :func:`bm25_topk`.

    ``max_term_df`` drops query terms whose corpus document frequency
    exceeds the cap BEFORE matching — the stopword guard: an uncapped
    80%-df term makes every query's candidate set Θ(corpus). With the
    cap, per-query match volume is Σ_t df(t) ≤ |terms|·cap.

    Scale shape: ONE corpus scan builds the postings table
    ((doc, word) → tf, dl — the inverted-index shape retrieval systems
    materialize anyway), cut because everything
    downstream derives from it: corpus scalars (re-aggregated from
    postings, no second scan), per-word df (vocab-sized, capped), the
    query term sets (postings ⋈ broadcast query ids), and the match
    probe (postings ⋈ broadcast capped query terms — the broadcast side
    is Q docs × their distinct words). Ranking is a per-query window
    under WindowGroupLimit (per-partition k-heap before the exchange).

    Note: ``n_docs``/``avgdl`` are over documents WITH ≥ 1 token
    (postings-derived); a fully-empty document neither matches nor
    shifts the length norm.
    """
    if k < 1:
        raise ValueError("k >= 1 required")
    # Tokenize by explode-then-filter, NOT size(words_array) +
    # explode(words_array): words_array is a higher-order `filter`
    # expression — a CodegenFallback — so that shape evaluated the
    # whole normalize+split subtree INTERPRETED and TWICE per row
    # (measured 15.6 s driver-side materialization of the postings
    # cut at sf0.1, jstack showing StringTranslate.nullSafeEval;
    # the r2 HOF lesson, re-learned here). Exploding the raw split and
    # filtering '' rows relationally keeps every expression inside
    # whole-stage codegen; dl (non-empty token count) is recovered as
    # the per-doc sum of tf — one window over the already-aggregated
    # postings, never a second corpus pass. Chain total: 13.0 → 2.4 s.
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("word"),
    ).where(F.col("word") != "")
    postings = cut(
        tok.groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn(
            "dl",
            F.sum("tf").over(Window.partitionBy("doc_id")).cast("long"),
        )
    )
    scalars = (
        postings.groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        )
        .select(
            "n_docs",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("total_tokens div n_docs").cast("long"),
            ).alias("avgdl"),
        )
    )
    dfreq = postings.groupBy("word").agg(
        F.count("*").cast("long").alias("df_t")
    )
    if max_term_df is not None:
        dfreq = dfreq.where(F.col("df_t") <= max_term_df)
    qids = queries.select(F.col(id_col).alias("query_id")).distinct()
    qt = (
        postings.join(
            F.broadcast(qids),
            postings["doc_id"] == qids["query_id"],
        )
        .join(dfreq, "word")
        .select("query_id", "word", "df_t")
    )
    matched = postings.join(F.broadcast(qt), "word").where(
        F.col("doc_id") != F.col("query_id")
    )
    per_term = matched.crossJoin(F.broadcast(scalars)).select(
        "query_id",
        "doc_id",
        F.expr(
            f"((n_docs - df_t + 1) * {int(idf_scale)}) div (df_t + 1)"
        ).alias("idf"),
        F.expr(
            f"(tf * {int(k1_pct) + 100} * 100 * {int(tf_scale)})"
            f" div (tf * 10000 + {int(k1_pct)} * "
            f"((100 - {int(b_pct)})"
            f" + ({int(b_pct)} * ((dl * 100) div avgdl)) div 100))"
        ).alias("tfc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_term.groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(F.col("idf") * F.col("tfc")).cast("long").alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def bm25_hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    cand_k: int = 20,
    sim_threshold_pct: int = 50,
    max_term_df: int | None = None,
    max_word_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(query_id, doc_id, score, jaccard_pct, neg_rank)``: hard
    negatives for contrastive retrieval training — per query, the top
    ``k`` BM25 candidates that are lexically CLOSE but NOT near-
    duplicates. The classic mining recipe (DPR / sentence-transformers,
    public method): retrieve with the sparse scorer, then knock out the
    retrieved docs that are actually positives (near-dups of the
    query) so the training pair is "looks relevant, isn't the same
    document". Complements ``negative_sampling``'s random ring
    negatives: random negatives are easy; these carry gradient.

    Positives are decided by EXACT normalized-word-set Jaccard ≥
    ``sim_threshold_pct`` — not by banding — because the check runs
    only on the ≤ |Q|·cand_k retrieved pairs, where exact verification
    is cheap (the candidate set is the expensive part, and BM25
    already paid for it). BM25 scores raw tokens while the Jaccard
    gate sees the dedup pass's normalized capped word sets
    (``max_word_df``, the minhash discipline) — deliberately the same
    lens the corpus dedup uses, so "negative" here means "the dedup
    pass would NOT have removed it".

    Shape: bm25_by_example does the heavy lifting (one corpus scan);
    the verify stage is the capped word table, cut (three references:
    sizes + both join sides), one fan-out join bounded by
    |pairs|·|query words|, and LEFT joins back onto the candidate list
    so zero-overlap pairs survive as jaccard 0 (the
    explode-drops-empty-rows lesson). Final rank is a per-query window
    over ≤ cand_k rows."""
    from .dedup import _cap_doc_freq

    cands = bm25_by_example(
        df,
        queries,
        k=cand_k,
        max_term_df=max_term_df,
        text_col=text_col,
        id_col=id_col,
    ).select("query_id", "doc_id", "score")
    wx = cut(_cap_doc_freq(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(distinct_words(F.col(text_col))).alias("w"),
        ),
        "w",
        max_word_df,
    ))
    sizes = wx.groupBy("doc_id").agg(F.count("*").cast("long").alias("nw"))
    inter = (
        cands.join(
            wx.select(F.col("doc_id").alias("query_id"), "w"), "query_id"
        )
        .join(wx, ["doc_id", "w"])
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    joined = (
        cands.join(inter, ["query_id", "doc_id"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("query_id"),
                         F.col("nw").alias("na")),
            "query_id",
            "left",
        )
        .join(
            sizes.select("doc_id", F.col("nw").alias("nb")),
            "doc_id",
            "left",
        )
        .select(
            "query_id",
            "doc_id",
            "score",
            F.coalesce("inter", F.lit(0)).alias("i"),
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .select(
            "query_id",
            "doc_id",
            "score",
            F.when(F.col("na") + F.col("nb") - F.col("i") <= 0, F.lit(0))
            .otherwise(
                F.expr("(i * 100) div (na + nb - i)")
            )
            .cast("long")
            .alias("jaccard_pct"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        joined.where(F.col("jaccard_pct") < sim_threshold_pct)
        .withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= k)
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    k0: int = 60,
    scale: int = 1_000_000,
) -> DataFrame:
    """``(query_id, doc_id, rank_a, rank_b, rrf_x1e6, rank)``:
    reciprocal-rank fusion of two ranked retrieval lists (Cormack,
    Clarke & Büttcher, SIGIR 2009 — public method), the standard hybrid
    sparse+dense combiner. Integer contract: each list contributes
    ``scale div (k0 + rank)``; a document absent from a list
    contributes 0 and reports rank −1 (the crawl_delta sentinel rule).
    ``k0 = 60`` is the paper's constant.

    Inputs are (query_id, doc_id, rank) relations — ALREADY truncated
    top-k lists (fusing truncated lists is RRF's normal deployment).
    Both sides are per-query-bounded, so the full-outer merge join and
    the per-query rank window cost Θ(Q·k). The final rank breaks rrf
    ties on doc_id ascending (deterministic LIMIT boundary)."""
    ar = a.select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank_a")
    )
    br = b.select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank_b")
    )
    fused = ar.join(br, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce("rank_a", F.lit(-1)).cast("long").alias("rank_a"),
        F.coalesce("rank_b", F.lit(-1)).cast("long").alias("rank_b"),
        (
            F.coalesce(
                F.expr(f"{int(scale)} div ({int(k0)} + rank_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{int(scale)} div ({int(k0)} + rank_b)"), F.lit(0)
            )
        ).cast("long").alias("rrf_x1e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_x1e6"), F.asc("doc_id")
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)
