"""Supervised quality classification: integer Bernoulli Naive Bayes
over hashed bag-of-words features — the trainable document filter of
the CCNet / GPT-3 curation recipe (a linear log-odds scorer like the
fastText filters those pipelines use), re-expressed Spark-first and
engine-portable.

Why NB and not SGD: training is CLOSED-FORM — one pass over (doc, dim)
presence rows, two map-side-combinable aggregations — so there is no
iteration schedule, no learning rate, and nothing order-dependent to
break the Spark/DuckDB determinism contract (a synchronous batch
perceptron was prototyped and rejected: it limit-cycles on imbalanced
data). At 10^12 documents the shape is exactly two shuffles (per-dim
counts, per-doc score sums) plus broadcasts of the D-row weight table.

Portability: the log-likelihood ratio is computed in integer log-bucket
space (``stats.with_ilog_bucket``: ``≈ k·log2`` with 1/k-bit
resolution, float log2 self-corrected). Laplace-smoothed per-dim
log-odds decompose into SUMS of single-count buckets::

    llr(dim)  = B(pos_df+1) + B(nneg+2) − B(neg_df+1) − B(npos+2)
    prior     = B(npos+1) − B(nneg+1)
    score(d)  = prior + Σ_{dim ∈ d} llr(dim);   predict 1 iff score > 0

— never a product of counts, so every argument is ≤ n+2 and the
arithmetic is BIGINT-safe at 10^12 docs unconditionally (bucket
additivity error ≤ 1 sub-bucket per term, the documented surrogate
trade — the same precedent as BM25's integer idf).

Feature hashing (Weinberger et al. 2009): dim = h48(seed‖word) mod D,
presence-deduplicated AFTER hashing (two colliding words are one
Bernoulli feature — the hashing-trick semantics). Dims unseen in
training fall back to the smoothed default ``B(nneg+2) − B(npos+2)``
(pos_df = neg_df = 0), carried as a sentinel weight row so scoring is
one broadcast join, not a special case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, distinct_words, h48, words_array
from .stats import with_ilog_bucket

#: Sentinel dims in the weight table: PRIOR_DIM carries the class
#: prior, DEFAULT_DIM the weight of a dim never seen in training.
PRIOR_DIM = -1
DEFAULT_DIM = -2

#: Sentinel dim in the COUNT space (one row per document): its (dim, y)
#: counters are the class counts npos/nneg — lets the streaming twin
#: keep the whole training state under one (dim, y) key space.
CLS_DIM = -3

#: Feature-hash seed, shared verbatim with the DuckDB oracle.
NB_SEED = "ft:"


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 256,
) -> DataFrame:
    """``(doc_id, dim)``: distinct hashed word-presence features per
    document (dedup AFTER hashing — the hashing-trick contract)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(distinct_words(F.col(text_col))).alias("w"),
    ).select(
        "doc_id",
        F.pmod(h48(F.concat(F.lit(NB_SEED), F.col("w"))), F.lit(int(dims)))
        .cast("long")
        .alias("dim"),
    ).distinct()


def nb_count_rows(
    df: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    dims: int = 256,
) -> DataFrame:
    """``(dim, y)``: one row per distinct hashed dim per document PLUS
    one ``CLS_DIM`` row per document — the ZERO-SHUFFLE projection
    whose (dim, y) counts are the entire NB training state. Per-doc
    dedup happens inside the row (``array_distinct`` over the hashed
    array) instead of a relational ``.distinct()``, which makes the
    projection legal on an unbounded stream (no stateful dedup) — the
    streaming twin `streaming.stateful.nb_count_stream` shares it
    verbatim. The md5-in-HOF cost is one hash per distinct word — the
    same work the batch path does, evaluated interpreted; acceptable
    here because the projection replaces a distinct SHUFFLE."""
    dimarr = F.array_distinct(
        F.transform(
            distinct_words(F.col(text_col)),
            lambda w: F.pmod(
                h48(F.concat(F.lit(NB_SEED), w)), F.lit(int(dims))
            ).cast("long"),
        )
    )
    return df.select(
        F.col(label_col).cast("long").alias("y"),
        F.explode(
            F.concat(dimarr, F.array(F.lit(CLS_DIM).cast("long")))
        ).alias("dim"),
    ).select("dim", "y")


def nb_weights_from_counts(
    per_dim: DataFrame, cls: DataFrame, k: int = 8
) -> DataFrame:
    """``(dim, llr)`` from the sufficient statistics: ``per_dim`` =
    ``(dim, pos_df, neg_df)`` and ``cls`` = one row ``(npos, nneg)``.
    This is the stateless back half of :func:`nb_train`, factored out
    so the streaming twin's changelog counts feed the SAME arithmetic
    (the shared-subplan discipline)."""
    sentinels = cls.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(PRIOR_DIM).cast("long").alias("dim"),
                    (F.col("npos") + 1).alias("a"),
                    (F.col("nneg") + 1).alias("b"),
                ),
                F.struct(
                    F.lit(DEFAULT_DIM).cast("long").alias("dim"),
                    (F.col("nneg") + 2).alias("a"),
                    (F.col("npos") + 2).alias("b"),
                ),
            )
        ).alias("s")
    ).select("s.dim", "s.a", "s.b")
    # llr = B(pos_df+1) + B(nneg+2) − B(neg_df+1) − B(npos+2)
    weighted = per_dim.crossJoin(F.broadcast(cls)).select(
        "dim",
        (F.col("pos_df") + 1).alias("t1"),
        (F.col("nneg") + 2).alias("t2"),
        (F.col("neg_df") + 1).alias("t3"),
        (F.col("npos") + 2).alias("t4"),
    )
    for src, dst in (("t1", "b1"), ("t2", "b2"), ("t3", "b3"),
                     ("t4", "b4")):
        weighted = with_ilog_bucket(weighted, src, dst, k)
    dim_rows = weighted.select(
        "dim",
        (F.col("b1") + F.col("b2") - F.col("b3") - F.col("b4"))
        .cast("long")
        .alias("llr"),
    )
    s = with_ilog_bucket(
        with_ilog_bucket(sentinels, "a", "ba", k), "b", "bb", k
    ).select("dim", (F.col("ba") - F.col("bb")).cast("long").alias("llr"))
    return dim_rows.unionByName(s)


def nb_train(
    df: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 256,
    k: int = 8,
    features: DataFrame | None = None,
) -> DataFrame:
    """``(dim, llr)``: integer log-odds weight per hashed feature dim,
    plus the ``PRIOR_DIM`` / ``DEFAULT_DIM`` sentinel rows (module
    docstring has the arithmetic). ``label_col`` must be 0/1.

    Shape: one feature pass → ONE per-dim conditional-count agg
    (state ≤ D rows), a 1-row class-count agg broadcast onto it, four
    log-bucket projections. Nothing here scales with corpus size
    except the two combinable aggs.

    ``features`` optionally supplies a prebuilt ``(doc_id, dim)``
    table (e.g. one shared, cut tokenize pass reused by
    :func:`nb_score` — one corpus scan for the whole train+score
    pipeline instead of two); rows are inner-joined to ``df``'s ids,
    so a broader feature table restricts itself to the training
    split automatically."""
    feats = (
        features
        if features is not None
        else hashed_features(df, text_col, id_col, dims)
    ).join(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).cast("long").alias("y"),
        ),
        "doc_id",
    )
    cls = df.agg(
        F.sum(F.col(label_col).cast("long")).alias("npos"),
        F.sum(1 - F.col(label_col).cast("long")).alias("nneg"),
    )
    per_dim = feats.groupBy("dim").agg(
        F.sum("y").cast("long").alias("pos_df"),
        F.sum(1 - F.col("y")).cast("long").alias("neg_df"),
    )
    return nb_weights_from_counts(per_dim, cls, k)


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 256,
    features: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, score, pred)``: prior + Σ llr over the doc's hashed
    dims (unseen dims take the DEFAULT_DIM weight), ``pred`` = 1 iff
    score > 0. One feature pass, one broadcast join against the D-row
    weight table, one per-doc combinable sum; documents with zero
    features are restored by a left join from the id spine (score =
    prior — the explode-drops-empty-docs lesson)."""
    scalars = weights.where(F.col("dim") == PRIOR_DIM).select(
        F.col("llr").alias("prior")
    ).crossJoin(
        weights.where(F.col("dim") == DEFAULT_DIM).select(
            F.col("llr").alias("dflt")
        )
    )
    per_doc = (
        (
            features
            if features is not None
            else hashed_features(df, text_col, id_col, dims)
        )
        .join(F.broadcast(weights.where(F.col("dim") >= 0)), "dim", "left")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("llr", F.col("dflt"))).alias("evidence"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            (F.col("prior") + F.coalesce("evidence", F.lit(0)))
            .cast("long")
            .alias("score"),
        )
        .select(
            "doc_id",
            "score",
            (F.col("score") > 0).cast("long").alias("pred"),
        )
    )


def nb_confusion(
    scored: DataFrame, labeled: DataFrame, split_col: str = "split",
    label_col: str = "y", id_col: str = "doc_id"
) -> DataFrame:
    """``(split, y_true, y_pred, n_docs)``: the evaluation rollup —
    ONE combinable count agg over ≤ |splits|·4 groups."""
    return (
        scored.join(
            labeled.select(
                F.col(id_col).alias("doc_id"),
                F.col(split_col).alias("split"),
                F.col(label_col).cast("long").alias("y_true"),
            ),
            "doc_id",
        )
        .groupBy("split", "y_true", F.col("pred").alias("y_pred"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


#: Feature-hash seed for the DSIR feature space (distinct from NB_SEED
#: so the two hashed spaces can't accidentally alias each other).
DSIR_SEED = "ds:"


def dsir_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 256,
) -> DataFrame:
    """``(doc_id, dim, cnt)``: hashed unigram + bigram COUNT features —
    the multinomial feature space of DSIR (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"; hashed
    n-gram features, §3). Unlike :func:`hashed_features` (Bernoulli
    presence), counts survive hashing: two colliding n-grams pool their
    counts into one bucket — the hashing-trick semantics again.

    Shape: ONE tokenize pass; bigrams via posexplode + window ``lead``
    (the shingling discipline — whole-stage codegen, never array HOFs);
    the token stream is cut because the unigram and bigram projections
    both read it (without the cut the tokenize
    + window subtree executes twice). Then one combinable count agg;
    per-doc state is ≤ min(2·len, dims) rows.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w1"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    stream = cut(tokens.select(
        "doc_id", "w1", F.lead("w1", 1).over(win).alias("w2")
    ))
    grams = stream.select("doc_id", F.col("w1").alias("f")).unionByName(
        stream.where(F.col("w2").isNotNull()).select(
            "doc_id", F.concat_ws(" ", "w1", "w2").alias("f")
        )
    )
    return (
        grams.select(
            "doc_id",
            F.pmod(
                h48(F.concat(F.lit(DSIR_SEED), F.col("f"))),
                F.lit(int(dims)),
            )
            .cast("long")
            .alias("dim"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def dsir_dim_weights(
    rb: DataFrame, tb: DataFrame, dims: int = 256, k: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The stateless back half of :func:`dsir_weights`, factored out so
    the streaming twin's changelog counts feed the SAME arithmetic
    (the nb_weights_from_counts discipline): from the raw and target
    bucket-count tables ``rb(dim, rcnt)`` / ``tb(dim, tcnt)``, return
    ``(dimw(dim, dw), totals(norm))`` — the per-bucket log-ratio term
    and the 1-row smoothing-total normalizer."""
    totals = rb.agg(F.sum("rcnt").cast("long").alias("rtot")).crossJoin(
        tb.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).cast("long")
               .alias("ttot"))
    )
    dimw = rb.join(tb, "dim", "left").select(
        "dim",
        (F.coalesce("tcnt", F.lit(0)) + 1).alias("_t1"),
        (F.col("rcnt") + 1).alias("_r1"),
    )
    dimw = with_ilog_bucket(dimw, "_t1", "_bt", k)
    dimw = with_ilog_bucket(dimw, "_r1", "_br", k).select(
        "dim", (F.col("_bt") - F.col("_br")).cast("long").alias("dw")
    )
    totals = with_ilog_bucket(
        totals.select(
            (F.col("rtot") + dims).alias("_ra"),
            (F.col("ttot") + dims).alias("_ta"),
        ),
        "_ra", "_bra", k,
    )
    totals = with_ilog_bucket(totals, "_ta", "_bta", k).select(
        (F.col("_bra") - F.col("_bta")).cast("long").alias("norm")
    )
    return dimw, totals


def dsir_count_rows(
    df: DataFrame,
    target_col: str = "t",
    text_col: str = "text",
    dims: int = 256,
) -> DataFrame:
    """``(dim, t)``: one row per hashed unigram/bigram OCCURRENCE with
    the document's target flag — the ZERO-SHUFFLE stream-legal
    projection whose (dim, t) counts are the entire DSIR training
    state (raw bucket count = n(dim,0) + n(dim,1); target bucket
    count = n(dim,1); totals = the same sums over all dims — no
    sentinel rows needed). Grams are built INSIDE the row (slice +
    zip_with over the words array — no window, no per-doc shuffle),
    which is what makes the projection legal on an unbounded stream;
    the HOF-interpreted cost is one pass per row, the
    ``nb_count_rows`` precedent. Gram-for-gram parity with the batch
    :func:`dsir_features` windowed build is pinned in tests.
    """
    ws = words_array(F.col(text_col))
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(ws, F.lit(1), n1),
        F.slice(ws, F.lit(2), n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    dimarr = F.transform(
        F.concat(ws, bigrams),
        lambda g: F.pmod(
            h48(F.concat(F.lit(DSIR_SEED), g)), F.lit(int(dims))
        ).cast("long"),
    )
    return df.select(
        F.col(target_col).cast("long").alias("t"),
        F.explode(dimarr).alias("dim"),
    ).select("dim", "t")


def dsir_weights(
    df: DataFrame,
    target_ids: DataFrame | None = None,
    target_features: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 256,
    k: int = 8,
) -> DataFrame:
    """``(doc_id, n_feat, dsir_w)``: integer importance weight of every
    raw document toward a target distribution — DSIR (Xie et al. 2023):
    ``log w(doc) = Σ_b cnt_doc[b]·(log p_target[b] − log p_raw[b])``
    with Laplace-smoothed hashed-bigram bucket models, re-expressed in
    the engine's integer log-bucket space (``stats.with_ilog_bucket``;
    the NB classifier's portability precedent). Decomposition that
    keeps it BIGINT-safe and one-join:

        dsir_w = Σ_b cnt[b]·(B(t[b]+1) − B(r[b]+1))
                 + n_feat·(B(R+dims) − B(T+dims))

    where ``r``/``t`` are raw/target bucket counts, ``R``/``T`` their
    totals, B the log bucket — every bucket argument ≤ total corpus
    tokens, every product ≤ doc length · 64·k, so the arithmetic holds
    unconditionally at 10^12 docs.

    ``target_ids`` (one id column) selects the target as a SUBSET of
    ``df`` and shares its single feature pass; ``target_features``
    supplies an external target corpus instead (pass
    ``dsir_features(external)`` — DSIR's usual Wikipedia-style target).
    Exactly one of the two is required.

    Scale shape: one corpus feature pass (cut — the bucket aggregation
    and the per-doc scoring both read it), two ≤ dims-row combinable
    bucket aggs, the dims-row weight table broadcast onto the feature
    stream, one per-doc combinable sum.
    Zero-token documents are restored from the id spine with
    ``n_feat = 0, dsir_w = 0`` (the explode-drops-empty-docs lesson).
    Selection ("resample the top fraction") composes downstream —
    rank by ``(dsir_w desc, h48(doc_id) asc)`` or feed the histogram
    bucketer (`lm.lm_quality_buckets`), exactly as `classifier_mix`
    does with NB scores.
    """
    if (target_ids is None) == (target_features is None):
        raise ValueError(
            "exactly one of target_ids / target_features is required"
        )
    rf = cut(dsir_features(df, text_col, id_col, dims))
    if target_features is None:
        tfe = rf.join(
            target_ids.select(
                F.col(target_ids.columns[0]).alias("doc_id")
            ).distinct(),
            "doc_id",
        )
    else:
        tfe = target_features
    rb = rf.groupBy("dim").agg(F.sum("cnt").cast("long").alias("rcnt"))
    tb = tfe.groupBy("dim").agg(F.sum("cnt").cast("long").alias("tcnt"))
    dimw, totals = dsir_dim_weights(rb, tb, dims, k)
    scored = (
        rf.join(F.broadcast(dimw), "dim")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feat"),
            F.sum(F.col("cnt") * F.col("dw")).cast("long").alias("_s1"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_feat",
            (F.col("_s1") + F.col("n_feat") * F.col("norm"))
            .cast("long")
            .alias("dsir_w"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feat", F.lit(0)).cast("long").alias("n_feat"),
            F.coalesce("dsir_w", F.lit(0)).cast("long").alias("dsir_w"),
        )
    )
