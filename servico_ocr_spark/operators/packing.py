"""Training-set assembly: deterministic splits and sequence packing.

The last mile of a training-data pipeline, after curation/dedup: assign
every document to a train/val/test split REPRODUCIBLY (re-running the
pipeline over a grown corpus must not move old documents between
splits), then pack documents into fixed-capacity token sequences
(concat-and-chunk, the standard pretraining batch layout).

Both operators are pure DataFrame expressions with exact DuckDB oracle
twins; neither touches Python workers.

Scale notes:

- ``assign_split`` is a pure projection (zero shuffle). The assignment
  key is the portable 48-bit hash of a salted id — hash-based, so the
  split is a property of the DOCUMENT, not of the corpus snapshot:
  adding documents never reassigns existing ones (a row_number-based
  split would).
- ``pack_sequences`` needs a running token total, which is inherently
  sequential — a single global ordering window would be a one-task
  straggler at 10^12 docs. Packing therefore runs WITHIN HASH SHARDS:
  one shuffle on ``shard`` (pick n_shards ≈ a few × executor count),
  then a per-shard cumulative sum whose cost is corpus/n_shards per
  task. Shards are independent token streams — exactly how multi-worker
  pretraining readers consume data — so sharded packing is the honest
  distributed semantics, not an approximation of a global order. The
  shard salt is the full-entropy document id hash, never a coarse
  modulus (the balls-into-bins repartition lesson).
- ``token_budget_mix`` is one map-side-combinable aggregation over
  #strata rows plus a broadcast of those rows back onto a pure filter —
  the whole mixing decision costs one tiny shuffle regardless of corpus
  size, and the per-document keep/drop is a property of the document
  hash, so re-running the mix over a grown corpus only ADDS documents
  at an updated rate, it never flaps old decisions for a fixed rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, h48, norm_text, words_array


def assign_split(
    df: DataFrame,
    splits: list[tuple[str, int]] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column by deterministic hash bucketing.

    ``splits`` is a list of (name, percent) pairs summing to 100; the
    bucket is ``h48(salt || ':' || id) % 100`` and consecutive bucket
    ranges are assigned in list order. Changing ``salt`` re-rolls the
    assignment; keeping it fixed makes the split stable across corpus
    growth."""
    splits = splits or [("train", 98), ("val", 1), ("test", 1)]
    if sum(p for _, p in splits) != 100:
        raise ValueError("split percents must sum to 100")
    bucket = h48(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    ) % 100
    expr = None
    lo = 0
    for name, pct in splits:
        cond = bucket < lo + pct
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    capacity: int,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    deterministic (shard, id) order and cut into ``capacity``-token
    sequences; each document reports the pack it STARTS in and its token
    offset there (a doc longer than the remaining room spans into the
    following packs, as pretraining chunking does).

    Returns ``doc_id, shard, pack_seq, pack_offset, n_tokens``. Token
    count is the normalized whitespace word count unless
    ``token_count_col`` names a precomputed column (e.g. a real BPE
    count from ``textstats.token_counts``)."""
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    if token_count_col:
        n_tokens = F.col(token_count_col).cast("long")
    else:
        n_tokens = F.size(
            F.filter(F.split(norm_text(F.col(text_col)), " "),
                     lambda x: x != "")
        ).cast("long")
    shard = h48(
        F.concat(F.lit("pack:"), F.col(id_col).cast("string"))
    ) % n_shards
    base = df.select(
        F.col(id_col).alias("doc_id"),
        shard.cast("long").alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer arithmetic throughout: `div` keeps the pack index exact
    # where double division would round past 2^53 total tokens
    return (
        base.withColumn(
            "_cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "shard",
            F.expr(f"_cum div {int(capacity)}").cast("long").alias("pack_seq"),
            (F.col("_cum") % F.lit(int(capacity)))
            .cast("long")
            .alias("pack_offset"),
            "n_tokens",
        )
    )


def token_budget_mix(
    df: DataFrame,
    budget: int,
    weights: dict[str, int] | None = None,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_denom: int = 10_000,
    salt: str = "mix",
    token_count_col: str | None = None,
) -> DataFrame:
    """Deterministic data-mix sampling to a token budget.

    The standard pretraining "data mixing" step: given a total token
    ``budget`` and per-stratum ``weights`` (a recipe like
    ``{"web": 6, "code": 3, "books": 1}``), sample each stratum at the
    rate that lands its token mass on ``budget * w_s / sum(w)``, capped
    at keep-everything when the stratum is smaller than its target.
    ``weights=None`` means uniform over the strata PRESENT in the data
    (the stratum count is derived from the data itself, so the default
    is scale-invariant); with explicit weights, strata missing from the
    recipe are dropped (weight 0) — recipes are allowlists.

    All arithmetic is integer and engine-portable:

    - per-stratum rate in parts-per-``rate_denom``:
      ``k_s = min(D, (budget * w_s * D) div (W * T_s))`` where ``T_s``
      is the stratum's total token count and ``W = sum(weights)``
      (a stratum with ``T_s = 0`` keeps everything — the ``min(1, ·)``
      limit as supply vanishes);
    - a document is kept iff ``h48(salt || ':' || id) * D < k_s * 2^48``
      — the same portable 48-bit md5 hash as the split assignment, so
      the decision replays identically in any engine. Sampling noise is
      binomial around the target; the expectation is exact.

    BIGINT bound: ``budget * max(w) * D`` must stay below 2^63 — with
    the default D = 10^4 and single-digit weights that allows budgets
    past 10^14 tokens; larger runs should lower D (1 000 still gives
    0.1 % rate resolution).

    Returns kept rows: ``(doc_id, stratum, n_tokens, rate_pp)`` where
    ``rate_pp`` is ``k_s`` (the applied rate in parts-per-``D``).
    """
    if budget < 0:
        raise ValueError("budget must be non-negative")
    if weights is not None and not weights:
        raise ValueError("weights must be None or non-empty")
    if weights is not None and any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    D = int(rate_denom)
    if token_count_col:
        n_tokens = F.col(token_count_col).cast("long")
    else:
        n_tokens = F.size(
            F.filter(F.split(norm_text(F.col(text_col)), " "),
                     lambda x: x != "")
        ).cast("long")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col).cast("string").alias("stratum"),
        n_tokens.alias("n_tokens"),
        (h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
         ).alias("_h"),
    )
    if weights is None:
        w_col = F.lit(1).cast("long")
    else:
        expr = None
        for name, w in sorted(weights.items()):
            c = F.col("stratum") == name
            expr = F.when(c, w) if expr is None else expr.when(c, w)
        w_col = expr.otherwise(0).cast("long")
    base = base.withColumn("_w", w_col).where(F.col("_w") > 0)
    totals = base.groupBy("stratum").agg(
        F.sum("n_tokens").alias("_t"), F.first("_w").alias("_w2")
    )
    if weights is None:
        w_total = F.count("*").over(Window.partitionBy())
    else:
        w_total = F.lit(int(sum(weights.values()))).cast("long")
    # the unpartitioned window runs over #strata rows (a recipe-sized
    # relation), never over documents
    rates = totals.withColumn("_wt", w_total.cast("long")).select(
        "stratum",
        F.when(F.col("_t") == 0, F.lit(D).cast("long"))
        .otherwise(
            F.least(
                F.lit(D).cast("long"),
                F.expr(f"({int(budget)}L * _w2 * {D}L) div (_wt * _t)"),
            )
        )
        .alias("rate_pp"),
    )
    return (
        base.join(F.broadcast(rates), "stratum")
        .where(F.col("_h") * D < F.col("rate_pp") * F.lit(2 ** 48))
        .select("doc_id", F.col("stratum"), "n_tokens", "rate_pp")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-window preparation step (RoBERTa/GPT-style striding) that
    turns variable-length documents into model-consumable chunks while
    the overlap preserves cross-boundary context.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; the last chunk may be short, a
    document with <= chunk_size tokens yields exactly one chunk, and an
    empty document yields none. Output per chunk: ``start_token``,
    ``n_tokens``, and the portable 48-bit hash of the chunk text (the
    downstream join key for chunk-level dedup).

    Scale shape: pure projection + one ``explode`` over an arithmetic
    chunk-index sequence — ZERO shuffle, whole-stage codegen, perfectly
    data-parallel at any corpus size. Per-row cost is O(n_tokens ×
    chunk_count) string slicing, bounded by max-document-length/stride;
    the 10^12-doc skew story is the flagship's salted repartition (by
    estimated length) if documents are pathologically long, not anything
    in this operator."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    from .common import words_array

    words = df.select(
        F.col(id_col).alias("doc_id"),
        words_array(F.col(text_col)).alias("_w"),
    )
    n = F.size("_w")
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= chunk_size, F.lit(1))
        # ceil((n - chunk_size) / stride) + 1, exact integer `div`
        .otherwise(
            F.expr(
                f"(size(_w) - {chunk_size} + {stride - 1}) "
                f"div {stride} + 1"
            )
        )
    )
    # guard: Spark's sequence() infers step -1 when start > stop, so the
    # zero-chunk case must short-circuit to an empty array, and explode
    # (not explode_outer) drops the empty-doc rows entirely
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunked = words.select(
        "doc_id", "_w", F.explode(idx).alias("chunk_idx")
    )
    start = F.col("chunk_idx").cast("long") * stride
    piece = F.slice(F.col("_w"), start.cast("int") + 1, chunk_size)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_token"),
        F.size(piece).cast("long").alias("n_tokens"),
        h48(F.array_join(piece, " ")).alias("chunk_h48"),
    )


def stratified_sample(
    df: DataFrame,
    k: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """``(stratum, doc_id, rk)``: exactly ``min(k, |stratum|)`` rows per
    stratum, chosen uniformly and DETERMINISTICALLY — the eval/held-out
    sampling step (a fixed-size per-source sample that replays
    identically on any engine and any partitioning, unlike
    ``df.sample``'s seed-and-partition-dependent Bernoulli).

    The order key is the portable 48-bit hash ``h48(salt:id)`` (the
    split-assignment hash), tie-broken by id so a hash collision cannot
    make the sample ambiguous; ``rk`` is the in-sample rank (1-based),
    so nested smaller samples are free (``rk <= j`` for any j ≤ k).

    Scale shape: one shuffle on the stratum; the per-stratum
    ``row_number`` top-k runs under Spark 4's WindowGroupLimit — a
    per-partition partial k-heap pass BEFORE the exchange, so a
    10^12-row stratum ships ~k rows per input partition, not the
    stratum (the inverted_index precedent; the salted two-stage exact
    bound documented there applies if k itself is huge)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy("stratum").orderBy("_h", "doc_id")
    return (
        df.select(
            F.col(stratum_col).cast("string").alias("stratum"),
            F.col(id_col).alias("doc_id"),
            h.alias("_h"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= int(k))
        .select("stratum", "doc_id", "rk")
    )


def negative_sampling(
    df: DataFrame,
    m: int = 2,
    id_col: str = "doc_id",
    salt: str = "neg",
    buckets: int = 256,
) -> DataFrame:
    """``(anchor, j, negative)``: ``m`` deterministic contrastive
    negatives per distinct id — the training-pair generation step for
    contrastive/embedding objectives, where every anchor needs
    in-corpus negatives that (a) are never the anchor itself and (b)
    replay identically on any engine/partitioning (a seeded
    ``df.sample`` does neither).

    Method: ring-shift over a DENSE rank space. Ids are dictionary-
    encoded (``encode.dictionary_encode`` — the two-stage distributed
    zipWithIndex, so arbitrary/sparse id domains work, not just 0..n-1),
    then negative ``j`` of an anchor at rank ``r`` is the id at rank
    ``(r + 1 + h48(salt:j:anchor) mod (n-1)) mod n`` — the offset lands
    in [1, n-1], so ``negative ≠ anchor`` by construction, and marginal
    selection is hash-uniform over the other n-1 ids (two j's may
    collide on the same negative; draws are independent, not
    without-replacement). With n = 1 there is no valid negative and the
    output is empty.

    Scale shape: the dict build's costs (one distinct agg + bounded
    bucket windows); the corpus count is a 1-row broadcast (never a
    driver collect); the rank→id resolution is ONE equi-join on the
    dense rank. The dict is referenced twice (anchor side + negative
    lookup) — cut."""
    from .encode import dictionary_encode

    if m < 1:
        raise ValueError("m must be >= 1")
    d = cut(dictionary_encode(
        df.select(F.col(id_col).cast("string").alias("value")),
        "value",
        buckets=buckets,
    ))
    n = d.select(F.count("*").cast("long").alias("_n"))
    shifted = (
        d.select(
            F.col("value").alias("anchor"),
            F.col("id").alias("_rk"),
            F.explode(F.sequence(F.lit(1), F.lit(int(m)))).alias("j"),
        )
        .join(F.broadcast(n))
        .where(F.col("_n") > 1)
        .select(
            "anchor",
            F.col("j").cast("long").alias("j"),
            (
                (
                    F.col("_rk")
                    + 1
                    + F.pmod(
                        h48(
                            F.concat(
                                F.lit(salt + ":"),
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("anchor"),
                            )
                        ),
                        F.col("_n") - 1,
                    )
                )
                % F.col("_n")
            ).alias("_nrk"),
        )
    )
    return shifted.join(
        d.select(F.col("id").alias("_nrk"), F.col("value").alias("negative")),
        "_nrk",
    ).select("anchor", "j", "negative")


def epoch_upsample(
    df: DataFrame,
    rates_pp10k: dict[str, int],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_pp10k: int = 10_000,
    salt: str = "ep",
) -> DataFrame:
    """``(doc_id, stratum, n_copies, epoch_ix)``: deterministic
    REPLICATION mixing — the complement of :func:`token_budget_mix`'s
    down-sampler for the rates > 1 regime (train small high-quality
    sources for multiple epochs: the published data-mix practice —
    e.g. Wikipedia at 2-3 epochs in GPT-3's appendix mix — done
    exactly). A rate of 25 000 pp10k means every doc appears twice and
    a deterministic hash-selected 50% appear a third time:
    ``n_copies = rate div 10⁴ + (1 if h48(salt:id) mod 10⁴ < rate mod
    10⁴)``, so expected copies = rate/10⁴ exactly, the fractional
    subset is the SAME subset on any engine/partitioning, and the
    kept-set at a lower rate nests inside a higher one (same hash
    threshold shape as the samplers).

    One projection + one bounded explode: ``sequence(1, n_copies)``
    per row AFTER filtering n_copies ≥ 1 (an unfiltered
    sequence(1, 0) would generate a DESCENDING range — Spark
    sequence's documented footgun). ``epoch_ix`` numbers the copies
    1..n so downstream shuffles can salt on it. Zero-shuffle: rates
    are a literal CASE, the hash is a projection."""
    if not rates_pp10k:
        raise ValueError("rates_pp10k must not be empty")
    rate = F.lit(int(default_pp10k))
    for k, v in sorted(rates_pp10k.items()):
        rate = F.when(F.col(stratum_col) == k, F.lit(int(v))).otherwise(
            rate
        )
    frac = F.pmod(
        h48(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(10_000),
    )
    n_copies = (
        F.expr("_rate div 10000")
        + F.when(frac < F.pmod(F.col("_rate"), F.lit(10_000)), 1)
        .otherwise(0)
    ).cast("long")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            rate.alias("_rate"),
        )
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "stratum",
            "n_copies",
            F.explode(
                F.sequence(F.lit(1).cast("long"), "n_copies")
            ).alias("epoch_ix"),
        )
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_pct: int = 15,
    salt: str = "t5",
) -> DataFrame:
    """``(doc_id, n_tokens, n_masked, n_spans, input_text,
    target_text)``: T5-style span-corruption training pairs (Raffel et
    al. 2020 — public method), the denoising-objective data generator.
    Each token is masked iff ``h48(salt:doc:pos) mod 100 < mask_pct``
    (deterministic — the corpus replays bit-identically), consecutive
    masked tokens merge into ONE span (gaps-and-islands, the bpe_merges
    discipline), span ``k`` becomes ``<extra_id_k>`` in the input and
    prefixes its tokens in the target — exactly T5's sentinel format,
    with i.i.d.-token masking + run-merging standing in for T5's
    sampled span lengths (the merged-run length distribution is
    geometric-ish; rate is the knob that matters for the data volume).

    Scale shape: one doc-keyed window pass computes the run-start flag
    (lag) and the per-doc span index (conditional running count) —
    both ride ONE (doc, pos) sort; the pair assembly is a per-doc
    sort_array + transform + array_join over the collected token
    structs (per-doc bounded arrays; string assembly is inherently
    per-row work, and the HOF runs once per output string, not per
    corpus join — the accepted slow-path shape for string building).
    Docs with zero tokens are restored with empty strings (the
    zero-token rule)."""
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w"),
    )
    masked = F.pmod(
        h48(F.concat_ws(":", F.lit(salt), "doc_id", "pos")), F.lit(100)
    ) < mask_pct
    win = Window.partitionBy("doc_id").orderBy("pos")
    flagged = tokens.select(
        "doc_id",
        "pos",
        "w",
        masked.alias("m"),
    ).select(
        "doc_id",
        "pos",
        "w",
        "m",
        (
            F.col("m")
            & ~F.coalesce(F.lag("m").over(win), F.lit(False))
        ).alias("start"),
    ).select(
        "doc_id",
        "pos",
        "w",
        "m",
        "start",
        (
            F.sum(F.when(F.col("start"), 1).otherwise(0)).over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            )
            - 1
        ).cast("long").alias("k"),
    )
    sent = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"),
                    F.lit(">"))
    in_tok = F.when(~F.col("m"), F.col("w")).when(F.col("start"), sent)
    tgt_tok = F.when(
        F.col("m") & F.col("start"), F.concat(sent, F.lit(" "), F.col("w"))
    ).when(F.col("m"), F.col("w"))
    assembled = flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("n_masked"),
        F.sum(F.when(F.col("start"), 1).otherwise(0))
        .cast("long")
        .alias("n_spans"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            in_tok.isNotNull(),
                            F.struct(F.col("pos"), in_tok.alias("t")),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            tgt_tok.isNotNull(),
                            F.struct(F.col("pos"), tgt_tok.alias("t")),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            " ",
        ).alias("target_text"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(assembled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("input_text", F.lit("")).alias("input_text"),
        F.coalesce("target_text", F.lit("")).alias("target_text"),
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "wsamp",
) -> DataFrame:
    """``(stratum, doc_id, weight, rk)``: ``min(k, |stratum|)`` rows per
    stratum chosen by a DETERMINISTIC weight-biased race — each row's
    priority is ``h48(salt:id) div weight`` and the ``k`` smallest
    priorities win, so heavier rows (more tokens, higher quality score)
    are monotonically more likely to be picked while the whole draw
    replays bit-identically on any engine and any partitioning. This is
    the integer uniform-over-weight race, NOT exact Efraimidis–Spirakis
    (whose ``u^(1/w)`` key needs float pow and would not hash-match
    across engines): pairwise, a row of weight ``w_a`` beats ``w_b ≤
    w_a`` with probability ``1 − w_b/(2·w_a)`` instead of
    ``w_a/(w_a+w_b)`` — the bias direction and determinism are the
    contract, the exact distribution is the documented trade. Weights
    clamp to ≥ 1 (a zero/negative weight means "least preferred", not
    divide-by-zero). Like ``stratified_sample``, ``rk`` makes smaller
    samples nested prefixes of larger ones.

    Scale shape: pure projection → per-stratum ``row_number`` top-k
    under WindowGroupLimit (per-partition k-heap before the single
    stratum-keyed exchange — a 10^12-row stratum ships ~k rows per
    input partition)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = h48(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy("stratum").orderBy("_pri", "doc_id")
    return (
        df.select(
            F.col(stratum_col).cast("string").alias("stratum"),
            F.col(id_col).alias("doc_id"),
            F.greatest(F.col(weight_col).cast("long"), F.lit(1))
            .alias("weight"),
            h.alias("_h"),
        )
        .withColumn("_pri", F.expr("_h div weight"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= int(k))
        .select("stratum", "doc_id", "weight", "rk")
    )


def pack_efficiency(
    df: DataFrame,
    capacity: int,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """``(shard, n_docs, n_tokens, n_packs, waste_tokens, fill_ppm)``:
    the packing-efficiency audit for :func:`pack_sequences` (the
    telemetry-twin discipline — same shard hash, same token count, so
    the numbers describe exactly the packing the pipeline ships).
    Concat-and-chunk packing wastes tokens ONLY in each shard's last
    pack, so ``waste_tokens < capacity`` per shard by construction —
    an invariant this operator makes observable (and the unit test
    pins); fill_ppm = n_tokens·10^6 div (n_packs·capacity).

    Shape: ONE map-side-combinable agg over n_shards groups; the
    pack arithmetic is a projection over those few rows."""
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    if token_count_col:
        n_tokens = F.col(token_count_col).cast("long")
    else:
        n_tokens = F.size(
            F.filter(F.split(norm_text(F.col(text_col)), " "),
                     lambda x: x != "")
        ).cast("long")
    shard = h48(
        F.concat(F.lit("pack:"), F.col(id_col).cast("string"))
    ) % n_shards
    per_shard = (
        df.select(
            shard.cast("long").alias("shard"), n_tokens.alias("nt")
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    n_packs = F.expr(f"(n_tokens + {int(capacity) - 1}) div {int(capacity)}")
    return per_shard.select(
        "shard",
        "n_docs",
        "n_tokens",
        n_packs.cast("long").alias("n_packs"),
        (n_packs * capacity - F.col("n_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.expr(
                f"(n_tokens * 1000000) div "
                f"((( n_tokens + {int(capacity) - 1}) div {int(capacity)})"
                f" * {int(capacity)})"
            )
        )
        .cast("long")
        .alias("fill_ppm"),
    )
