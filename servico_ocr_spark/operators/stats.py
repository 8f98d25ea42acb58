"""Exact per-group quantiles by rank arithmetic — the corpus-triage
statistic ("p50/p95 document length per language/source") computed
EXACTLY and engine-portably, without floating-point interpolation.

Spark's built-in ``percentile``/``percentile_approx`` interpolate (or
approximate) in doubles — useless for a hash-checked integer contract
and subtly different from DuckDB's ``quantile_*`` family. The discrete
quantile is instead taken by explicit rank arithmetic, identical in any
SQL engine:

    value at row_number ceil(q*n/100) of the group ordered by value

(equivalently ``percentile_disc`` with lower-bound semantics; the
integer form ``(n*q + 99) div 100`` avoids doubles entirely).

Scale shape: ONE shuffle on the group key; one per-group window sort
computes row_number and the group count in the same pass, then the
quantile extraction is a conditional aggregation (map-side combinable)
over the already-partitioned rows. No global sort, no driver collect.
A mega-group serializes in its window sort — the standard per-key
ordered-operator trade (cf. operators/dedup._cap_doc_freq); when groups
can be 10^10 rows, switch to a sketch (t-digest/KLL) and accept
approximation — exact quantiles fundamentally need the group's order
statistics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, h48


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: Sequence[int] = (25, 50, 75, 95),
) -> DataFrame:
    """(group, n, p{q}...): exact discrete quantiles of ``value_col``
    per group. Each ``p{q}`` is the group's value at 1-based rank
    ``ceil(q*n/100)`` ordered ascending — a value that EXISTS in the
    group (no interpolation), deterministic under duplicate values
    (equal values occupy contiguous ranks). ``qs`` are integer
    percents in (0, 100]."""
    for q in qs:
        if not (0 < int(q) <= 100):
            raise ValueError(f"quantile percent out of (0,100]: {q}")
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(value_col).alias("value"),
    ).select(
        "group",
        "value",
        F.row_number().over(
            Window.partitionBy("group").orderBy("value")
        ).alias("rn"),
        F.count("*").over(Window.partitionBy("group")).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for q in qs:
        target = F.expr(f"(n * {int(q)} + 99) div 100")
        aggs.append(
            F.max(F.when(F.col("rn") == target, F.col("value")))
            .cast("long")
            .alias(f"p{int(q)}")
        )
    return ranked.groupBy("group").agg(*aggs)


def with_ilog_bucket(
    df: DataFrame, src: str, dst: str, k: int = 8
) -> DataFrame:
    """Append ``dst`` = the integer log-bucket of ``src`` (``k`` linear
    sub-buckets per octave): ``bucket(v) = e·k + ((v−2^e)·k) div 2^e``
    with ``e = floor(log2 v)`` — a monotone ``≈ k·log2`` surrogate with
    1/k-bit resolution, the shared primitive behind
    :func:`log_histogram_quantiles` and the NB classifier's integer
    log-odds. The float ``log2`` is self-corrected against the true
    power-of-two bracket, so an off-by-one-ulp disagreement between
    engines is healed identically (bit-portable). Values < 1 clamp to
    1 (bucket 0); BIGINT-safe for ``v < 2^55/k``."""
    return (
        df.withColumn("_ilv", F.greatest(F.col(src).cast("long"), F.lit(1)))
        .withColumn("_ile0", F.floor(F.log2("_ilv")).cast("long"))
        .withColumn("_ilp0", F.expr("shiftleft(1L, cast(_ile0 AS int))"))
        .withColumn(
            "_ile",
            F.when(F.col("_ilv") < F.col("_ilp0"), F.col("_ile0") - 1)
            .when(F.col("_ilv") >= 2 * F.col("_ilp0"), F.col("_ile0") + 1)
            .otherwise(F.col("_ile0")),
        )
        .withColumn("_ilp", F.expr("shiftleft(1L, cast(_ile AS int))"))
        .withColumn(
            dst,
            (
                F.col("_ile") * int(k)
                + F.expr(f"((_ilv - _ilp) * {int(k)}) div _ilp")
            ).cast("long"),
        )
        .drop("_ilv", "_ile0", "_ilp0", "_ile", "_ilp")
    )


def log_histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: Sequence[int] = (50, 90, 99),
    k: int = 8,
) -> DataFrame:
    """``(group, q_pct, n, est)``: bounded-state quantile sketch — the
    scale complement to :func:`exact_group_quantiles`. Values hash into
    log-spaced buckets (``k`` linear sub-buckets per octave, an
    HdrHistogram-style layout); the estimate for percent ``q`` is the
    LOWER BOUND of the bucket holding the exact rank-``ceil(q·n/100)``
    value, so ``est ≤ true < est·(1 + 1/k)`` (+2 for integer rounding)
    — a guaranteed relative error of ~``100/k`` percent.

    Why it exists when the exact operator does: exact rank quantiles
    sort every group row (a 10^12-row group is a full shuffle + sort);
    this sketch is ONE map-side-combinable count agg over at most
    ``64·k`` buckets per group, then per-group windows over those
    bucket rows — state is O(buckets), not O(rows), and the agg
    combiner does all the work. Use exact for reports, this for
    monitoring at corpus scale.

    Engine-portability: the only float step is ``floor(log2 v)``, and
    an integer self-correction clamps it against the true power-of-two
    bracket afterwards — an off-by-one ulp in either engine's ``log2``
    is healed identically, so results are deterministic and
    bit-identical across Spark and DuckDB (oracle-checked). Values
    ``< 1`` clamp to 1 (bucket 0); BIGINT-safe to ``v < 2^55/k``.
    """
    for q in qs:
        if not (0 < int(q) <= 100):
            raise ValueError(f"quantile percent out of (0,100]: {q}")
    if k < 1:
        raise ValueError("k must be >= 1")
    v1 = F.greatest(F.col(value_col).cast("long"), F.lit(1))
    rows = df.select(
        F.col(group_col).alias("group"), v1.alias("v")
    ).select(
        "group",
        "v",
        F.floor(F.log2("v")).cast("long").alias("e0"),
    ).select(
        "group",
        "v",
        F.expr("shiftleft(1L, cast(e0 AS int))").alias("p0"),
        "e0",
    ).select(
        "group",
        "v",
        F.when(F.col("v") < F.col("p0"), F.col("e0") - 1)
        .when(F.col("v") >= 2 * F.col("p0"), F.col("e0") + 1)
        .otherwise(F.col("e0"))
        .alias("e"),
    ).select(
        "group",
        "v",
        "e",
        F.expr("shiftleft(1L, cast(e AS int))").alias("p"),
    ).select(
        "group",
        (
            F.col("e") * k
            + F.expr(f"((v - p) * {int(k)}) div p")
        ).alias("bucket"),
    )
    counts = rows.groupBy("group", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("group")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("group")
    cum = counts.select(
        "group",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qarr = F.array(*[F.lit(int(q)) for q in qs])
    est_v = (
        "shiftleft(1L, cast(bucket div {k} AS int))"
        " + ((bucket % {k}) * shiftleft(1L, cast(bucket div {k} AS int))"
        " + {k} - 1) div {k}"
    ).format(k=int(k))
    return (
        cum.select(
            "group", "bucket", "cum", "n",
            F.explode(qarr).alias("q_pct"),
        )
        .where(
            F.col("cum") >= F.expr("(n * q_pct + 99) div 100")
        )
        .groupBy("group", "q_pct")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min("bucket").alias("bucket"),
        )
        .select(
            "group",
            F.col("q_pct").cast("long").alias("q_pct"),
            "n",
            F.expr(est_v).cast("long").alias("est"),
        )
    )


def distinct_count_telemetry(
    df: DataFrame, col: str, rsd: float = 0.05
) -> DataFrame:
    """One row: (exact, approx, err_ppm) — exact COUNT(DISTINCT) next
    to the HyperLogLog++ estimate (``approx_count_distinct``) and their
    integer relative error in ppm. The production-observability twin of
    the exact aggregates: at 10^12 rows the exact distinct is a full
    shuffle of the distinct values, while the HLL sketch aggregates in
    O(1) memory per partition and merges map-side — this operator is
    how a pipeline MEASURES whether the sketch's error is acceptable
    before switching the hot path to it (same telemetry-twin discipline
    as the dedup candidate telemetry).

    Not a driver-contract query: HLL estimates are implementation-
    defined and cannot hash-match another engine; the unit test pins
    the error band instead."""
    return df.agg(
        F.countDistinct(F.col(col)).cast("long").alias("exact"),
        F.approx_count_distinct(F.col(col), rsd).cast("long").alias(
            "approx"
        ),
    ).select(
        "exact",
        "approx",
        F.expr(
            "CASE WHEN exact = 0 THEN 0 ELSE "
            "abs(approx - exact) * 1000000 div exact END"
        ).cast("long").alias("err_ppm"),
    )


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """Per-dimension integer moments of an embedding column:
    ``(dim, n_vecs, sum_q, sum_sq, min_q, max_q)`` over coordinates
    quantized as ``floor(x * scale)`` — the embedding-quality telemetry
    a pipeline runs before trusting a vector column (dead dimensions
    show as zero variance, mis-scaled encoders as runaway min/max,
    ragged arrays as uneven ``n_vecs``). Callers derive mean/variance
    from the raw moments; keeping sums instead of means keeps every
    column an exact BIGINT (the no-float-aggregates contract).

    Uses the corpus-wide quantization idiom the ANN oracles share
    (``floor(CAST(x AS DOUBLE) * 1000)``), so its numbers are directly
    comparable with the distances kmeans/ANN compute. BIGINT audit:
    |q| ≤ scale for unit-ish embeddings, so ``sum_sq`` per dimension is
    ≤ n·scale² = 10^12·10^6 = 10^18 at 10^12 vectors — inside BIGINT;
    for raw (unnormalized) vectors pick ``scale`` so max|q| ≤ ~10^3.

    Scale shape: scan → posexplode → ONE map-side-combinable hash
    aggregation on ``dim`` (≤ a few thousand groups — partials collapse
    to the dimension count per task before the shuffle). No window, no
    join, no Python."""
    pts = emb.select(
        F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * scale).cast("long").alias("q"),
    )
    return pts.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sum_sq"),
        F.min("q").cast("long").alias("min_q"),
        F.max("q").cast("long").alias("max_q"),
    )


def majority_label(
    df: DataFrame,
    group_col: str,
    label_col: str,
    id_count: str = "*",
) -> DataFrame:
    """``(group, label, n_label, n_group, share_pp10k)``: each group's
    majority label (the distributed MODE aggregate), ties broken by
    label ascending — deterministic on any engine. The per-domain
    language vote of CommonCrawl-style curation reports, but generic
    over any (group, label) pair.

    Scale shape: ONE map-side-combinable (group, label) count collapses
    the corpus; everything after runs on that bounded table (≤ groups ×
    distinct labels): group totals re-aggregated from it (never a
    second corpus scan — the bigram_lm discipline) and the argmax as a
    per-group window over ≤ |labels| rows (a label-cardinality window,
    not a data window — no hot-group straggler is possible because the
    window input is the aggregate). The counts table feeds the totals
    agg and the final join, so it is cut."""
    counts = cut(
        df.groupBy(
            F.col(group_col).alias("group"),
            F.col(label_col).alias("label"),
        )
        .agg(F.count(id_count).cast("long").alias("n_label"))
    )
    totals = counts.groupBy("group").agg(
        F.sum("n_label").cast("long").alias("n_group")
    )
    w = Window.partitionBy("group").orderBy(
        F.desc("n_label"), F.asc("label")
    )
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .join(totals, "group")
        .select(
            "group",
            "label",
            "n_label",
            "n_group",
            F.expr("(n_label * 10000) div n_group")
            .cast("long")
            .alias("share_pp10k"),
        )
    )


def hll_register_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    p: int = 6,
) -> DataFrame:
    """``([group,] bucket, register, n_rows)``: the register table of a
    HyperLogLog-style distinct sketch (Flajolet et al. 2007) over
    ``value_col`` — ``2^p`` buckets from the top ``p`` bits of the
    portable 48-bit md5 hash, each register the max leading-zero rank
    ``rho`` of the remaining ``48−p`` bits. This is the MERGEABLE
    fixed-size state that replaces exact ``COUNT(DISTINCT)``'s full
    shuffle of the distinct values at 10^12 rows: registers combine by
    elementwise max, so per-partition partials collapse map-side and
    per-group sketches roll up to any coarser grouping without
    re-touching the data (``register_all(b) = max over groups``). The
    float harmonic-mean ESTIMATE is deliberately NOT computed here —
    the register table is the exact, engine-portable, hash-checkable
    artifact; estimation is a driver-side O(2^p) afterthought (see the
    unit test). Unlike ``distinct_count_telemetry`` (whose JVM HLL++
    internals are implementation-defined), every bit of this sketch is
    reproducible on any engine that has md5.

    ``rho`` convention: 1 + leading zeros of the ``48−p``-bit suffix =
    ``(48−p) − floor(log2(rem))`` for ``rem ≥ 1`` and ``(48−p)+1`` for
    the all-zero suffix; ``floor(log2 x) = length(bin(x)) − 1`` on both
    engines. Scale shape: pure projection → ONE map-side-combinable
    max/count agg with ≤ groups·2^p output rows. Empty buckets emit no
    row (an estimator reads absent as register 0)."""
    if not (2 <= int(p) <= 16):
        raise ValueError("p must be in [2, 16]")
    bits = 48 - int(p)
    pow_bits = 1 << bits
    cols = []
    keys = []
    if group_col is not None:
        cols.append(F.col(group_col).alias("group"))
        keys.append("group")
    h = h48(F.col(value_col).cast("string"))
    cols += [
        F.expr(f"_h div {pow_bits}").cast("long").alias("bucket"),
        F.expr(
            f"CASE WHEN _h % {pow_bits} > 0 "
            f"THEN {bits} - (length(bin(_h % {pow_bits})) - 1) "
            f"ELSE {bits + 1} END"
        ).cast("long").alias("rho"),
    ]
    keys.append("bucket")
    rows = df.select(h.alias("_h"), "*").select(*cols)
    return rows.groupBy(*keys).agg(
        F.max("rho").cast("long").alias("register"),
        F.count("*").cast("long").alias("n_rows"),
    )


def winsorize_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: int = 99,
) -> DataFrame:
    """``(group, n, cap, sum_raw, sum_win, n_clipped)``: per-group
    winsorization telemetry — values above the group's exact discrete
    ``q``-th percentile (the ``exact_group_quantiles`` rank rule: value
    at 1-based rank ``ceil(q·n/100)``) are clipped to it, and the
    summary reports how much mass the clip moved. The standard
    outlier-robust cleaning step before aggregating money/latency
    columns (one bot click with a 10^9 value otherwise owns the mean).
    Callers pass an integer ``value_col`` (cents, micros) — the
    no-float-aggregates contract.

    Scale shape: ONE per-group window sort computes rank, count, and
    the cap in the same pass (the cap is a whole-partition conditional
    max over the already-sorted rows — no second shuffle), then ONE
    map-side-combinable aggregation. Same mega-group trade as
    exact_group_quantiles: exact percentiles need the group's order
    statistics; switch to a sketch when groups can be 10^10 rows."""
    if not (0 < int(q) <= 100):
        raise ValueError(f"q out of (0,100]: {q}")
    wsort = Window.partitionBy("group").orderBy("value")
    wall = Window.partitionBy("group")
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("long").alias("value"),
    ).select(
        "group",
        "value",
        F.row_number().over(wsort).alias("rn"),
        F.count("*").over(wall).alias("n"),
    )
    target = F.expr(f"(n * {int(q)} + 99) div 100")
    capped = ranked.withColumn(
        "cap",
        F.max(F.when(F.col("rn") == target, F.col("value"))).over(wall),
    )
    return capped.groupBy("group").agg(
        F.max("n").cast("long").alias("n"),
        F.max("cap").cast("long").alias("cap"),
        F.sum("value").cast("long").alias("sum_raw"),
        F.sum(F.least("value", "cap")).cast("long").alias("sum_win"),
        F.sum(F.when(F.col("value") > F.col("cap"), 1).otherwise(0))
        .cast("long").alias("n_clipped"),
    )


def cms_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """``(d, col, cms)``: a count-min sketch (Cormode & Muthukrishnan
    2005) over ``value_col`` — ``depth`` independent hash rows of
    ``width`` counters, cell ``(d, col)`` holding the total weight of
    values whose ``d``-th hash lands on ``col``. This is the
    fixed-size MERGEABLE frequency state that answers "how often does
    X occur" at 10^12 rows without a vocabulary-sized exact table:
    sketches of disjoint batches combine by cellwise SUM (additivity —
    unit-tested), and a point estimate reads min over the value's
    ``depth`` cells, an overestimate by at most the collision mass
    (never an underestimate — the one-sided error the paper proves).

    Hashing is the portable h48 over ``'cms<d>:' || value``, so every
    cell is bit-reproducible in DuckDB — the sketch itself is a
    hash-checkable artifact, like ``hll_register_sketch`` and unlike
    any engine-internal sketch state.

    Scale shape: bounded ×``depth`` row fan-out (explode of a literal
    sequence) → ONE map-side-combinable sum agg; partials collapse to
    ≤ ``depth·width`` rows per partition before the shuffle, and the
    output is ``depth·width`` rows regardless of input size. Empty
    cells emit no row (readers treat absent as 0)."""
    return cms_cells(df, value_col, depth, width, weight_col).groupBy(
        "d", "col"
    ).agg(F.sum("_w").cast("long").alias("cms"))


def cms_cells(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """``(d, col, _w)``: the stateless cell projection under
    :func:`cms_sketch` — shared verbatim by the batch aggregation and
    the streaming twin (``streaming.stateful.cms_stream``), the
    candidate-telemetry shared-subplan discipline: the two paths
    cannot hash differently because they run the same expressions.
    Works on batch AND streaming DataFrames (projection + bounded
    explode only)."""
    if not (1 <= int(depth) <= 16):
        raise ValueError("depth must be in [1, 16]")
    if int(width) < 2:
        raise ValueError("width must be >= 2")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    rows = df.select(
        F.col(value_col).cast("string").alias("_v"), w.alias("_w")
    ).select(
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(int(depth) - 1).cast("long")
            )
        ).alias("d"),
        "_v",
        "_w",
    )
    cell = (
        h48(F.concat(F.lit("cms"), F.col("d").cast("string"),
                     F.lit(":"), F.col("_v"))) % int(width)
    ).cast("long")
    return rows.select("d", cell.alias("col"), "_w")


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """``(value, est)``: count-min point estimates for each candidate
    value — min over the value's ``depth`` cells of a ``cms_sketch``
    built with the SAME (depth, width). Absent cells read as 0 (left
    join), so out-of-sketch values estimate 0 exactly.

    Scale shape: candidates fan out ×``depth``, the ≤ ``depth·width``
    -row sketch is broadcast, and the min collapses in one combinable
    agg — the probe never shuffles the sketch side and never touches
    the original data, which is the entire point of carrying a sketch
    instead of the exact frequency table."""
    probe = candidates.select(
        F.col(value_col).cast("string").alias("value")
    ).distinct().select(
        "value",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(int(depth) - 1).cast("long")
            )
        ).alias("d"),
    )
    cell = (
        h48(F.concat(F.lit("cms"), F.col("d").cast("string"),
                     F.lit(":"), F.col("value"))) % int(width)
    ).cast("long")
    return (
        probe.select("value", "d", cell.alias("col"))
        .join(F.broadcast(sketch), ["d", "col"], "left")
        .groupBy("value")
        .agg(
            F.min(F.coalesce(F.col("cms"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def bloom_bits(
    df: DataFrame,
    value_col: str,
    k: int = 2,
    m: int = 4096,
) -> DataFrame:
    """``(bit,)``: the set bit positions of a Bloom filter (Bloom 1970)
    over ``value_col`` — ``k`` portable h48 hash rows into ``m`` bits.
    The fixed-size membership state of the sketch family (HLL counts
    distinct, CMS counts frequency, Bloom answers "seen before?"):
    the 10^12-url "have we crawled this" gate that never stores the
    urls. Mergeable by set union (bit-OR ≡ distinct of the union —
    follows from the construction); absent values probe false with NO
    false negatives, and false positives are exactly the all-k-bits
    collisions (one-sided error, the dual of CMS).

    Scale shape: bounded ×``k`` fan-out → ONE distinct agg whose
    output is ≤ ``m`` rows at any corpus size (partials collapse
    map-side). Like the other sketches, every bit derives from h48 —
    the filter itself hash-checks across engines."""
    if not (1 <= int(k) <= 16):
        raise ValueError("k must be in [1, 16]")
    if int(m) < 2:
        raise ValueError("m must be >= 2")
    rows = df.select(F.col(value_col).cast("string").alias("_v")).select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(int(k) - 1).cast("long"))
        ).alias("d"),
        "_v",
    )
    bit = (
        h48(F.concat(F.lit("bloom"), F.col("d").cast("string"),
                     F.lit(":"), F.col("_v"))) % int(m)
    ).cast("long")
    return rows.select(bit.alias("bit")).distinct()


def bloom_probe(
    bits: DataFrame,
    candidates: DataFrame,
    value_col: str,
    k: int = 2,
    m: int = 4096,
) -> DataFrame:
    """``(value, flagged)``: Bloom membership probe — ``flagged = 1``
    iff ALL ``k`` of the value's bits are set in a ``bloom_bits``
    filter built with the SAME (k, m). No false negatives (a present
    value's bits are set by construction); a flagged-but-absent value
    is a false positive, bounded by the fill ratio^k.

    Scale shape: candidates fan out ×``k``, the ≤ ``m``-row bit table
    is broadcast, one combinable count agg — the probe never shuffles
    the filter and never touches the original corpus (the point of
    carrying a sketch)."""
    probe = candidates.select(
        F.col(value_col).cast("string").alias("value")
    ).distinct().select(
        "value",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(int(k) - 1).cast("long"))
        ).alias("d"),
    )
    bit = (
        h48(F.concat(F.lit("bloom"), F.col("d").cast("string"),
                     F.lit(":"), F.col("value"))) % int(m)
    ).cast("long")
    hits = probe.select("value", bit.alias("bit")).join(
        F.broadcast(bits), "bit", "left_semi"
    )
    per = hits.groupBy("value").agg(F.count("*").alias("_nset"))
    return (
        probe.select("value").distinct()
        .join(per, "value", "left")
        .select(
            "value",
            F.when(F.coalesce(F.col("_nset"), F.lit(0)) == int(k), 1)
            .otherwise(0)
            .cast("long")
            .alias("flagged"),
        )
    )


def rank_correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """``(group, n, sum_d2, rho_pp10k)``: exact integer Spearman rank
    correlation per group — the corpus-diagnostics statistic ("do
    longer documents repeat more? does quality track length?") with
    zero floats: ranks are row_numbers with a DETERMINISTIC ``id_col``
    tie-break (fractional average ranks would reintroduce floats; the
    tie-break makes both engines produce identical ranks), and
    ``rho = 1 − 6Σd²/(n(n²−1))`` is emitted as the truncating integer
    ``(10^4·(n(n²−1) − 6Σd²)) div (n(n²−1))`` — Spark ``div`` and
    DuckDB ``//`` both truncate toward zero on negatives (the kmeans
    verification). Groups with ``n < 2`` emit 0 (undefined).

    Scale shape: ONE group-keyed exchange feeding two window sorts
    (same partitioning — Spark plans one Exchange) + ONE combinable
    agg. BIGINT bound: ``10^4·n³ < 2^63`` ⇒ exact to ~96k rows per
    group; beyond that, feed a ``stratified_sample`` — rank
    correlation stabilizes long before 10^5 samples."""
    wx = Window.partitionBy("group").orderBy(F.col("x"), F.col("id"))
    wy = Window.partitionBy("group").orderBy(F.col("y"), F.col("id"))
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.col(id_col).alias("id"),
    ).select(
        "group",
        F.row_number().over(wx).cast("long").alias("rx"),
        F.row_number().over(wy).cast("long").alias("ry"),
    )
    agg = ranked.groupBy("group").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
        ).cast("long").alias("sum_d2"),
    )
    return agg.select(
        "group",
        "n",
        "sum_d2",
        F.when(
            F.col("n") >= 2,
            F.expr("(10000 * (n * (n * n - 1) - 6 * sum_d2)) "
                   "div (n * (n * n - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rho_pp10k"),
    )


def key_skew_summary(
    df: DataFrame,
    key_col: str,
    quantiles: Sequence[int] = (50, 99),
) -> DataFrame:
    """One-row shuffle-skew diagnostics for a prospective join/groupBy
    key: ``(n_keys, n_rows, max_mass, top1pct_share_pp10k,
    p50_mass, p99_mass)`` — the numbers that decide "does this key
    need salting / AQE skew handling before I shuffle 100 TB on it".
    ``top1pct_share_pp10k`` is the row mass held by the heaviest
    ``ceil(n_keys/100)`` keys in parts-per-10^4; the quantile masses
    use the exact rank rule (value at rank ``ceil(q·n/100)`` of keys
    ordered by mass — the ``exact_group_quantiles`` arithmetic).

    Scale shape: ONE map-side-combinable key-mass agg collapses the
    data to key cardinality; everything after (one sort window + one
    agg) runs on the key table. A 10^9-key table makes the final sort
    a real distributed sort of small rows — fine; the single-task
    stage only ever sees the aggregate row."""
    masses = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("mass")
    )
    w = Window.orderBy(F.col("mass").asc(), F.col("key").asc())
    ranked = masses.select(
        "mass",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(
            Window.partitionBy(F.lit(1))
        ).cast("long").alias("nk"),
    )
    qcols = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(nk * {int(q)} + 99) div 100"),
                F.col("mass"),
            )
        ).cast("long").alias(f"p{int(q)}_mass")
        for q in quantiles
    ]
    agg = ranked.agg(
        F.max("nk").cast("long").alias("n_keys"),
        F.sum("mass").cast("long").alias("n_rows"),
        F.max("mass").cast("long").alias("max_mass"),
        F.sum(
            F.when(
                F.col("rn") > F.expr("nk - ((nk + 99) div 100)"),
                F.col("mass"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("_top1_mass"),
        *qcols,
    )
    return agg.select(
        "n_keys",
        "n_rows",
        "max_mass",
        F.expr("(_top1_mass * 10000) div n_rows")
        .cast("long")
        .alias("top1pct_share_pp10k"),
        *[f"p{int(q)}_mass" for q in quantiles],
    )
