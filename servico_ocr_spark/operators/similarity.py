"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_topk` — exact cosine top-k; the query side is
  broadcast (small dim table) so the scan side never shuffles. Scores are
  computed on integer-scaled components (floor(x*1000)) so results are
  bit-portable across engines and partitionings — no float-sum order
  hazards in the correctness gate.
- :func:`lsh_ann_topk` — the scale path: sign-random-projection buckets
  (deterministic hyperplanes derived from h48) prune candidates before the
  exact re-rank; at 10^12 rows the bucket join replaces the full scan per
  query with a bucket-local one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from .common import cut, h48

_SCALE = 1000


def _int_vec(col):
    """floor(double(x)*1000) per component — exact integer arithmetic
    downstream. The float→double cast happens BEFORE scaling so Spark and
    any SQL oracle floor the same IEEE value."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * _SCALE).cast("long")
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cos_sim_e6) where cos_sim_e6 is
    cosine * 1e6 floored to integer (portable exactness). Self-matches are
    excluded. Ties break on neighbor_id ascending (deterministic).
    """
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _int_vec(F.col(vec_col)).alias("v")
    ).withColumn("vnorm", _dot(F.col("v"), F.col("v")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("qv")
    ).withColumn("qnorm", _dot(F.col("qv"), F.col("qv")))

    scored = (
        base.join(broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot(F.col("qv"), F.col("v")))
        .withColumn(
            "cos_sim_e6",
            F.floor(
                F.col("dot") * 1000000
                / (F.sqrt(F.col("qnorm").cast("double"))
                   * F.sqrt(F.col("vnorm").cast("double")))
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_e6"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_e6")
    )


def resolve_srp_planes(n_rows: int) -> int:
    """Scale-aware SRP plane count: max(4, ceil(log2(n)/2)).

    Rationale: with p planes a bucket holds ~n/2^p vectors and the
    within-bucket join does ~n²/2^p pair work. Growing p with log2(n)/2
    keeps bucket population ~sqrt(n) — sub-quadratic total candidates at
    any corpus size (n=10^12 → 20 planes → ~10^6-vector buckets), instead
    of a fixed 16 buckets that each hold 6×10^10 vectors at web scale.
    """
    import math

    return max(4, math.ceil(math.log2(max(n_rows, 2)) / 2))


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold_e6: int = 400000,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_rows: int | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim_e6) with
    integer-exact cosine ≥ threshold_e6 (×1e6).

    Scale path: candidates are restricted to SRP-bucket collisions (the
    O(n²) pair space is never materialized), then exactly re-scored. With
    p planes the expected candidate fraction is ~2^-p per random pair plus
    the true-neighbor mass; ``planes`` defaults to the scale-aware
    :func:`resolve_srp_planes`. NOTE: that default runs an eager
    ``count()`` job at plan-CONSTRUCTION time — pass ``n_rows`` (or pin
    ``planes``) when constructing plans lazily; the recall/bucket-size
    tradeoff is then yours.

    ``multi_probe`` also probes every bucket at Hamming distance 1 (flip
    each plane bit on one join side): candidate volume grows ×(p+1) while
    random collisions stay at ~(p+1)/2^p — still vanishing with p. A
    qualifying pair is found at most once (its bucket XOR is a single
    mask), so no distinct-dedup pass is needed. Recall caveat: Hamming-1
    probing recovers most of the recall only for HIGH-similarity pairs
    (near-identical vectors, small angle → few plane disagreements); for
    pairs near a moderate threshold (e.g. cos 0.4 at 8 planes) expected
    plane disagreements exceed 1 and recall stays low — this operator is
    a near-DUPLICATE detector, not a general similarity join. For
    moderate-threshold recall, lower ``planes`` (more verification work)
    or use :func:`lsh_ann_topk` with more probe buckets.
    """
    return _embedding_neardup_build(
        embeddings, threshold_e6, planes, id_col, vec_col, dim, n_rows,
        multi_probe,
    )[1]


def embedding_candidate_telemetry(
    embeddings: DataFrame,
    threshold_e6: int = 400000,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_rows: int | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """Bucketing-health metrics for :func:`embedding_near_duplicates`
    with the same parameters: one row (candidates, verified,
    verified_per_million) where candidates = SRP bucket-collision pairs
    (incl. multi-probe) and verified = pairs at or above the cosine
    threshold. Recomputes the operator's subplans — sample it, don't pay
    it per production job."""
    from .dedup import _telemetry_row

    cands, result = _embedding_neardup_build(
        embeddings, threshold_e6, planes, id_col, vec_col, dim, n_rows,
        multi_probe,
    )
    return _telemetry_row(cands, result)


def _embedding_neardup_build(embeddings, threshold_e6, planes, id_col,
                             vec_col, dim, n_rows, multi_probe):
    """(candidate pairs, verified pairs) — shared by the operator and its
    telemetry twin."""
    if planes is None:
        n = n_rows if n_rows is not None else embeddings.count()
        planes = resolve_srp_planes(n)
    # passing dim skips the one-row probe job at plan-construction time
    dim = dim or _vec_dim(embeddings, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        _int_vec(F.col(vec_col)).alias("v"),
        _bucket(_int_vec(F.col(vec_col)), planes, dim).alias("bucket"),
    ).withColumn("vnorm", _dot(F.col("v"), F.col("v")))
    probe_values = [F.col("bucket")] + (
        [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
        if multi_probe
        else []
    )
    a = base.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("vnorm").alias("na"),
        F.explode(F.array(*probe_values)).alias("probe"),
    )
    b = base.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("vnorm").alias("nb"), F.col("bucket").alias("probe"),
    )
    pairs = a.join(b, "probe").where(F.col("id_a") < F.col("id_b"))
    cos = F.floor(
        _dot(F.col("va"), F.col("vb")) * 1000000
        / (F.sqrt(F.col("na").cast("double"))
           * F.sqrt(F.col("nb").cast("double")))
    ).cast("long")
    verified = (
        pairs.select("id_a", "id_b", cos.alias("cos_sim_e6"))
        .where(F.col("cos_sim_e6") >= threshold_e6)
    )
    return pairs.select("id_a", "id_b"), verified


def _h48_py(s: str) -> int:
    """Driver-side twin of operators.common.h48 (first 12 md5 hex chars as
    int) — used to precompute SRP coefficients as literals."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _bucket(vec_col, planes: int, dim: int):
    """Sign-random-projection bucket id: plane p has deterministic integer
    coefficients coef(p, d) = h48('plane{p}|{d}') % 2001 - 1000.

    The coefficients are constants, so they are computed driver-side and
    embedded as a literal array per plane — the per-row version (md5 per
    (row, plane, dim) inside a transform() lambda) costs planes×dim
    interpreted hash calls per row and was ~7× slower at equal output.
    """
    def plane_sign(p):
        coefs = F.array(
            *[
                F.lit(_h48_py(f"plane{p}|{d}") % 2001 - 1000)
                for d in range(dim)
            ]
        )
        products = F.zip_with(vec_col, coefs, lambda x, c: x * c)
        total = F.aggregate(products, F.lit(0).cast("long"), lambda a, x: a + x)
        return F.when(total >= 0, F.lit(1 << p)).otherwise(F.lit(0))

    bucket = None
    for p in range(planes):
        term = plane_sign(p)
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality (one-row probe; vector length is data, not
    schema). Uniform dimensionality is an input contract — the SRP math
    (here and in any SQL twin) is only defined over a fixed dim. NULL
    embeddings are skipped; empty input defaults to 1 (no rows means no
    buckets matter)."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return int(row["d"]) if row is not None else 1


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: vectors are partitioned into inverted
    cells by nearest centroid; each query probes its ``nprobe`` closest
    cells and exactly re-ranks only those candidates.

    Deterministic everywhere (no k-means iterations): the ``n_centroids``
    centroids are the vectors with the smallest (h48('centroid:'||id), id)
    rank — a seeded sample, which is how IVF coarse quantizers are
    bootstrapped. Centroids are tiny and broadcast, so cell assignment is
    a broadcast nested-loop over n rows — no shuffle; at 10^12 rows the
    probe join replaces the full scan per query with nprobe cell scans.
    Output: (query_id, neighbor_id, rank, cos_sim_e6), cosine ×1e6 floored
    (integer-exact, engine-portable). Ties break on neighbor_id.
    """
    base = embeddings.select(
        F.col(id_col).alias("vid"), _int_vec(F.col(vec_col)).alias("v")
    ).withColumn("vnorm", _dot(F.col("v"), F.col("v")))

    cent_rank = h48(F.concat(F.lit("centroid:"), F.col("vid").cast("string")))
    centroids = broadcast(
        base.select(
            F.col("vid").alias("cid"), F.col("v").alias("cv"),
            F.col("vnorm").alias("cnorm"), cent_rank.alias("crank"),
        )
        .orderBy("crank", "cid")
        .limit(n_centroids)
        .drop("crank")
    )

    cell_score = F.floor(
        _dot(F.col("v"), F.col("cv")) * 1000000
        / (F.sqrt(F.col("vnorm").cast("double"))
           * F.sqrt(F.col("cnorm").cast("double")))
    ).cast("long")
    w_assign = Window.partitionBy("vid").orderBy(
        F.desc("cell_score"), F.asc("cid")
    )
    scored_cells = (
        base.join(centroids, F.lit(True))
        .withColumn("cell_score", cell_score)
        .withColumn("crk", F.row_number().over(w_assign))
    )
    assigned = scored_cells.where(F.col("crk") == 1).select(
        F.col("vid").alias("neighbor_id"), F.col("v"), F.col("vnorm"),
        F.col("cid").alias("cell"),
    )

    qbase = queries.select(
        F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("qv")
    ).withColumn("qnorm", _dot(F.col("qv"), F.col("qv")))
    q_cell_score = F.floor(
        _dot(F.col("qv"), F.col("cv")) * 1000000
        / (F.sqrt(F.col("qnorm").cast("double"))
           * F.sqrt(F.col("cnorm").cast("double")))
    ).cast("long")
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cell_score"), F.asc("cid")
    )
    probes = broadcast(
        qbase.join(centroids, F.lit(True))
        .withColumn("cell_score", q_cell_score)
        .withColumn("crk", F.row_number().over(w_probe))
        .where(F.col("crk") <= nprobe)
        .select(
            "query_id", F.col("cid").alias("cell"), "qv", "qnorm",
        )
    )

    rescore = F.floor(
        F.col("dot") * 1000000
        / (F.sqrt(F.col("qnorm").cast("double"))
           * F.sqrt(F.col("vnorm").cast("double")))
    ).cast("long")
    scored = (
        assigned.join(probes, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot(F.col("qv"), F.col("v")))
        .withColumn("cos_sim_e6", rescore)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_e6"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_e6")
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket,
    then exact integer cosine re-rank. Same output shape as
    :func:`brute_force_topk` (recall < 1 by design)."""
    # passing dim skips the one-row probe job at plan-construction time
    dim = dim or _vec_dim(embeddings, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _int_vec(F.col(vec_col)).alias("v"),
        _bucket(_int_vec(F.col(vec_col)), planes, dim).alias("bucket"),
    ).withColumn("vnorm", _dot(F.col("v"), F.col("v")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _int_vec(F.col(vec_col)).alias("qv"),
        _bucket(_int_vec(F.col(vec_col)), planes, dim).alias("bucket"),
    ).withColumn("qnorm", _dot(F.col("qv"), F.col("qv")))

    scored = (
        base.join(broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot(F.col("qv"), F.col("v")))
        .withColumn(
            "cos_sim_e6",
            F.floor(
                F.col("dot") * 1000000
                / (F.sqrt(F.col("qnorm").cast("double"))
                   * F.sqrt(F.col("vnorm").cast("double")))
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_e6"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_e6")
    )


def label_centroid_outliers(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold_e6: int = 0,
) -> DataFrame:
    """``(vec_id, label, cos_e6, is_outlier)``: each vector's cosine to
    its OWN label's centroid, flagged when below ``threshold_e6`` — the
    label-noise pruning / dataset-filtering step (prune examples that
    disagree with their class direction; the CLIP-filter shape for
    labeled embedding corpora). Cosine to the per-dim SUM vector — the
    same direction as the mean, so no division happens before the
    final cosine (integer-exact until the one floor(·1e6/√·√) step,
    the brute_force_topk precedent).

    Fully relational — no array rebuild: vectors posexplode to
    (id, label, dim, x); centroids are ONE (label, dim) sum aggregate
    (state = labels × dims, tiny); the per-vector dot/norm is one
    equi-join on (label, dim) + one combinable aggregate. The exploded
    table feeds both sides — two column-pruned corpus scans rather
    than materializing the Θ(n·dims) explosion (the bm25_by_example
    trade, decided the other way because the explosion is larger than
    the source here). Centroid norms ride the same (label, dim) state.

    BIGINT bound: per-dim quantized |x| ≲ 3·10³, so x·Σx overflows
    only past ~10¹² vectors per label — the embedding_dim_stats bound.
    """
    ex = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(_int_vec(F.col(vec_col))).alias("d", "x"),
    )
    cent = ex.groupBy("label", "d").agg(
        F.sum("x").cast("long").alias("sx")
    )
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("sx") * F.col("sx")).cast("long").alias("cn")
    )
    per_vec = (
        ex.join(cent, ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("sx")).cast("long").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("vn"),
        )
    )
    cos = F.floor(
        F.col("dot")
        * 1000000
        / (
            F.sqrt(F.col("vn").cast("double"))
            * F.sqrt(F.col("cn").cast("double"))
        )
    ).cast("long")
    return per_vec.join(cnorm, "label").select(
        "vec_id",
        "label",
        cos.alias("cos_e6"),
        F.when(cos < threshold_e6, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_outlier"),
    )


def margin_bitext(
    x: DataFrame,
    y: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(x_id, y_id, cos_sim_e6, margin_x1e3)``: mutual-best bitext
    pairs between two embedding sets under the RATIO margin criterion
    (Artetxe & Schwenk, ACL 2019 — the CCMatrix/LASER mining score):

        margin(x, y) = cos(x, y) / ((avgNN_k(x→Y) + avgNN_k(y→X)) / 2)

    — absolute cosine is miscalibrated across hubs (some vectors are
    close to everything), so each pair's similarity is normalized by
    the two endpoints' average top-``k`` neighborhood similarity. A
    pair is emitted iff each side is the other's best margin match
    (mutual-best = the paper's "max" retrieval intersection), which is
    what makes mined bitext high-precision.

    Integer contract: cosines come from the shared quantized dot
    (``cos_sim_e6``, the `brute_force_topk` arithmetic); neighborhood
    averages are truncating integer means over ≤ k candidates;
    ``margin_x1e3 = (cos·2000) div max(ax + ay, 1)`` — ×1000-scaled
    ratio, BIGINT-safe (≤ 2·10⁹ numerator), portable. Ties on
    (margin, id) are totally ordered, so the mutual-best set is
    deterministic on both engines.

    Scale shape: with ``candidates=None`` the scored pair table is the
    brute cross product with ``y`` broadcast (pass the smaller set as
    ``y``) — correct at calibration scale, Θ(|X|·|Y|) like
    `brute_force_topk`. At corpus scale pass ``candidates`` = any
    (x_id, y_id, cos_sim_e6) frame from the ANN path (`ivf_ann_topk` /
    `lsh_ann_topk` unioned both directions) — the margin stage itself is candidate-bounded: the
    scored table is cut (it feeds both neighborhood aggs and the final
    ranking), the per-endpoint averages are two combinable aggs whose
    state is one row per endpoint, and the best-match windows
    partition by endpoint with ≤ |candidates-per-endpoint| rows.
    """
    if candidates is None:
        xs = x.select(
            F.col(id_col).alias("x_id"), _int_vec(F.col(vec_col)).alias("xv")
        ).withColumn("xn", _dot(F.col("xv"), F.col("xv")))
        ys = y.select(
            F.col(id_col).alias("y_id"), _int_vec(F.col(vec_col)).alias("yv")
        ).withColumn("yn", _dot(F.col("yv"), F.col("yv")))
        candidates = (
            xs.join(broadcast(ys))
            .withColumn("dot", _dot(F.col("xv"), F.col("yv")))
            .select(
                "x_id",
                "y_id",
                F.floor(
                    F.col("dot") * 1000000
                    / (F.sqrt(F.col("xn").cast("double"))
                       * F.sqrt(F.col("yn").cast("double")))
                ).cast("long").alias("cos_sim_e6"),
            )
        )
    scored = cut(candidates.select("x_id", "y_id", "cos_sim_e6"))
    wx = Window.partitionBy("x_id").orderBy(
        F.desc("cos_sim_e6"), F.asc("y_id")
    )
    ax = (
        scored.withColumn("rn", F.row_number().over(wx))
        .where(F.col("rn") <= k)
        .groupBy("x_id")
        .agg(
            F.expr("sum(cos_sim_e6) div count(*)")
            .cast("long")
            .alias("ax")
        )
    )
    wy = Window.partitionBy("y_id").orderBy(
        F.desc("cos_sim_e6"), F.asc("x_id")
    )
    ay = (
        scored.withColumn("rn", F.row_number().over(wy))
        .where(F.col("rn") <= k)
        .groupBy("y_id")
        .agg(
            F.expr("sum(cos_sim_e6) div count(*)")
            .cast("long")
            .alias("ay")
        )
    )
    margins = (
        scored.join(ax, "x_id")
        .join(ay, "y_id")
        .select(
            "x_id",
            "y_id",
            "cos_sim_e6",
            F.expr("(cos_sim_e6 * 2000) div greatest(ax + ay, 1L)")
            .cast("long")
            .alias("margin_x1e3"),
        )
    )
    bx = Window.partitionBy("x_id").orderBy(
        F.desc("margin_x1e3"), F.asc("y_id")
    )
    by = Window.partitionBy("y_id").orderBy(
        F.desc("margin_x1e3"), F.asc("x_id")
    )
    return (
        margins.withColumn("bx", F.row_number().over(bx))
        .withColumn("by", F.row_number().over(by))
        .where((F.col("bx") == 1) & (F.col("by") == 1))
        .select("x_id", "y_id", "cos_sim_e6", "margin_x1e3")
    )
