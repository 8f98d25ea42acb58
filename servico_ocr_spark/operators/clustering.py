"""Integer-quantized Lloyd's k-means over embedding vectors — the
iterative clustering primitive behind IVF index building and corpus
bucketing, run for a FIXED number of rounds with fully deterministic,
engine-portable arithmetic so the driver oracle can replay it as
nested CTEs (the pagerank technique).

Why integers: float means diverge across engines/aggregation orders
(the repo's "never float aggregates" contract). Vectors are quantized
once via ``floor(CAST(x AS DOUBLE) * scale)`` (the exact idiom the ANN
oracles already share), all distances are integer squared-L2, and the
centroid update is an integer mean ``sum div count`` — both Spark
``div`` and DuckDB ``//`` truncate toward zero (verified on negatives),
so the rounds agree bit-for-bit.

Determinism everywhere the textbook algorithm is loose:
- init: the k vectors with the smallest ids (no RNG — seeding is the
  caller's job via id selection);
- assignment ties: the argmin is taken over the single integer
  ``d2 * k + cid`` (min distance, then smallest cluster id) — no
  engine-specific arg_min tie behavior;
- empty clusters: keep their previous centroid (left join + coalesce).

Scale shape per round: points live as an exploded (id, dim, q) table
(one row per coordinate — codegen arithmetic, no interpreted array
HOFs in the loop); centroids are k·d rows, always BROADCAST; the
distance step is one broadcast join + one (id, cid) aggregation; the
update is one (cid, dim) aggregation. Points are cut once (referenced
twice per round), centroids every round (lineage would otherwise grow
per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut


def _quantized_points(
    emb: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(vid, dim, q): the exploded integer-grid point table (cut —
    referenced twice per Lloyd round)."""
    return cut(emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "vid",
        "dim",
        F.floor(F.col("x").cast("double") * scale).cast("long").alias("q"),
    ))


def _assign(pts: DataFrame, cent: DataFrame, k: int) -> DataFrame:
    """(vid, cid, d2): deterministic nearest-centroid assignment via
    the single-integer argmin ``min(d2·k + cid)``."""
    d = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vid", "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    return d.groupBy("vid").agg(
        F.min(F.col("d2") * k + F.col("cid")).alias("key")
    ).select(
        "vid",
        (F.col("key") % k).cast("long").alias("cid"),
        F.expr(f"key div {int(k)}").cast("long").alias("d2"),
    )


def _lloyd(pts: DataFrame, k: int, iterations: int) -> DataFrame:
    """(cid, dim, cq): final centroids after ``iterations`` Lloyd
    rounds seeded from the k smallest ids; returned cut (the caller
    joins it at least once more)."""
    cent = pts.where(F.col("vid") < k).select(
        F.col("vid").alias("cid"), "dim", F.col("q").alias("cq")
    )
    for _ in range(iterations):
        cent = cut(cent)
        a = _assign(pts, cent, k)
        s = (
            a.select("vid", "cid")
            .join(pts, "vid")
            .groupBy("cid", "dim")
            .agg(
                F.sum("q").cast("long").alias("sm"),
                F.count("*").cast("long").alias("n"),
            )
        )
        cent = (
            cent.join(s, ["cid", "dim"], "left")
            .select(
                "cid",
                "dim",
                F.coalesce(F.expr("sm div n"), F.col("cq"))
                .cast("long")
                .alias("cq"),
            )
        )
    return cut(cent)


def kmeans_lite(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, cluster, d2): hard assignment of every vector to the
    nearest of ``k`` centroids after ``iterations`` Lloyd rounds, with
    the integer squared-L2 distance to that centroid. See the module
    docstring for the determinism and portability contract."""
    if k < 1 or iterations < 0:
        raise ValueError("k >= 1 and iterations >= 0 required")
    pts = _quantized_points(emb, id_col, vec_col, scale)
    cent = _lloyd(pts, k, iterations)
    return _assign(pts, cent, k).select(
        F.col("vid").alias("vec_id"),
        F.col("cid").alias("cluster"),
        "d2",
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    threshold_e6: int = 400_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, cluster, d2, keep): SemDeDup-style semantic dedup
    (Abbas et al., 2023 — public method) composed from this module's
    k-means and the ANN face's integer cosine: cluster the embeddings,
    generate candidate pairs ONLY within a cluster, and for every pair
    with cosine ≥ ``threshold_e6``/1e6 drop the endpoint farther from
    its centroid (larger d2, ties to the larger id) — keeping, per
    near-duplicate neighborhood, the member most central to its
    semantic cluster.

    ``keep`` semantics (deterministic, non-iterative): a vector is
    removed iff SOME above-threshold same-cluster neighbor beats it on
    (d2, vec_id). This is pairwise domination, not connected
    components — each pair independently kills its worse endpoint, so
    the decision is one self-join + one distinct, no fixpoint loop
    (the components variant already exists as `neardup_components`;
    SemDeDup's published form is per-pair too).

    Scale shape: the only quadratic step is the within-cluster
    self-join, and ``k`` is its knob — SemDeDup at corpus scale picks
    k ~ n/target_cluster_size so the per-cluster pair count stays
    bounded; the join shuffles once on the cluster id (both sides), the
    dot product is the ANN face's zip_with+aggregate (measured faster
    than an unrolled element_at chain at 64 dims — see the repo's HOF
    counter-example), and the loser set collapses through a
    map-side-combinable distinct before the final restoring left join.
    The cosine is the SAME floored-double expression the ANN operators
    use (dot·1e6 / (√qnorm·√vnorm), floor) — both engines floor the
    same IEEE value, proven by the ANN oracles.
    """
    from .similarity import _dot, _int_vec

    if threshold_e6 < 0:
        raise ValueError("threshold_e6 >= 0 required")
    assign = cut(kmeans_lite(
        emb, k=k, iterations=iterations,
        id_col=id_col, vec_col=vec_col, scale=scale,
    ))  # referenced 3x below
    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        _int_vec(F.col(vec_col)).alias("v"),
    ).select(
        "vec_id", "v", _dot(F.col("v"), F.col("v")).alias("nrm")
    )
    m = assign.join(vecs, "vec_id")
    a = m.select(
        F.col("vec_id").alias("ia"), F.col("cluster").alias("ca"),
        F.col("d2").alias("da"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = m.select(
        F.col("vec_id").alias("ib"), F.col("cluster").alias("cb"),
        F.col("d2").alias("db"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ia") < F.col("ib")))
        .select(
            "ia", "da", "ib", "db",
            F.floor(
                _dot(F.col("va"), F.col("vb")) * 1_000_000
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
            ).cast("long").alias("cos_sim_e6"),
        )
        .where(F.col("cos_sim_e6") >= threshold_e6)
    )
    # ia < ib, so on a d2 tie the pair's loser is ib
    losers = pairs.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("ia") < F.col("ib"))),
            F.col("ib"),
        ).otherwise(F.col("ia")).alias("vec_id")
    ).distinct()
    return (
        assign.join(
            losers.select("vec_id", F.lit(0).alias("_lost")),
            "vec_id", "left",
        )
        .select(
            "vec_id", "cluster", "d2",
            F.when(F.col("_lost").isNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("keep"),
        )
    )


def pq_encode(
    emb: DataFrame,
    m: int = 2,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """``(vec_id, pq_code, err2)``: product quantization (Jégou et al.
    2011, the FAISS IVF-PQ memory layout): the vector splits into ``m``
    contiguous subvectors, each quantized by its OWN ``k``-centroid
    integer k-means (:func:`kmeans_lite` — same seeds-by-id, same
    deterministic argmin), and the code packs the per-subspace
    centroid ids radix-``k`` (``code = Σ c_s·k^s``). ``err2`` is the
    summed squared quantization error — exactly the ADC residual a PQ
    index trades for ``m·log2(k)`` bits per vector instead of
    ``4·dim`` bytes (here: 4 bits vs 256 bytes, a 512× compression).

    Scale shape: ``m`` independent kmeans runs over column-pruned
    subvector slices (each is the kmeans_lite shape: broadcast
    centroids, combinable aggs, O(iterations) rounds), joined on the
    id — subspaces are embarrassingly parallel by construction, which
    is WHY PQ trains at 10^12 vectors when a full-dimension k·m^...
    codebook cannot. ``dim`` avoids an eager length probe when known;
    ``dim % m == 0`` required (PQ's equal-split contract)."""
    if dim is None:
        dim = int(
            emb.select(F.size(F.col(vec_col)).alias("d")).limit(1)
            .collect()[0]["d"]
        )
    if m < 1 or dim % m != 0:
        raise ValueError(f"m must divide dim (dim={dim}, m={m})")
    if k ** m > 2 ** 62:
        raise ValueError("code space exceeds BIGINT")
    dsub = dim // m
    parts: DataFrame | None = None
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(vec_col),
        )
        a = kmeans_lite(
            sub, k=k, iterations=iterations, id_col=id_col,
            vec_col=vec_col, scale=scale,
        ).select(
            "vec_id",
            F.col("cluster").alias(f"_c{s}"),
            F.col("d2").alias(f"_e{s}"),
        )
        parts = a if parts is None else parts.join(a, "vec_id")
    code = F.lit(0).cast("long")
    err = F.lit(0).cast("long")
    for s in range(m):
        code = code + F.col(f"_c{s}") * (k ** s)
        err = err + F.col(f"_e{s}")
    return parts.select(
        "vec_id",
        code.cast("long").alias("pq_code"),
        err.cast("long").alias("err2"),
    )


def pq_search(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 2,
    k: int = 4,
    iterations: int = 2,
    k_results: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """``(query_id, vec_id, adc_d2, rank)``: PQ asymmetric distance
    computation (Jégou et al. 2011's ADC — the query path of IVF-PQ):
    each query builds an ``m × k`` integer distance TABLE against the
    per-subspace codebooks (query subvector → squared L2 to every
    centroid), and every database vector is scored by summing the m
    table cells its code points at. The database side is touched only
    through its CODES — never its vectors — which is why PQ search
    scales to 10^12 vectors: the per-query work is k·dim subtractions
    for the tables plus one lookup-sum per candidate code.

    Deterministic end-to-end: codebooks from the shared integer Lloyd
    loop (:func:`_lloyd`, seeds by id), table cells exact integer
    squared L2, rank ties break on (adc_d2 asc, vec_id asc). ADC of a
    query against ITSELF equals its own quantization error (err2 from
    :func:`pq_encode`) — the textbook identity, pinned in tests;
    self-matches are then excluded (the ANN-face convention).

    ID-SPACE REQUIREMENT: the self-match exclusion is
    ``vec_id != query_id``, which assumes queries share the database's
    id space (the ANN-face convention here: queries ARE database rows,
    as in near-dup search). With a DISJOINT query table, an accidental
    id collision between a query and an unrelated database vector would
    silently drop a genuine neighbor — offset one of the id spaces
    (e.g. negate query ids) before calling. Same contract for
    :func:`ivfpq_search`, which shares the score frame.

    Shape: per subspace one Lloyd run + one assignment over the
    column-pruned slice; distance tables are |Q|·k-row BROADCASTS, so
    scoring is a chain of broadcast joins over the code table — the
    only shuffle after encoding is the per-query rank window."""
    scored = _pq_adc_scores(
        emb, queries, m, k, iterations, id_col, vec_col, scale, dim
    )
    return _rank_topk(scored, k_results)


def _pq_adc_scores(
    emb: DataFrame,
    queries: DataFrame,
    m: int,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    scale: int,
    dim: int | None,
) -> DataFrame:
    """``(query_id, vec_id, adc_d2)``: the unranked ADC score frame —
    shared by :func:`pq_search` (global scan) and
    :func:`ivfpq_search` (probe-restricted)."""
    if dim is None:
        dim = int(
            emb.select(F.size(F.col(vec_col)).alias("d")).limit(1)
            .collect()[0]["d"]
        )
    if m < 1 or dim % m != 0:
        raise ValueError(f"m must divide dim (dim={dim}, m={m})")
    dsub = dim // m
    codes: DataFrame | None = None
    tables = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(vec_col),
        )
        pts = _quantized_points(sub, id_col, vec_col, scale)
        cent = _lloyd(pts, k, iterations)
        asg = _assign(pts, cent, k).select(
            F.col("vid").alias("vec_id"), F.col("cid").alias(f"_c{s}")
        )
        codes = asg if codes is None else codes.join(asg, "vec_id")
        qsub = queries.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(vec_col),
        )
        qpts = _quantized_points(qsub, id_col, vec_col, scale)
        qd = (
            qpts.join(F.broadcast(cent), "dim")
            .groupBy(F.col("vid").alias("query_id"), "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq"))
                    * (F.col("q") - F.col("cq"))
                )
                .cast("long")
                .alias(f"_qd{s}")
            )
            .withColumnRenamed("cid", f"_qc{s}")
        )
        tables.append(qd)
    scored = codes
    for s in range(m):
        cond = scored[f"_c{s}"] == tables[s][f"_qc{s}"]
        if s > 0:
            cond = cond & (scored["query_id"] == tables[s]["query_id"])
            scored = scored.join(F.broadcast(tables[s]), cond).drop(
                tables[s]["query_id"]
            )
        else:
            scored = scored.join(F.broadcast(tables[s]), cond)
    adc = sum(F.col(f"_qd{s}") for s in range(m))
    return scored.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", adc.cast("long").alias("adc_d2")
    )


def _rank_topk(scored: DataFrame, k_results: int) -> DataFrame:
    if k_results < 1:
        raise ValueError("k_results >= 1 required")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("vec_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k_results)


def ivfpq_search(
    emb: DataFrame,
    queries: DataFrame,
    coarse_k: int = 4,
    nprobe: int = 2,
    m: int = 2,
    k: int = 4,
    iterations: int = 2,
    k_results: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """``(query_id, vec_id, adc_d2, rank)``: IVF-PQ search — the full
    FAISS web-scale index shape. A coarse ``coarse_k``-cell quantizer
    (full-dimension integer Lloyd) partitions the database; each query
    ranks the cells by exact distance to the cell centroid and probes
    only its ``nprobe`` closest (ties: smaller cell id); PQ ADC then
    scores ONLY vectors in probed cells. Candidate volume drops to
    ~``nprobe/coarse_k`` of the corpus — the inverted-file pruning that
    makes 10^12-vector search feasible — at the usual recall cost:
    a true neighbor living in an unprobed cell is unreachable
    (documented; raise ``nprobe`` to trade back).

    Simplification vs stock FAISS, stated plainly: codes are GLOBAL PQ
    codes (FAISS ``by_residual=false``), not residual-encoded per cell
    — residual PQ is the known upgrade and slots into the same shape
    (subspace Lloyd over ``q − coarse_cq`` residual points).

    Shape: the coarse index is one more Lloyd run + one assignment;
    probes are a |Q|·coarse_k-row broadcast; the probe restriction is
    a broadcast semi-filter applied UNDER the rank window, so the only
    extra shuffle over :func:`pq_search` is none at all."""
    if nprobe < 1 or nprobe > coarse_k:
        raise ValueError("1 <= nprobe <= coarse_k required")
    if dim is None:
        dim = int(
            emb.select(F.size(F.col(vec_col)).alias("d")).limit(1)
            .collect()[0]["d"]
        )
    fpts = _quantized_points(emb, id_col, vec_col, scale)
    ccent = _lloyd(fpts, coarse_k, iterations)
    cells = _assign(fpts, ccent, coarse_k).select(
        F.col("vid").alias("vec_id"), F.col("cid").alias("cell")
    )
    qpts = _quantized_points(queries, id_col, vec_col, scale)
    qcd = (
        qpts.join(F.broadcast(ccent), "dim")
        .groupBy(F.col("vid").alias("query_id"), "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            )
            .cast("long")
            .alias("cd2")
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.asc("cd2"), F.asc("cid")
    )
    probes = (
        qcd.withColumn("prk", F.row_number().over(wp))
        .where(F.col("prk") <= nprobe)
        .select("query_id", F.col("cid").alias("cell"))
    )
    scored = _pq_adc_scores(
        emb, queries, m, k, iterations, id_col, vec_col, scale, dim
    )
    probed = scored.join(cells, "vec_id").join(
        F.broadcast(probes), ["query_id", "cell"], "left_semi"
    )
    return _rank_topk(
        probed.select("query_id", "vec_id", "adc_d2"), k_results
    )
