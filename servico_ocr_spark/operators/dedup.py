"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- exact dedupe is one hash-aggregate (map-side partial combine, AQE
  coalesced) — the J4/X7 pattern of the reference (md5 id dedupe,
  app/app_controller.py:71-79) generalized to content dedupe.
- MinHash/LSH never materializes the O(n²) pair space: signatures are one
  projection, candidates come from an equi-join on (band, band_hash) —
  shuffle keyed by band buckets, broadcast-free, skew-safe because bucket
  population is bounded by the band width.
- SimHash is 60 integer aggregations over an exploded word table — all
  whole-stage codegen; 60-bit signatures keep the banded near-dup join's
  per-band key space wide enough (2^15) to stay subquadratic at web scale.
- n-gram Jaccard is shingle-equi-join + count ratio; shingles are distinct
  per doc so the join fan-out is bounded by shingle frequency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut, distinct_words, h48, norm_text, words_array

#: RECOMMENDED document-frequency cap for candidate-join features (words
#: / shingles). A feature present in more docs than this carries no
#: discriminative near-dup signal, and — decisive at web scale — one
#: boilerplate shingle shared by 10^8 docs would alone create a 10^16-row
#: join key. Capping df bounds the per-key fan-out of every candidate
#: equi-join to DEFAULT_MAX_DOC_FREQ² regardless of corpus size.
#: The library functions default to ``None`` (uncapped — capping CHANGES
#: result semantics: docs whose features are all capped out drop from
#: pairing, and jaccard is computed over the surviving features only), so
#: the cap is an explicit opt-in; every production entry point in this
#: repo passes one explicitly. At 10^6+ docs, always pass a cap.
DEFAULT_MAX_DOC_FREQ = 10_000


def _cap_doc_freq(features: DataFrame, feature_col: str,
                  max_doc_freq: int | None) -> DataFrame:
    """Drop (doc_id, feature) rows whose feature occurs in more than
    ``max_doc_freq`` docs.

    Shape choice, measured both ways: the window count evaluates the
    (possibly expensive) feature subtree ONCE but funnels all rows of a
    hot feature into one window group — a bounded, *linear* straggler
    (df_max rows buffered/spilled in one task, ~1.6 GB at df=10^8),
    which is the price of preventing the *quadratic* join fan-out
    downstream. The alternative — groupBy(feature).count() + join back,
    whose probe side AQE skew-split can spread — re-evaluates the feature
    subtree a second time per reference: measured 1.77 s vs 1.17 s for
    ngram_jaccard at sf0.1 (4 scans vs 2), and at real scale the doubled
    shingle/scan work dominates a linear straggler that only the handful
    of boilerplate keys ever hit. If a corpus has so many >max_doc_freq
    features that window spill dominates, flip to the join shape — the
    semantics are identical (parity-tested)."""
    if max_doc_freq is None:
        return features
    win = Window.partitionBy(feature_col)
    return (
        features.withColumn("_df", F.count("*").over(win))
        .where(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )


def _telemetry_row(candidates: DataFrame, verified: DataFrame) -> DataFrame:
    """One-row banding-health metric: (candidates, verified,
    verified_per_million). The ratio is the quantity that must stay far
    from 10^6 at scale — candidates ≈ verified means the bands are doing
    nothing (every candidate survives: thresholds too loose) while a
    vanishing ratio means candidate volume is wasted work (bands too
    coarse for the corpus). Computed from the operator's OWN subplans, so
    running it re-executes them — production runs sample or schedule it,
    they don't pay it per job."""
    c = candidates.agg(F.count("*").cast("long").alias("candidates"))
    v = verified.agg(F.count("*").cast("long").alias("verified"))
    return c.crossJoin(v).select(
        "candidates",
        "verified",
        F.when(
            F.col("candidates") > 0,
            F.floor(F.col("verified") * 1000000 / F.col("candidates")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("verified_per_million"),
    )


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, keep_id).

    ``keep_id`` is the smallest id — the deterministic survivor.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"),
                  F.col(id_col).alias("_id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def _signatures_from_words(exploded: DataFrame,
                           num_hashes: int) -> DataFrame:
    """MinHash signature per doc from a prebuilt (doc_id, w) distinct-word
    table — shared by the capped and uncapped paths: sig[i] = min over
    the doc's words of h48(i || ':' || word); a doc with no words gets
    no row.

    Shape: compute the k hash columns in whole-stage codegen, take k min()
    aggregations (map-side partial combine) — NOT array higher-order
    functions, which run interpreted.
    """
    hashed = exploded.select(
        "doc_id",
        *[
            h48(F.concat(F.lit(f"{i}:"), F.col("w"))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    return mins.select("doc_id", sig.alias("sig"))


def _lsh_candidates(sig_df: DataFrame, num_hashes: int,
                    bands: int) -> DataFrame:
    """Candidate pairs from banded signatures: docs sharing any band."""
    rows = num_hashes // bands
    band_entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows + r + 1).cast("string")
                                for r in range(rows)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    )
    banded = sig_df.select("doc_id", band_entries.alias("e")).select(
        "doc_id", "e.band", "e.band_hash"
    )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_word_df: int | None = None,
) -> DataFrame:
    """LSH candidates verified with true word-set Jaccard ≥ threshold.

    Output: (id_a, id_b, jaccard_pct) with jaccard scaled to integer
    percent (engine-portable exactness; no float hashing hazards).

    ``max_word_df`` drops words present in more than that many docs from
    BOTH the signature and the verification word sets (single consistent
    semantics: jaccard over discriminative words). Without it, one
    stop-word shared by 10^8 docs makes the verification equi-join's
    fan-out quadratic in corpus size; with it, per-key fan-out is bounded
    by max_word_df² whatever the corpus. Default is ``None`` (uncapped)
    because the cap changes result semantics — a doc whose words are ALL
    capped out disappears from pairing entirely; opt in explicitly
    (``DEFAULT_MAX_DOC_FREQ`` is the recommended web-scale value, and
    every entry point in this repo passes a cap).

    Verification joins the exploded distinct-word table against the
    candidate pairs and counts matches — array_intersect over wide arrays
    is an interpreted per-pair set operation and was the sf0.1 hotspot.
    """
    return _minhash_build(df, text_col, id_col, num_hashes, bands,
                          threshold, max_word_df)[1]


def minhash_candidate_telemetry(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_word_df: int | None = None,
) -> DataFrame:
    """Banding-health metrics for :func:`minhash_near_duplicates` with the
    same parameters: one row (candidates, verified, verified_per_million)
    where candidates = distinct LSH band-collision pairs and verified =
    pairs passing true-jaccard verification. See :func:`_telemetry_row`
    for how to read it (and its recompute cost)."""
    cands, result = _minhash_build(df, text_col, id_col, num_hashes,
                                   bands, threshold, max_word_df)
    return _telemetry_row(cands, result)


def minhash_estimator_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.3,
    max_word_df: int | None = None,
) -> DataFrame:
    """``(decile, n_pairs, mean_abs_err_pp)``: sketch-health audit for
    the MinHash estimator — over the verified pair graph, the mean
    absolute gap between the SIGNATURE-agreement estimate
    (``100·#equal components div k``) and the exact word-set Jaccard,
    bucketed by true-Jaccard decile. The number this audits is the
    textbook ``E[err] ≈ 100·√(j(1−j)/k)`` (~11 pp at j=0.5, k=16):
    if a production decile reads far above it, the hash count is too
    small for that similarity regime — the observable that decides k
    BEFORE recall silently degrades. Run at a LOWER threshold than the
    dedup pass so the curve covers the deciles below the operating
    point.

    Measured caveat (sf0.01, k=16, threshold 30): low deciles read
    ABOVE the unconditional theory value (decile 5: 31 pp vs the
    ~12 pp of E[err] at j=0.55) — LSH SELECTION BIAS: a pair enters
    the graph only if some band collided, which conditions on sketches
    that over-estimate, inflating the conditional error exactly where
    banding recall is low. That bias is what production sees too (it
    only ever observes candidates), so the audit reports the operative
    number, not the textbook one — compare deciles against each other
    and against history, not against the unconditional formula.

    Shape: shares `_minhash_build` (the telemetry-twin rule) for the
    verified pairs, plus one signature build over the same capped word
    table and two id-keyed joins; the component-agreement count is a
    ``zip_with``+``aggregate`` over k elements per pair (the measured
    `_dot` precedent — bounded by pairs·k, not corpus)."""
    _, result = _minhash_build(
        df, text_col, id_col, num_hashes, bands, threshold, max_word_df
    )
    wx = _cap_doc_freq(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(distinct_words(F.col(text_col))).alias("w"),
        ),
        "w",
        max_word_df,
    )
    sig = _signatures_from_words(wx, num_hashes)
    joined = (
        result.join(
            sig.select(F.col("doc_id").alias("id_a"),
                       F.col("sig").alias("sa")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"),
                       F.col("sig").alias("sb")),
            "id_b",
        )
        .select(
            "jaccard_pct",
            F.abs(
                F.expr(f"(aggregate(zip_with(sa, sb, (x, y) -> "
                       f"cast(x = y AS bigint)), 0L, (a, x) -> a + x)"
                       f" * 100) div {int(num_hashes)}")
                - F.col("jaccard_pct")
            ).alias("err_pp"),
        )
    )
    return (
        joined.groupBy(
            F.expr("jaccard_pct div 10").cast("long").alias("decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("sum(err_pp) div count(*)")
            .cast("long")
            .alias("mean_abs_err_pp"),
        )
    )


def _minhash_build(df, text_col, id_col, num_hashes, bands, threshold,
                   max_word_df):
    """(candidate pairs, verified pairs) — shared by the operator and its
    telemetry twin so the two can never diverge."""
    wx = _cap_doc_freq(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(distinct_words(F.col(text_col))).alias("w"),
        ),
        "w",
        max_word_df,
    )
    sigs = _signatures_from_words(wx, num_hashes)
    cands = _lsh_candidates(sigs, num_hashes, bands)
    sizes = wx.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    # two equi-joins: words of id_a matched against words of id_b
    inter = (
        cands
        .join(wx.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(
            wx.withColumnRenamed("doc_id", "id_b"),
            ["id_b", "w"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    joined = (
        inter
        .join(sizes.withColumnRenamed("doc_id", "id_a")
              .withColumnRenamed("n_words", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n_words", "nb"), "id_b")
    )
    jacc_pct = F.floor(
        F.col("inter") * 100 / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    verified = (
        joined.select("id_a", "id_b", jacc_pct.alias("jaccard_pct"))
        .where(F.col("jaccard_pct") >= int(threshold * 100))
    )
    return cands, verified


def neardup_components(
    ids_df: DataFrame,
    pairs_df: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    telemetry: dict | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: the grouping
    step a dedup pipeline needs after pair enumeration (a doc transitively
    near-identical to a kept doc must drop even without a direct edge).

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    rewires every node's strictly-larger neighbors (large-star) and then
    its smaller neighbors (small-star) to the neighborhood minimum. Edge
    "distances" to the component minimum roughly halve per round, so
    convergence is O(log D) rounds in the component diameter D — plain
    min-label propagation is O(D), which hard-fails on boilerplate
    *chains* (A~B~C~... with no shortcut edges) whose diameter exceeds
    any fixed round cap. At the fixpoint the edge set is a union of
    stars, each rooted at its component's smallest id — the deterministic
    survivor.

    The driver loop is orchestration only (the standard shape for
    iterative algorithms on Spark, cf. GraphX Pregel); all per-round work
    is two groupBy-min aggregations + two equi-joins, fully distributed.
    Each round runs exactly ONE action: a checksum aggregation over the
    new edge set that doubles as the materialization of its :func:`cut`
    (lineage cut + convergence signal in one job); the first round's
    checksum also materializes the cut input edge table.
    Checksum equality only *suspects* a fixpoint; an exact anti-join
    verification confirms it before the loop exits, so a colliding
    checksum can never silently truncate components.

    Pair endpoints are assumed to be drawn from ``ids_df`` (they are, for
    every pair enumerator in this module applied to the same corpus);
    endpoints outside it still propagate connectivity (they can bridge
    two corpus docs) but are dropped from the output, and each emitted
    component is re-rooted at its smallest id *present in* ``ids_df`` so
    the keeper invariant — exactly one ``keeper=1`` row per emitted
    component — holds even when the raw star root is such an outside
    node (one output-sized groupBy-min + join, linear and tiny next to
    the pair mass; an exact no-op when endpoints ⊆ ids).

    If ``telemetry`` is a dict, ``telemetry["rounds"]`` is set to the
    number of contraction rounds executed (convergence-health signal for
    production runs). Returns (doc_id, component_id, keeper).
    """
    nodes = ids_df.select(F.col(id_col).cast("long").alias("node"))
    # canonical orientation: u > v for every stored edge
    pa, pb = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    edges = cut(
        pairs_df.select(F.greatest(pa, pb).alias("u"),
                        F.least(pa, pb).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_sig = None
    rounds = 0
    converged = False
    while rounds < max_iterations:
        rounds += 1
        # large-star: for every node, point each strictly-larger neighbor
        # at the minimum of the closed neighborhood. Output stays
        # max->min oriented because min(u, mn) <= u < v.
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(nmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )
        # small-star: per larger endpoint u, rewire u and all its smaller
        # neighbors to the smallest of them (mn <= v < u throughout).
        smin = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(smin, "u")
            .where(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(smin.select("u", F.col("mn").alias("v")))
            .distinct()
        )
        # ONE action per round: the checksum agg materializes the cut.
        # bit_xor (not sum) so the 10^12-edge case cannot
        # overflow under ANSI arithmetic; count + per-column xor + xor of
        # a pair hash makes accidental collision astronomically unlikely,
        # and a collision is caught by the exact check below anyway.
        new_edges = cut(small)
        sig = tuple(
            new_edges.agg(
                F.count("*").alias("c"),
                F.coalesce(F.bit_xor("u"), F.lit(0)).alias("xu"),
                F.coalesce(F.bit_xor("v"), F.lit(0)).alias("xv"),
                F.coalesce(
                    F.bit_xor(h48(F.concat_ws(",", "u", "v"))), F.lit(0)
                ).alias("xh"),
            ).first()
        )
        if sig == prev_sig:
            # suspected fixpoint -> exact set-equality confirmation
            # (counts already match via sig; one cheap extra action)
            if new_edges.join(edges, ["u", "v"], "left_anti").limit(1).count() == 0:
                edges = new_edges
                converged = True
                break
        prev_sig = sig
        edges = new_edges
    if telemetry is not None:
        telemetry["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iterations} "
            "star-contraction rounds (needs ~log2 of the largest "
            "component diameter); raise max_iterations — returning "
            "partial labels would silently split true components"
        )
    # fixpoint edge set = disjoint min-rooted stars: (node, root) per
    # non-root node. min() is defensive against duplicate star edges.
    labeled = (
        nodes.join(edges.withColumnRenamed("u", "node"), "node", "left")
        .groupBy("node")
        .agg(F.min(F.coalesce(F.col("v"), F.col("node"))).alias("lab"))
    )
    # Re-root at the smallest id present in ids_df: when a pairs_df
    # endpoint OUTSIDE ids_df is the component minimum, the raw star
    # root never appears as an output row and the component would have
    # no keeper. When endpoints ⊆ ids (every in-module enumerator), the
    # root is already a corpus id and this is an exact no-op.
    roots = labeled.groupBy("lab").agg(F.min("node").alias("root"))
    return (
        labeled.join(roots, "lab")
        .select(
            F.col("node").alias("doc_id"),
            F.col("root").alias("component_id"),
            F.when(F.col("node") == F.col("root"), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("keeper"),
        )
    )


def component_representatives(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component_id",
    score_col: str = "score",
) -> DataFrame:
    """Pick the document a dedup pipeline actually KEEPS from each
    near-duplicate component: the member with the highest ``score_col``
    (ties to the smallest ``id_col``), plus its score and the component
    size — the final stage after :func:`neardup_components`, replacing
    its id-order ``keeper`` with a quality-aware choice (keep the
    best-quality page of a template family, not the lowest-id one).

    Scale shape: one equi join of components with per-doc scores on the
    id (both inputs are corpus-keyed; AQE picks broadcast when one side
    is small), then ONE map-side-combinable aggregation on the component
    key — ``max_by`` over the (score, -id) struct resolves the argmax
    inside the partial aggregate, so a 10^9-member template cluster
    costs its combiner a comparison, never a materialized row group
    (same rule as ``urls.latest_crawl``). No windows."""
    joined = components.select(id_col, comp_col).join(
        scores.select(id_col, score_col), id_col
    )
    # (score asc, -id asc) max == highest score, then smallest id —
    # lexicographic struct comparison, total because ids are unique
    ord_key = F.struct(
        F.col(score_col).alias("s"), (-F.col(id_col)).alias("neg_id")
    )
    return joined.groupBy(comp_col).agg(
        F.max_by(F.col(id_col), ord_key).alias("keep_id"),
        F.max(ord_key).getField("s").alias("best_score"),
        F.count("*").cast("long").alias("n_members"),
    )


def _simhash_sigs(df: DataFrame, text_col: str, id_col: str,
                  bits: int) -> DataFrame:
    """(doc_id, simhash, n) — n = distinct word count. A word-less doc
    keeps a row with simhash 0 and n = 0 (explode_outer); callers that
    must not pair empty docs filter on ``n > 0``.

    The classic per-bit ±1 vote is folded algebraically: with s_b = count
    of words whose hash has bit b set and n = word count, the vote
    2·s_b − n is positive iff 2·s_b > n. Each aggregate is then a bare
    ``sum((h >> b) & 1)`` — much smaller generated code than nested
    CASE ±1 sums (codegen compile time is a real per-query constant).

    Signature bits: 0..47 from h48(word); bits 48 and up from h48('~' ||
    word), a second independent 48-bit draw (only computed when
    bits > 48). Signed-long safety caps ``bits`` at 63 — so at most bits
    48..62 of the signature draw from the second hash, and bit 63 is
    excluded entirely because ``1 << 63`` wraps negative in both engines.
    """
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(distinct_words(F.col(text_col))).alias("w"),
    ).withColumn("h1", h48(F.col("w")))
    if bits > 48:
        exploded = exploded.withColumn(
            "h2", h48(F.concat(F.lit("~"), F.col("w")))
        )
    aggs = [
        F.sum(
            F.shiftright(
                F.col("h1") if b < 48 else F.col("h2"),
                b if b < 48 else b - 48,
            ).bitwiseAND(F.lit(1))
        ).alias(f"s{b}")
        for b in range(bits)
    ] + [F.count("w").alias("n")]
    voted = exploded.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        # coalesce: a doc with no words has all-null sums and n = 0
        term = F.when(
            2 * F.coalesce(F.col(f"s{b}"), F.lit(0)) > F.col("n"),
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return voted.select("doc_id", sim.cast("long").alias("simhash"), "n")


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """60-bit SimHash over distinct normalized words — ``bits`` integer
    aggregations, fully codegen'd; no UDF. Word-less docs get signature 0
    (kept in the output: a fingerprinting stage must emit a row per doc).

    60 bits (not 32): the banded near-dup join below slices the signature
    into ``bands`` equi-join keys, and key cardinality per band is
    2^(bits/bands). At 32 bits / 4 bands that is 256 values — a quadratic
    candidate blow-up at web scale (n²/1024 pairs even on random text).
    60 bits / 4 bands gives 32768 values per band (~128× fewer collisions)
    while staying safely inside a signed 64-bit long in both Spark and
    DuckDB (bit 63 would wrap negative; 60 divides evenly by 4).
    """
    return _simhash_sigs(df, text_col, id_col, bits).select(
        "doc_id", "simhash"
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming) with Hamming distance
    ≤ ``max_hamming`` between 60-bit signatures.

    Candidates come from pigeonhole banding — with ``bands`` equal slices
    of the signature, any pair within ``max_hamming ≤ bands − 1`` bit
    flips must agree on at least one whole band, so an equi-join on
    (band, band_value) finds every qualifying pair without the O(n²)
    signature cross-product. Exact ``bit_count(xor)`` then verifies.
    The shuffle key is a 15-bit band value + band id (32768 values per
    band) — at 10^12 docs the expected random-collision candidate count
    per band is n²/2^(bits/bands), so band width is THE scale knob; 8-bit
    bands saturate long before that (see :func:`simhash`).

    Word-less docs are excluded from pairing: their signature is the
    degenerate 0, and "empty" is not *similar* to whatever real doc's
    signature happens to have popcount ≤ max_hamming. (Exact-empty
    duplicates belong to :func:`exact_duplicates`.)
    """
    return _simhash_pairs_build(df, text_col, id_col, max_hamming, bits,
                                bands)[1]


def simhash_candidate_telemetry(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """Banding-health metrics for :func:`simhash_near_duplicates` with the
    same parameters: candidates = RAW band-collision rows (a pair counted
    once per agreeing band — the actual join volume, which is what must
    stay ≪ n² at scale), verified = distinct pairs within max_hamming."""
    cands, result = _simhash_pairs_build(df, text_col, id_col,
                                         max_hamming, bits, bands)
    return _telemetry_row(cands, result)


def _simhash_pairs_build(df, text_col, id_col, max_hamming, bits, bands):
    """(raw band-join candidates, verified pairs) — shared by the
    operator and its telemetry twin."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole banding needs max_hamming ({max_hamming}) "
            f"<= bands - 1 ({bands - 1}); qualifying pairs would be missed"
        )
    if bits % bands != 0:
        raise ValueError(
            f"bits ({bits}) must divide evenly into bands ({bands}); a "
            "remainder would leave top bits outside every band and break "
            "the pigeonhole recall guarantee"
        )
    sigs = _simhash_sigs(df, text_col, id_col, bits).where(
        F.col("n") > 0
    ).drop("n")
    cands = _simhash_banded_join(sigs, bits, bands)
    verified = cands.where(F.col("hamming") <= max_hamming).distinct()
    return cands, verified


def _simhash_banded_join(sigs: DataFrame, bits: int, bands: int) -> DataFrame:
    """(id_a, id_b, hamming) candidates from the pigeonhole band equi-join
    over (doc_id, simhash) signatures — pre-verification, may repeat a
    pair once per agreeing band. Split out so tests can measure the raw
    candidate rate (the quantity that must stay ≪ n² at scale)."""
    width = bits // bands
    mask = (1 << width) - 1
    band_entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("b"),
                    F.shiftright(F.col("simhash"), width * b)
                    .bitwiseAND(F.lit(mask))
                    .alias("bv"),
                )
                for b in range(bands)
            ]
        )
    )
    # the signature rides along with its band rows, so hamming is
    # computed directly at the band join — no join-back to the signature
    # relation (which would re-evaluate the 60-aggregation simhash
    # subtree twice and add two shuffled joins)
    banded = sigs.select("doc_id", "simhash", band_entries.alias("e")).select(
        "doc_id", "simhash", "e.b", "e.bv"
    )
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by n-word-shingle Jaccard (integer percent).

    ``max_doc_freq`` drops shingles present in more than that many docs
    before the candidate join (jaccard is then over the discriminative
    shingles only — numerator AND denominator). A boilerplate shingle
    shared corpus-wide otherwise creates a single join key with quadratic
    fan-out; the cap bounds every key at max_doc_freq². Default ``None``
    (uncapped) — capping changes result semantics, so it is an explicit
    opt-in; pass ``DEFAULT_MAX_DOC_FREQ`` (or tighter) at web scale, as
    every entry point in this repo does.

    Shingle table is distinct per doc; candidates come from a shingle
    equi-join (never a cross join). Performance notes, both load-bearing
    at scale:
    - shingles are built with window ``lead()`` over a posexploded word
      table, NOT array higher-order functions — HOF lambdas run
      interpreted per element (~2.5 ms/doc here), lead() stays in
      whole-stage codegen;
    - the join key is the 48-bit shingle hash, not the string — the
      shuffle moves 8-byte keys, and the oracle uses the same portable
      hash so results stay engine-exact.
    Docs with fewer than n words produce no shingles (and thus no pairs).
    """
    return _ngram_build(df, text_col, id_col, n, threshold_pct,
                        max_doc_freq)[1]


def ngram_candidate_telemetry(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Banding-health metrics for :func:`ngram_jaccard_pairs` with the
    same parameters: candidates = doc pairs sharing ≥ 1 surviving
    shingle, verified = pairs at or above the jaccard threshold."""
    cands, result = _ngram_build(df, text_col, id_col, n, threshold_pct,
                                 max_doc_freq)
    return _telemetry_row(cands, result)


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Distinct (doc_id, g) rows: g = portable 48-bit hash of each n-word
    shingle of the normalized text. posexplode + window ``lead()`` (whole-
    stage codegen), never array HOFs — see :func:`ngram_jaccard_pairs`.
    Docs with fewer than n words produce no rows."""
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(F.split(norm_text(F.col(text_col)), " "),
                     lambda x: x != "")
        ).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, n)]
    gram = F.when(
        parts[-1].isNotNull(), h48(F.concat_ws(" ", *parts))
    )
    return (
        tokens.select("doc_id", gram.alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Pile rule): for
    every training document, count the distinct n-word shingles it shares
    with a benchmark/eval corpus and flag documents with any overlap, so
    eval data can be held out of the training set.

    Returns one row per ``docs`` row: ``doc_id``, ``n_hits`` (distinct
    contaminated shingles), ``contaminated`` (0/1) — callers filter on
    the flag or threshold on ``n_hits``.

    Scale shape: the corpus side is the codegen shingle table evaluated
    ONCE; the benchmark side (eval sets — 10^3..10^7 shingles, tiny next
    to a 10^12-doc corpus) is broadcast, so the probe join never shuffles
    corpus shingles; hits then partial-aggregate by doc_id. The restoring
    left join (docs with < n words or zero hits must still appear, with
    n_hits = 0) re-reads only the id column of ``docs`` — column pruning
    makes that scan trivial, unlike re-executing an expensive upstream
    (the `drop_repeated_paragraphs` lesson does not bite here)."""
    doc_grams = _shingle_table(docs, text_col, id_col, n)
    bench_grams = (
        _shingle_table(benchmark, bench_text_col, id_col, n)
        .select("g")
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_hits"),
            (n_hits > 0).cast("long").alias("contaminated"),
        )
    )


def _ngram_build(df, text_col, id_col, n, threshold_pct, max_doc_freq):
    """(candidate pairs, verified pairs) — shared by the operator and its
    telemetry twin."""
    exploded = _cap_doc_freq(
        _shingle_table(df, text_col, id_col, n),
        "g",
        max_doc_freq,
    )
    # per-doc shingle counts ride along as a window column instead of a
    # separate sizes relation: a sizes groupBy + two pair joins would
    # re-evaluate the whole shingle subtree (posexplode → lead window →
    # distinct → df-cap) two MORE times — 4 copies total vs 2 here.
    # Measured 1.36 → 1.14 s at sf0.1; at real scale halving the scan/
    # shingle evaluations is the dominant effect. (The same restructure
    # was measured on minhash verification and REJECTED — its word
    # subtree is one cheap explode, so the extra window shuffle cost more
    # than the duplication saved; see BENCH/BASELINE.md §2.)
    sized = exploded.withColumn(
        "n_grams", F.count("*").over(Window.partitionBy("doc_id"))
    )
    pairs = (
        sized.alias("a")
        .join(
            sized.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    verified = (
        pairs.select(
            "id_a",
            "id_b",
            F.floor(
                F.col("inter") * 100 / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard_pct"),
        )
        .where(F.col("jaccard_pct") >= threshold_pct)
    )
    return pairs.select("id_a", "id_b"), verified


def remove_duplicate_spans(
    df: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr), distributed as n-gram coverage instead of a suffix
    array: a token is removed iff it lies inside ANY length-``min_len``
    token window that occurs more than once in the corpus (same-doc
    repeats count, as in the paper: every copy of a duplicated substring
    is removed). For a shared run longer than ``min_len``, the
    overlapping windows cover the whole run, so the two formulations
    remove the same spans; the n-gram form is a window count + sliding
    max — all Spark-native, no global suffix sort.

    Scale notes:
    - gram counting partitions by the gram TEXT, never a 48-bit digest:
      digest birthday collisions at 10^12 grams would silently mark
      unique text as duplicated (the same rule as the webtext paragraph
      window). The shuffle carries rows that hold the gram anyway.
    - the occurrence count is a window over the gram (the
      ``_cap_doc_freq`` shape): the expensive explode+lead subtree is
      evaluated ONCE, where the groupBy+join-back alternative evaluated
      it twice — measured 2.91 s vs 6.45 s at sf0.1, row-identical, 3
      exchanges vs 5. The price is the documented bounded-linear
      straggler on a 10^8-occurrence boilerplate gram (one window
      partition buffers its rows); rows with NO gram (the last
      ``min_len``-1 positions of every document) are salted with a
      per-row sentinel — keyed on the raw NULL they would all land in
      ONE window partition, a (min_len-1)×n_docs-row straggler at scale.
      The sentinel contains ``\\0`` so it cannot collide with a real
      gram (grams are normalized alphanumerics and spaces).
    - per-doc coverage is a sliding ``max`` over the doc's own token
      order — cost proportional to the document, embarrassingly
      parallel across docs.

    Returns one row per input document:
    ``(doc_id, n_tokens, n_removed, clean_text)`` where ``clean_text``
    is the surviving tokens of the NORMALIZED text joined by single
    spaces (empty documents ride through posexplode_outer and return
    unchanged as empty strings).
    """
    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    L = int(min_len)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(words_array(F.col(text_col))).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", k).over(w) for k in range(1, L)]
    last = F.col("w") if L == 1 else F.lead("w", L - 1).over(w)
    grams = toks.select(
        "doc_id",
        "pos",
        "w",
        F.when(last.isNotNull(), F.concat_ws(" ", *leads)).alias("gram"),
    )
    gw = Window.partitionBy(
        F.coalesce(
            F.col("gram"),
            F.concat_ws(":", F.lit("\0"), F.col("doc_id"), F.col("pos")),
        )
    )
    covw = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(L - 1), 0)
    )
    cov = grams.withColumn(
        # count("gram") ignores NULLs, so sentinel rows read 0/1 and can
        # never flag; real grams flag iff they occur more than once
        "_n", F.count("gram").over(gw)
    ).withColumn(
        "covered",
        F.max(F.when(F.col("_n") > 1, 1).otherwise(0)).over(covw),
    )
    return cov.groupBy("doc_id").agg(
        F.count("w").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("covered") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("covered") == 0, F.struct("pos", "w"))
                    )
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS local document fingerprinting algorithm; public method)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """``(doc_id, fp_pos, fp_h48)``: the winnowing fingerprint set — for
    every ``window``-wide sliding window over the document's k-gram
    hashes, the RIGHTMOST MINIMAL hash (robust winnowing's tie rule),
    deduplicated. Guarantees of the paper hold: any shared run of
    ≥ ``window + k − 1`` tokens between two documents shares at least
    one fingerprint, and expected density is 2/(window+1).

    Selection is ONE map-side-combinable aggregate, no join and no
    second corpus pass: each gram row explodes into its ≤ ``window``
    window memberships (i = the window start), and the rightmost-min
    rule is encoded into a single BIGINT ``v = gh·16 + (15 − (j − i))``
    — minimizing ``v`` per (doc, i) picks the smallest hash and, among
    ties, the largest in-window offset, exactly the paper's pick.
    Decode is integer arithmetic both engines reproduce. BIGINT-safe
    unconditionally (gh < 2^48 → v < 2^52); ``window ≤ 16`` enforced by
    the 4-bit offset field.

    Documents with fewer than k tokens produce no grams and no rows
    (callers restore them — the zero-token rule). Documents with fewer
    grams than ``window`` are treated as one whole-document window
    (i = 0), so every non-empty gram sequence yields ≥ 1 fingerprint.

    Scale shape: one corpus scan; the doc-keyed lead window (gram
    build), the per-doc gram count, and the membership explode all ride
    one doc-hash partitioning; the selection aggregate's key space is
    (doc, window-start) — combiner-friendly, never corpus-wide state.
    Fingerprint identity is the 48-bit gram digest (the minhash/ngram
    h48-key convention: cross-doc collisions are accepted and
    documented, never used to MERGE counts).
    """
    if not 1 <= window <= 16:
        raise ValueError("window must be in [1, 16] (4-bit offset field)")
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w"),
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(dw) for i in range(1, k)]
    grams = (
        tokens.select(
            "doc_id",
            F.col("pos").alias("j"),
            F.when(
                parts[-1].isNotNull(), h48(F.concat_ws(" ", *parts))
            ).alias("gh"),
        )
        .where(F.col("gh").isNotNull())
        .withColumn(
            "gc", F.count("*").over(Window.partitionBy("doc_id"))
        )
    )
    i_lo = F.greatest(F.col("j") - (window - 1), F.lit(0))
    i_hi = F.least(F.col("j"), F.greatest(F.col("gc") - window, F.lit(0)))
    memb = grams.select(
        "doc_id",
        "j",
        "gh",
        F.explode(F.sequence(i_lo, i_hi)).alias("i"),
    )
    sel = memb.groupBy("doc_id", "i").agg(
        F.min(
            F.col("gh") * 16 + (F.lit(15) - (F.col("j") - F.col("i")))
        ).alias("v")
    )
    return sel.select(
        "doc_id",
        (F.col("i") + (F.lit(15) - F.pmod(F.col("v"), F.lit(16))))
        .cast("long")
        .alias("fp_pos"),
        F.expr("v div 16").cast("long").alias("fp_h48"),
    ).distinct()


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    max_fp_df: int | None = None,
) -> DataFrame:
    """``(doc_a, doc_b, n_shared)``: document pairs sharing winnowing
    fingerprints, with the shared-count as match evidence — MOSS's
    cross-document step. ``max_fp_df`` drops fingerprints appearing in
    more than that many documents BEFORE the pair join (the boilerplate
    cap — same role and same window shape as minhash/ngram's
    ``_cap_doc_freq``), bounding per-key join fan-out at df².

    The doc-level fingerprint set is referenced twice by the self-join,
    so it is cut — the gram/selection pipeline executes once."""
    fps = (
        winnow_fingerprints(df, text_col, id_col, k=k, window=window)
        .select("doc_id", F.col("fp_h48").alias("fp"))
        .distinct()
    )
    fps = cut(_cap_doc_freq(fps, "fp", max_fp_df))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """``(id_a, id_b, n_a, inter, containment_pct)``: DIRECTIONAL
    shingle containment — the fraction of a's distinct n-gram shingles
    that also occur in b, ``containment_pct = |A∩B|·100 div |A|``
    (Broder 1997's containment coefficient; public method). Asymmetric
    by design: a short document quoted wholesale inside a long one
    scores ~100 in the quote→host direction while Jaccard — divided by
    the UNION — stays near zero, so this is the quotation/subset
    detector Jaccard near-dup passes miss. Both directions of a pair
    are emitted (each against its own denominator) and thresholded
    independently.

    Shares the shingle discipline and the ``max_doc_freq`` boilerplate
    cap with :func:`ngram_jaccard_pairs` (cap before the join — fan-out
    bounded at df²; containment is then over discriminative shingles,
    numerator AND denominator). The capped shingle table is referenced
    three times (sizes + both join sides) and the intersection
    aggregate twice (the direction swap), so each is cut. Docs with
    fewer than n surviving shingle words produce no rows."""
    gx = cut(_cap_doc_freq(
        _shingle_table(df, text_col, id_col, n), "g", max_doc_freq
    ))
    sizes = gx.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    inter = cut(
        gx.alias("a")
        .join(
            gx.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    both = inter.unionByName(
        inter.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "inter",
        )
    )
    return (
        both.join(
            sizes.select(
                F.col("doc_id").alias("id_a"),
                F.col("n_grams").alias("n_a"),
            ),
            "id_a",
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "inter",
            F.expr("(inter * 100) div n_a")
            .cast("long")
            .alias("containment_pct"),
        )
        .where(F.col("containment_pct") >= threshold_pct)
    )


#: Seed for the synthetic first-seen order provenance_edges falls back
#: to when the corpus carries no crawl timestamp. Shared verbatim with
#: the DuckDB oracle (the pii constant-sharing rule).
PROVENANCE_SEED = "seen:"


def provenance_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
    max_doc_freq: int | None = None,
    seen: DataFrame | None = None,
) -> DataFrame:
    """``(copier_id, source_id, containment_pct)``: provenance-directed
    copy edges — for every document pair whose shingle containment
    clears ``threshold_pct`` in EITHER direction (Broder containment,
    the quote/subset detector), the LATER-seen document is the copier
    and the EARLIER-seen one the source. This is keep-oldest near-dup
    curation with the direction made explicit: a training-data pipeline
    drops/attributes the copier, keeps the source, and the edge list is
    the audit trail (who syndicated whom).

    ``seen`` is an optional ``(id_col, seen)`` integer crawl-order
    table (e.g. ``unix_micros(warc_ts)``); without it a deterministic
    synthetic order ``h48('seen:'‖id)`` stands in, so the operator is
    testable on corpora that carry no timestamp. Ties break by id —
    the order is total either way, so every qualifying pair yields
    exactly one directed edge.

    Shape: everything past :func:`ngram_containment_pairs` is a fold
    to canonical pairs (ONE combinable max-agg) plus a pure projection
    — with synthetic order the seen values are recomputed per side from
    the id (zero extra joins/scans); with a real ``seen`` table, two
    equi-joins against an id-keyed relation no bigger than the corpus."""
    pairs = ngram_containment_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        threshold_pct=threshold_pct,
        max_doc_freq=max_doc_freq,
    )
    canon = (
        pairs.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
            "containment_pct",
        )
        .groupBy("u", "v")
        .agg(F.max("containment_pct").cast("long").alias("containment_pct"))
    )
    if seen is None:
        su = h48(F.concat(F.lit(PROVENANCE_SEED), F.col("u").cast("string")))
        sv = h48(F.concat(F.lit(PROVENANCE_SEED), F.col("v").cast("string")))
        canon = canon.select("u", "v", "containment_pct",
                             su.alias("su"), sv.alias("sv"))
    else:
        s = seen.select(F.col(id_col), F.col("seen"))
        canon = (
            canon.join(
                s.select(F.col(id_col).alias("u"), F.col("seen").alias("su")),
                "u",
            )
            .join(
                s.select(F.col(id_col).alias("v"), F.col("seen").alias("sv")),
                "v",
            )
        )
    u_later = (F.col("su") > F.col("sv")) | (
        (F.col("su") == F.col("sv")) & (F.col("u") > F.col("v"))
    )
    return canon.select(
        F.when(u_later, F.col("u")).otherwise(F.col("v")).alias("copier_id"),
        F.when(u_later, F.col("v")).otherwise(F.col("u")).alias("source_id"),
        "containment_pct",
    )


def incremental_near_duplicates(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_word_df: int | None = None,
) -> DataFrame:
    """``(old_id, new_id, jaccard_pct)``: near-duplicates of NEW
    documents against an EXISTING corpus — the incremental-ingest twin
    of :func:`minhash_near_duplicates` (crawl_delta handles exact url
    identity; this catches a re-crawled page whose content drifted, or
    the same article on a new url). Ids must be distinct across sides
    (they are urls/content ids in production; the driver fixture carves
    disjoint id subsets).

    The point of the operator is what it does NOT compute: banding runs
    over the union, but candidate pairs are restricted to CROSS-side
    band collisions — the old×old pairs (the overwhelming mass: history
    is 10²-10⁴× a daily batch) and new×new pairs are never generated,
    never verified. Per-band fan-out is |old ∩ bucket| × |new ∩ bucket|
    instead of the full bucket square. Word-df caps and signature
    hashes are computed over the UNION so a doc's signature is
    identical whichever side it lands on (in production the df stats
    come from the history index; the union is the exact small-scale
    stand-in). Verification is the standard two equi-join exact
    Jaccard, old-side words against new-side words only — the shared
    subplans reuse the minhash discipline so AQE's ReuseExchange
    collapses the repeated word-table references (the r3 lesson, locked
    for the minhash fixture)."""
    tagged = old.select(
        F.lit(0).alias("side"),
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
    ).unionByName(
        new.select(
            F.lit(1).alias("side"),
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )
    wx = _cap_doc_freq(
        tagged.select(
            "side",
            "doc_id",
            F.explode(distinct_words(F.col("text"))).alias("w"),
        ),
        "w",
        max_word_df,
    )
    sides = tagged.select("doc_id", "side")
    sigs = _signatures_from_words(wx.select("doc_id", "w"), num_hashes)
    rows = num_hashes // bands
    band_entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows + r + 1)
                                .cast("string")
                                for r in range(rows)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    )
    banded = (
        sigs.join(sides, "doc_id")
        .select("doc_id", "side", band_entries.alias("e"))
        .select("doc_id", "side", "e.band", "e.band_hash")
    )
    cands = (
        banded.where(F.col("side") == 0)
        .alias("a")
        .join(
            banded.where(F.col("side") == 1).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("old_id"),
            F.col("b.doc_id").alias("new_id"),
        )
        .distinct()
    )
    sizes = wx.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    inter = (
        cands.join(
            wx.select(F.col("doc_id").alias("old_id"), "w"), "old_id"
        )
        .join(
            wx.select(F.col("doc_id").alias("new_id"), "w"),
            ["new_id", "w"],
        )
        .groupBy("old_id", "new_id")
        .agg(F.count("*").alias("inter"))
    )
    joined = inter.join(
        sizes.select(F.col("doc_id").alias("old_id"),
                     F.col("n_words").alias("na")),
        "old_id",
    ).join(
        sizes.select(F.col("doc_id").alias("new_id"),
                     F.col("n_words").alias("nb")),
        "new_id",
    )
    jacc_pct = F.floor(
        F.col("inter") * 100 / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return joined.select(
        "old_id",
        "new_id",
        jacc_pct.cast("long").alias("jaccard_pct"),
    ).where(F.col("jaccard_pct") >= int(threshold * 100))


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    modulus: int = 8,
) -> DataFrame:
    """``(doc_id, chunk_pos, n_tokens, chunk_text)``: content-defined
    chunking (LBFS, Muthitacharoen et al. SOSP 2001; the FastCDC
    family) over the normalized token stream — a chunk boundary opens
    BEFORE token *i* whenever ``h48(prev_word ' ' word_i) mod modulus
    == 0``, so expected chunk length is ``modulus`` tokens but the cut
    points are a function of the CONTENT, not the offset. That is the
    property fixed-size chunking (``packing.chunk_documents``) lacks
    and storage/transfer dedup needs: inserting one token near the
    start of a document shifts every fixed-size window, but only the
    chunks touching the edit here — all downstream cut points
    re-synchronize and those chunks keep their identity across the two
    versions (property-tested). ``chunk_pos`` is the chunk's first
    token position.

    Scale shape: posexplode → ONE doc-keyed window pass (lag computes
    the boundary 2-gram, a running conditional sum assigns chunk ids —
    the gaps-and-islands shape) → ONE (doc, chunk) agg whose
    collect_list buffer is bounded by the chunk length (geometric tail
    around ``modulus`` — the span_corruption string-assembly trade,
    never corpus-scale). Zero-token docs emit no row (fingerprint
    convention)."""
    if int(modulus) < 2:
        raise ValueError("modulus must be >= 2")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("word").over(w)
    boundary = (
        F.when(
            prev.isNotNull()
            & (
                h48(F.concat(prev, F.lit(" "), F.col("word")))
                % int(modulus)
                == 0
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_b")
    )
    marked = toks.select("doc_id", "pos", "word", boundary)
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    chunked = marked.select(
        "doc_id",
        "pos",
        "word",
        F.sum("_b").over(run).alias("_chunk"),
    )
    return chunked.groupBy("doc_id", "_chunk").agg(
        F.min("pos").cast("long").alias("chunk_pos"),
        F.count("*").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("chunk_text"),
    ).drop("_chunk")


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """``(chunk_text, n_tokens, n_occ, n_docs, tokens_saved)``: cross-
    document duplicate-chunk families over a ``cdc_chunks`` table —
    the storage-dedup ledger (``tokens_saved = (n_occ − 1) ·
    n_tokens`` is the mass a content-addressed store would not write
    twice). ONE map-side-combinable agg keyed by the chunk TEXT (no
    digest identity — the paragraph-dedup birthday rule; the text
    already rides the row)."""
    return chunks.groupBy("chunk_text").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_occ"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        (
            (F.count("*") - 1) * F.max("n_tokens")
        ).cast("long").alias("tokens_saved"),
    )
