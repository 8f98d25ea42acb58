"""Physical-plan regression tests: the scale properties (pushdown, column
pruning, broadcast joins, shuffle-free extraction) must survive refactors.
"""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from servico_ocr_spark.corpus import (
    html_pages_from_documents, pages_from_documents,
)
from servico_ocr_spark.operators.common import cut
from servico_ocr_spark.pipeline import run_extraction

REPO = Path(__file__).resolve().parent.parent

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_scan_prunes_columns(spark):
    pages = pages_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = _plan(run_extraction(pages))
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    # only the columns the pipeline needs reach the scan — lang/n_chars
    # never leave parquet
    assert "doc_id" in scan and "text" in scan and "source" in scan
    assert "n_chars" not in scan and "lang" not in scan


def test_extraction_has_single_shuffle_only_for_balance(spark):
    pages = pages_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = _plan(run_extraction(pages))
    # exactly two exchanges: the heavy-rank window and the balance
    # repartition itself — nothing else may shuffle
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("MapInArrow") == 1


def test_web_face_plan_has_no_exchange(spark):
    from servico_ocr_spark.operators.webtext import web_analysis

    pages = html_pages_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = _plan(web_analysis(pages))
    assert "Exchange" not in plan  # the web face is not balanced
    assert plan.count("MapInArrow") == 1


def test_filter_pushdown_pricing(spark):
    plan = _plan(entrymod._q_pricing_summary(spark, SF))
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "PushedFilters" in scan and "l_shipdate" in scan


def test_broadcast_join_top_revenue(spark):
    plan = _plan(entrymod._q_top_revenue_orders(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # both joins broadcast at this scale


def test_partial_aggregation_present(spark):
    plan = _plan(entrymod._q_pricing_summary(spark, SF))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_resume_antijoin_prunes_url_column(spark, tmp_path):
    from servico_ocr_spark.corpus import build_corpus
    from servico_ocr_spark.pipeline import resume_filter, run_resumable
    from servico_ocr_spark.schemas import PAGES_SCHEMA

    pages = spark.createDataFrame(build_corpus(8), schema=PAGES_SCHEMA)
    out = str(tmp_path / "out")
    run_resumable(spark, pages, out)
    plan = _plan(resume_filter(spark, pages, out))
    scan = [line for line in plan.splitlines()
            if "FileScan" in line and "out" in line]
    # the processed-side scan reads ONLY url (anti-join key)
    assert scan and "extracted_text" not in scan[0]


def test_ivf_ann_broadcasts_centroids_and_probes(spark):
    plan = _plan(entrymod._q_ann_ivf_topk(spark, SF))
    # centroid assignment and the probe-cell join must both broadcast —
    # an IVF whose cell join sort-merges would shuffle the whole base table
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_single_expand_no_extra_shuffle(spark):
    plan = _plan(entrymod._q_source_rollup(spark, SF))
    # ROLLUP = one Expand over the scan + one partial/final agg pair;
    # regrouping per grouping set would shuffle once per set
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Expand" in plan


def test_no_row_at_a_time_python_anywhere(spark):
    """input_hint: 'vectorized pandas/Arrow UDFs (no per-row Python)
    throughout'. Arrow stages (MapInArrow/MapInPandas/ArrowEvalPython) are the
    sanctioned Python path; BatchEvalPython (pickled row-at-a-time udf())
    must never appear in any contract query's plan."""
    for name, fn in entrymod.queries().items():
        if name == "neardup_components":
            continue  # iterative driver loop; builds many plans eagerly
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name


@pytest.mark.parametrize(
    "name", ["warc_extract", "media_features", "frame_samples"])
def test_python_stages_cross_the_one_arrow_boundary(spark, name):
    """WARC, media and frame stages cross into Python through
    ``boundary.map_documents`` (one MapInArrow), never a pandas kernel."""
    plan = _plan(entrymod.queries()[name](spark, SF))
    assert plan.count("MapInArrow") == 1, name
    assert "MapInPandas" not in plan, name


def test_aqe_splits_skewed_join_at_runtime(spark):
    """SURVEY §4 claims AQE skew-join splitting comes free for the
    relational operators — prove it: a 90%-one-key join is re-planned at
    runtime into SortMergeJoin(skew=true) with a split shuffle read."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("d")
        )
        joined = fact.join(dim, "k").groupBy("k").count()
        rows = joined.collect()
        assert len(rows) == 97
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ngram_scans_input_exactly_twice(spark):
    """The shingle subtree must be evaluated only for the two self-join
    sides — the r2 restructure removed the sizes relation that re-scanned
    the input two MORE times (sizes now ride as a window column)."""
    plan = _plan(entrymod._q_ngram_jaccard(spark, SF))
    assert plan.count("FileScan parquet") == 2, plan.count("FileScan parquet")


def test_simhash_neardups_scans_input_exactly_twice(spark):
    """The 60-aggregation signature subtree is expensive; the band join
    must reference it only via its two aliases (the signature rides with
    the band rows — no third join-back to the signature relation)."""
    plan = _plan(entrymod._q_simhash_neardups(spark, SF))
    assert plan.count("FileScan parquet") == 2, plan.count("FileScan parquet")


def test_embedding_neardups_scans_input_exactly_twice(spark):
    plan = _plan(entrymod._q_embedding_neardups(spark, SF))
    assert plan.count("FileScan parquet") == 2, plan.count("FileScan parquet")


def test_minhash_fixture_reuses_exchanges(spark):
    """The minhash build references its capped word table six times
    logically (sig self-join x2, verification x2, sizes x2); the EXECUTED
    plan must collapse them via runtime exchange reuse — otherwise
    extract_neardups would re-run the extraction mapInArrow once per
    reference instead of once per job (BENCH/PLANS.md §6)."""
    df = entrymod.queries()["hotshingle_neardups"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 3, plan[:4000]


def test_dup_span_removal_plan_single_subtree_no_join(spark):
    """remove_duplicate_spans must keep the measured-good shape: the
    explode+lead subtree evaluated ONCE (window occurrence count), never
    the groupBy+join-back alternative that re-evaluates it (measured
    2.91 s vs 6.45 s at sf0.1, 3 exchanges vs 5)."""
    from servico_ocr_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(remove_duplicate_spans(df, min_len=3))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3


def test_c4_clean_zero_shuffle_projection(spark):
    # every C4 rule is per-line local → the whole operator must stay a
    # pure projection: zero exchanges, embarrassingly parallel at any sf
    plan = _plan(entrymod._q_c4_clean(spark, SF))
    assert "Exchange" not in plan


def test_link_extract_zero_shuffle_single_codegen_stage(spark):
    """The anchor parse must stay scan → project → generate →
    filter/project with zero exchanges AND inside ONE whole-stage-codegen
    span — the first draft fell out of codegen entirely ("Code grows
    beyond 64 KB": the pushed-down null filter re-inlined ~300 regex
    matchers; operators/links.py documents the size discipline)."""
    df = entrymod._q_link_extract(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "Exchange" not in plan
    # every operator above the scan carries the codegen stage marker
    import re

    hits = [
        m
        for m in (
            re.search(
                r"^[\s+:-]*(\*\(\d+\)\s+)?(Project|Filter|Generate)\b",
                line,
            )
            for line in plan.splitlines()
        )
        if m
    ]
    assert len(hits) == 4, plan[:2000]  # 2 Project, 1 Filter, 1 Generate
    assert all(m.group(1) == "*(1) " for m in hits), plan[:2000]


def test_pagerank_reuses_static_edge_exchanges(spark):
    """Each PageRank round joins the SAME edge table (hashed by src) and
    unions in the SAME node table (``link_degrees``: out-degree, base
    and start rank per node); the executed plan must collapse those
    references via runtime exchange reuse instead of re-parsing the
    corpus once per round (the minhash ReusedExchange discipline)."""
    df = entrymod._q_pagerank(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 8, plan[:4000]


def _joins(plan) -> list:
    """Every Join node of a logical plan (py4j tree walk)."""
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Join":
            found.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.mark.parametrize("iterations", [1, 3, 5])
def test_pagerank_round_is_one_join_one_aggregate(spark, iterations):
    """A PageRank round is one inner join (edges ⋈ ranks on src) plus
    one union-aggregate that keeps every node: no join back onto the
    node universe and no edges⋈out-degree join. The seeded variant
    has the same rounds; its only LeftOuter joins are the seed join
    of the static node table."""
    from servico_ocr_spark.operators import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "seed_node string")
    for seeded in (False, True):
        df = pagerank(edges, iterations, seeds=seeds if seeded else None)
        joins = _joins(df._jdf.queryExecution().optimizedPlan())
        kinds = [j.joinType().toString() for j in joins]
        assert kinds.count("Inner") == iterations, kinds
        outer = [j for j in joins if j.joinType().toString() != "Inner"]
        if not seeded:
            assert outer == [], kinds
        else:
            assert outer, kinds
            assert all(j.joinType().toString() == "LeftOuter"
                       and "seed_node" in j.right().toString()
                       and "seed_node" not in j.left().toString()
                       for j in outer), kinds


def test_inverted_index_tf_computed_once_topk_bounded(spark):
    """The (term, doc) tf aggregation feeds both the stats branch and the
    postings branch; the EXECUTED plan must collapse the second reference
    via runtime exchange reuse (the explode + big shuffle runs once per
    job, not per branch). The top-k windows must compile to
    WindowGroupLimit (partial per-partition top-k BEFORE each exchange),
    so a hot term's final row group is bounded by k x partitions even
    before the salted two-stage bound."""
    df = entrymod.queries()["inverted_index"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan[:4000]
    assert "WindowGroupLimit" in plan, plan[:4000]


def test_crawl_delta_two_exchanges_join_reuses_partitioning(spark):
    """One hash aggregation per snapshot side; the full-outer join must
    consume the aggs' hash partitioning without a further exchange —
    exactly 2 shuffles in the whole plan."""
    import re

    df = entrymod.queries()["crawl_delta"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    n_exchanges = len(
        re.findall(r"\bExchange hashpartitioning", final)
    ) - final.count("ReusedExchange")
    assert n_exchanges <= 2, final[:4000]
    assert "Window" not in final


def test_asof_attribution_two_exchanges_one_window_no_join(spark):
    """The union-and-window as-of shape: one shuffle for the build-side
    tie-break aggregation, one for the union window — and NO join
    operator anywhere (the naive rewrite's O(probe × history) join is
    exactly what this operator exists to avoid)."""
    import re

    df = entrymod.queries()["asof_attribution"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    n_exchanges = len(
        re.findall(r"\bExchange hashpartitioning", final)
    ) - final.count("ReusedExchange")
    assert n_exchanges <= 2, final[:4000]
    assert final.count("Window") == 1, final[:4000]
    assert "Join" not in final and "CartesianProduct" not in final


def test_cohort_retention_one_scan_two_exchanges_no_join(spark):
    """cohort_retention's contract shape: ONE pass over the events
    table (the per-user day-set and the cohort both come out of the
    same collect_set aggregation — no join back, no distinct over the
    raw table), two map-side-combinable aggregations total."""
    df = entrymod.queries()["cohort_retention"](spark, SF)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan[:4000]
    assert plan.count("Exchange") <= 2, plan[:4000]
    assert "Join" not in plan, plan[:4000]


def test_funnel_steps_checkpoints_bound_rescans(spark):
    """Each funnel step frame is referenced twice (next step's join +
    the final union); without the lazy localCheckpoints the K-step
    funnel re-scanned the source O(K^2) times (measured 11 parquet
    scans for K=3). With them, the FINAL plan reads only the
    checkpointed step frames — zero parquet scans after
    materialization (each checkpoint scanned the source once, in its
    own job)."""
    df = entrymod.queries()["funnel_steps"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]


def test_lm_quality_checkpoint_bounds_scoring_to_one_pass(spark):
    """lm_quality_buckets references the scores frame twice (histogram
    + join back) and lm_doc_scores references the bigram stream twice
    (model + per-doc side); without the lazy localCheckpoints the
    WHOLE scoring pipeline (window, model join, restore join) appeared
    twice in the plan — measured 4 parquet scans / 20 joins before the
    cut. With them the final plan reads only the checkpointed scores:
    zero parquet scans, one broadcast join (docs -> bucketed histogram
    row), one bounded-histogram window pair."""
    df = entrymod.queries()["lm_quality"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]
    assert final.count("Join") <= 1, final[:4000]


def test_title_linkage_counts_materialize_once(spark):
    """edit1_linkage references the distinct-title counts four times
    (self-joined variant build, n_a, n_b); the lazy localCheckpoint
    keeps the input scan + aggregation to one execution — measured 2
    parquet scans without it."""
    df = entrymod.queries()["title_linkage"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]


@pytest.mark.parametrize(
    "name, n_scans",
    [
        ("pagerank", 0),
        # the seed list is not edge upstream: one scan of doc_id only,
        # feeding the static node frame that every round reuses
        ("seeded_pagerank", 1),
        ("textrank_keywords", 0),
        ("host_pagerank", 0),
    ],
)
def test_pagerank_checkpoint_bounds_upstream(spark, name, n_scans):
    """Every pagerank query feeds it a derived edge table (link
    extraction → distinct, a host-graph self-join, a word-adjacency
    explode) that the iteration references from out-degrees, the node
    universe (×2) and every round's join. Uncut, the logical plan
    inlined that upstream ~20 times — driver planning and AQE
    re-planning slowed a warm page-level pass (4.7–5.3 s vs 3.1–4.0 s
    cut at sf0.1), and host_pagerank's executed plan re-ran its regex
    upstream 44× (44 FileScans / 0 ReusedExchange, 19.5 s). pagerank
    always cuts its edges once, so the final plan reads only the
    checkpointed edges: no parquet scan of the edge upstream after
    materialization (its one execution happened in the checkpoint's
    own job)."""
    df = entrymod.queries()[name](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "Scan parquet" in ln]
    assert len(scans) == n_scans, final[:4000]
    assert all("[doc_id#" in ln and "text#" not in ln for ln in scans)


def test_frontier_pipeline_checkpoints_bound_upstream(spark):
    """Three operators re-derive the regex canonicalization from the
    synthesized pages; uncut, the stacked chains re-executed the url
    synthesis AND blew the 64KB codegen limit in four join spans
    (silent interpreted fallback, r5 measurement: 7.5 → 2.3 s after
    the cuts). With pages + allowed lazily cut, the final plan reads
    only checkpointed RDDs — zero parquet scans after
    materialization."""
    df = entrymod.queries()["frontier_pipeline"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]


def test_crawl_schedule_single_input_pass(spark):
    """The two-stage enumeration feeds both a window and an aggregate
    from the same frame; their exchanges carry different payloads so
    ReuseExchange cannot collapse them — the lazy checkpoint keeps the
    url canonicalization to ONE execution (measured 2 scans without)."""
    df = entrymod.queries()["crawl_schedule"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]
    # the offsets side joins back broadcast — never a shuffled join
    assert "BroadcastHashJoin" in final or "BroadcastNestedLoop" not in final


def test_regional_volume_pushdown_and_dim_broadcasts(spark):
    """Q5 analog: the date range must reach the orders SCAN (shuffle
    carries the two-year window only) and the star must broadcast —
    no sort-merge join at fixture scale."""
    df = entrymod.queries()["regional_volume"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    orders_scan = next(
        line for line in final.splitlines()
        if "Scan parquet" in line and "orders" in line
    )
    assert "o_orderdate" in orders_scan and "1996-01-01" in orders_scan
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_bm25_by_example_single_postings_pass(spark):
    """Everything derives from the lazily-checkpointed postings table —
    the final plan must read ZERO parquet scans (one materialization,
    no re-parse per consumer) and broadcast the query-term side."""
    df = entrymod.queries()["bm25_related"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 0, final[:4000]
    assert "BroadcastHashJoin" in final


def test_skipgram_freq_checkpoint_bounds_scans(spark):
    """The corpus token stream is scanned exactly twice (frequency pass
    + kept-probe pass) pre-checkpoint — the vocab-sized freq table cut
    keeps the token-count aggregation from running twice (measured 5
    scans -> 2)."""
    from pyspark.sql import Window
    from servico_ocr_spark.operators.common import h48, words_array
    from servico_ocr_spark.operators.lm import LM_SCALE

    df = spark.read.parquet(f"{SF}/documents.parquet")
    tokens = df.select(
        F.col("doc_id"),
        F.posexplode(words_array(F.col("text"))).alias("pos", "w"),
    )
    freq = (tokens.groupBy("w").agg(F.count("*").cast("long").alias("f"))
            .localCheckpoint(eager=False))
    total = freq.agg(F.greatest(F.sum("f"), F.lit(1)).alias("t"))
    fp = freq.crossJoin(F.broadcast(total)).select(
        "w", F.expr(f"(f * {LM_SCALE}) div t").alias("f_ppm"))
    kept = tokens.join(fp, "w").where(
        F.pmod(h48(F.concat_ws(":", F.lit("sg"), "doc_id", "pos", "w")),
               F.lit(LM_SCALE)) >= 0)
    kept.collect()
    final = _plan(kept).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 2, final[:4000]


def test_random_walks_steps_are_equijoins_no_fanout(spark):
    """Each step must be hash equi-joins (frontier x degs, (node,idx) x
    ranked) — a theta/nested-loop join would be the deg-wide fan-out
    the operator exists to avoid."""
    df = entrymod.queries()["random_walks"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final


def test_big_orders_broadcasts_reduced_aggregate(spark):
    """Q18 shape: after the HAVING filter the quantity aggregate is tiny
    and must be the BUILD side of both detail joins — orders and
    customer are never shuffle-joined (at 100 TB that shuffle would
    dwarf the query)."""
    plan = _plan(entrymod._q_big_orders(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_cdc_dedup_one_scan_two_exchanges_no_join(spark):
    """cdc_chunks + cdc_dedup_stats contract shape: one parquet pass,
    one doc-keyed exchange shared by both window passes (lag boundary +
    running chunk sum sort once), the (doc,chunk) agg rides the same
    partitioning, and the family agg is the only second exchange. No
    join anywhere — the ledger is pure aggregation."""
    df = entrymod.queries()["cdc_dedup"](spark, SF)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan[:4000]
    assert plan.count("Exchange") <= 2, plan[:4000]
    assert "Join" not in plan, plan[:4000]


def test_cms_heavy_hitters_broadcast_probe_single_token_pass_each(spark):
    """The sketch probe must BROADCAST the <= depth*width-row sketch —
    a shuffled join here would defeat the point of carrying a sketch
    instead of the exact table."""
    df = entrymod.queries()["cms_heavy_hitters"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:4000]
    assert plan.count("SortMergeJoin") == 0, plan[:4000]


def test_link_reciprocity_no_reversed_self_join(spark):
    """Reciprocity via the canonical-pair fold: ONE aggregation, no
    join of edges against reversed edges (only the html parse feeds
    it)."""
    df = entrymod.queries()["link_reciprocity"](spark, SF)
    plan = _plan(df)
    assert "Join" not in plan, plan[:4000]


def test_late_orders_semi_join_and_date_pushdown(spark):
    """Q4's EXISTS must compile to a LEFT SEMI join (no order
    duplication, no aggregate-then-distinct detour) with the quarter
    predicate pushed to the orders parquet scan."""
    df = entrymod.queries()["late_orders"](spark, SF)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan[:4000]
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters")[1][:400], plan[:4000]


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Storage-bucketed co-located join (SURVEY §4 / the 100 TB story):
    two tables bucketed by the join key with the SAME bucket count
    sort-merge-join with ZERO Exchange on either side — the shuffle a
    fact-fact join at 10^12 rows cannot afford is paid ONCE at write
    time and amortized over every subsequent join. Bucket info must
    survive the catalog round-trip for this to work (datasource tables,
    not bare parquet paths — `spark.read.parquet` forgets buckets)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.sources.bucketing.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        a = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        for name, df in (("bkt_ta", a), ("bkt_tb", b)):
            (
                df.write.format("parquet")
                .option("path", str(tmp_path / name))
                .bucketBy(8, "k")
                .sortBy("k")
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table("bkt_ta").join(spark.table("bkt_tb"), "k")
        assert joined.count() == 20000
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        # and the scans themselves advertise the bucket layout
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        for name in ("bkt_ta", "bkt_tb"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_blame_suppliers_semi_anti_broadcast_topk(spark):
    """TPC-H Q21 analog: the EXISTS/NOT-EXISTS pair must compile to
    exactly one LeftSemi and one LeftAnti join with the supplier
    inequality carried as a join condition (no per-order fan-out
    aggregation), dims broadcast, top-20 as TakeOrderedAndProject."""
    df = entrymod.queries()["blame_suppliers"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Catalyst's runtime row-level filtering (SPARK-32268): a
    selective filter on one side of a shuffle join injects a
    bloom_filter_agg subquery whose might_contain() prunes the probe
    side BEFORE the shuffle — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~1/13 that can
    possibly match. Pinned here (like the AQE skew test) so a conf or
    version change that silently drops the feature fails loudly."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        d = str(tmp_path)
        spark.range(0, 500_000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        ).write.mode("overwrite").parquet(d + "/fact")
        spark.range(0, 500_000).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("w")
        ).write.mode("overwrite").parquet(d + "/dim")
        probe = spark.read.parquet(d + "/fact")
        build = spark.read.parquet(d + "/dim").where(F.col("w") == 3)
        j = probe.join(build, "k")
        assert j.count() == 500_000 // 13 + (1 if 500_000 % 13 > 3 else 0)
        plan = _plan(j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(
    spark, tmp_path
):
    """Idempotent re-runs of ONE day/source over a partitioned corpus
    layout (the resumable-ingest write semantics at 10^12 docs):
    with partitionOverwriteMode=dynamic, overwriting a DataFrame that
    contains only partition p replaces p and leaves every other
    partition's files untouched — in static mode the same write would
    wipe the whole table root. Pinned because a silent conf default
    flip (static is the Spark default) turns an incremental re-crawl
    into data loss."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, None)
    out = str(tmp_path / "part")
    try:
        spark.conf.set(key, "dynamic")
        full = spark.createDataFrame(
            [(i, f"src{i % 3}", i * 10) for i in range(30)],
            "doc_id long, source string, v long",
        )
        full.write.partitionBy("source").mode("overwrite").parquet(out)
        before = {
            r["source"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert before == {"src0": 10, "src1": 10, "src2": 10}
        redo = spark.createDataFrame(
            [(100 + i, "src1", 7) for i in range(4)],
            "doc_id long, source string, v long",
        )
        redo.write.partitionBy("source").mode("overwrite").parquet(out)
        after = spark.read.parquet(out)
        counts = {
            r["source"]: r["n"]
            for r in after.groupBy("source")
            .agg(F.count("*").alias("n")).collect()
        }
        # src1 replaced (10 → 4); src0/src2 untouched
        assert counts == {"src0": 10, "src1": 4, "src2": 10}
        ids = {
            r["doc_id"]
            for r in after.where("source = 'src1'")
            .select("doc_id").collect()
        }
        assert ids == {100, 101, 102, 103}
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_quality_classifier_shares_one_tokenize_pass(spark):
    """The hashed-feature table is lazily localCheckpointed and shared
    by train AND score; after materialization the final confusion plan
    must not re-run the explode — at most the three column-pruned
    label scans of documents remain, and exactly zero Generate
    (explode) nodes."""
    df = entrymod.queries()["quality_classifier"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the surviving Generate nodes are the 2-row sentinel explodes
    # (explode(array(struct(dim, ...)))); the TOKENIZE explode must be
    # gone, replaced by the checkpointed (doc_id, dim) RDD scan
    tokenize_gens = [
        line
        for line in final.splitlines()
        if "Generate" in line and "array(struct(dim" not in line
    ]
    assert not tokenize_gens, tokenize_gens
    assert "ExistingRDD" in final


def test_hard_negatives_verify_joins_bounded_by_candidates(spark):
    """The Jaccard verify must hang off the candidate list, not a
    corpus self-join: the word-table side is localCheckpointed (one
    build), and the scored side's joins after it are the two
    candidate-keyed word joins + the two size restores + the rank
    window — no SortMergeJoin of two corpus-sized shingle relations
    appears (that shape is ngram_jaccard's, deliberately absent
    here)."""
    df = entrymod.queries()["hard_negatives"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the one self-join shape to forbid: wx joined to wx on the word
    # hash (the all-pairs candidate generator) — hard_negatives joins
    # wx only THROUGH the candidate list
    assert "WindowGroupLimit" in final or "Window" in final
    assert final.count("Generate") <= 2, final[:4000]


def test_never_returned_parts_null_aware_anti_join(spark):
    """SQL NOT IN must compile to the NULL-AWARE broadcast anti join —
    the trailing `true` on the BroadcastHashJoin LeftAnti line is
    Spark's isNullAwareAntiJoin flag (a plain left_anti would print
    `false`), the semantics guard that makes NOT IN return empty if
    the subquery ever yields a NULL key."""
    df = entrymod.queries()["never_returned_parts"](
        spark, "/root/testdata/sf0.001"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan, plan[:3000]


def _sole_site(needle: str, sources: list[Path]) -> tuple[str, list[str]]:
    """The one line of ``sources`` that contains ``needle``: its path
    relative to the repo and the names of the functions enclosing it,
    outermost first. Fails if ``needle`` occurs on any other line."""
    hits = [
        (path.relative_to(REPO).as_posix(), n)
        for path in sources
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if needle in line
    ]
    assert len(hits) == 1, hits
    path, line_no = hits[0]
    tree = ast.parse((REPO / path).read_text())
    owners = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and fn.lineno <= line_no <= fn.end_lineno
    ]
    return path, owners


def test_every_lineage_cut_goes_through_cut():
    """The cut policy lives in one function: across the package and the
    driver entry, ``.localCheckpoint(`` is written exactly once, and
    that one call is the body of ``operators.common.cut``."""
    sources = sorted((REPO / "servico_ocr_spark").rglob("*.py"))
    sources.append(REPO / "__spark_entry__.py")
    path, owners = _sole_site(".localCheckpoint(", sources)
    assert path == "servico_ocr_spark/operators/common.py", path
    assert owners == ["cut"], owners


def test_analysis_table_has_one_appender():
    """Batch and streaming faces append to the analysis table through
    one writer: ``.write.mode("append")`` is written once in the
    package, inside ``pipeline.write_analysis``."""
    sources = sorted((REPO / "servico_ocr_spark").rglob("*.py"))
    path, owners = _sole_site('.write.mode("append")', sources)
    assert path == "servico_ocr_spark/pipeline.py", path
    assert owners == ["write_analysis"], owners


def test_stateful_streams_share_one_fold():
    """Every ``applyInPandasWithState`` twin goes through one fold:
    the call is written once in the package, inside
    ``streaming.stateful._fold``."""
    sources = sorted((REPO / "servico_ocr_spark").rglob("*.py"))
    path, owners = _sole_site("applyInPandasWithState(", sources)
    assert path == "servico_ocr_spark/streaming/stateful.py", path
    assert owners == ["_fold"], owners


def test_cut_keeps_rows_and_drops_upstream(spark):
    """``cut(df)`` returns ``df``'s rows, and its optimized plan is a
    single ``LogicalRDD`` leaf: no scan, filter or projection above the
    cut is left for the driver to re-plan."""
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.length("text").alias("n_chars"))
    )
    out = cut(df)
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LogicalRDD", plan.toString()
    assert plan.children().isEmpty(), plan.toString()
    assert sorted(out.collect()) == sorted(df.collect())
