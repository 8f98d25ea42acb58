"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

``--ab <git-ref> [query ...] [--rounds R]`` mode (instance-proof
cross-round comparison): check the named ref out into a ``git
worktree``, then run the SAME queries against both trees back-to-back
ON THIS BOX, each tree in its own subprocess/SparkSession with the
suite methodology (untimed warm run, best of 3 timed); ``--rounds R``
interleaves the sides A-B-A-B and keeps the per-side min, cancelling
multi-minute box-phase drift. Emits one JSON line with per-query
``{ref, head, ratio}`` plus a ``flagged`` list (ratio > 1.3 either way).
Rationale: the sandbox VM is re-provisioned between rounds and runs
identical code up to ~3.9× slower/faster per query (round-3 finding on
``ann_ivf_topk``), so raw BENCH_r{N}.json numbers are only comparable
within one box — this harness makes every cross-round claim a same-box
A/B instead.

Results are materialized with the noop writer so every column is computed
(a bare count() would let Catalyst prune the work we are timing).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Query families: the JSON line reports a subtotal per family alongside
# the per-query timings, so a large output-mass query (neardup_components
# is Θ(true pairs) by construction) cannot visually mask a regression in
# a sub-second family. Round-over-round comparison: compare families
# first, then drill into queries (see BENCH/BASELINE.md §3).
BENCH_FAMILIES = {
    "extraction": [
        "extract_docs",
        # extract→dedup integration over the fixture subsets (minhash on
        # EXTRACTED text)
        "extract_neardups",
        # the north rule's web face: HTML boilerplate strip / DOM
        # heuristics over synthesized Common-Crawl-style pages
        "html_extract",
        # extraction + per-partition lineage metrics rollup (web face)
        "html_corpus_stats",
        "token_boxes",
        "word_stats",
        "repeat_pairs",
    ],
    "dedup": [
        "dedup_exact_prefix",
        # CCNet-style corpus-wide boilerplate paragraph removal over the
        # html face (extraction kernel + window df + reassembly groupBy)
        "html_boilerplate_dedup",
        # ExactSubstr (Lee et al. 2022) duplicate-span removal as n-gram
        # coverage: gram-text groupBy + flag join + sliding max
        "dup_span_removal",
        # the consumer-facing dedup shape: groups + keeper (linear
        # output), built on the minhash pair graph — pair queries stay
        # internals
        "neardup_components",
        # binding-regime fixtures (derived from doc_id, every sf): the
        # path-graph chain corpus (component iteration depth) and the
        # hot-shingle corpus (word-df cap actually dropping features)
        "chain_components",
        # quality-aware keeper per component (components + score argmax,
        # one max_by agg — the row a curation pipeline actually writes)
        "neardup_keep_best",
        "hotshingle_neardups",
        # minhash_calibration is CORRECTNESS-gated but intentionally
        # NOT benched: it re-executes the minhash build twice by
        # design (the twin recompute-cost rule, see _telemetry_row)
        # and measured 31 s at sf0.1 — a scheduled audit, not a
        # per-run query
        # provenance contamination matrix: minhash pair graph rolled
        # to (source,source) cells via the canonical fold (one agg)
        "source_contamination",
        # Zipf-vocabulary fixture: a CONSTANT df cap binding at every sf
        # (heavy-tailed background vocabulary, the real-web regime)
        "zipf_neardups",
        "simhash",
        "ngram_jaccard",
        # directional containment (quote/subset detector; per-side
        # denominators, shares the shingle table + df cap)
        "ngram_containment",
        # keep-oldest provenance: containment pairs folded canonical,
        # later-seen side is the copier (one max-agg + projection)
        "copy_provenance",
        # incremental-ingest dedup: cross-side-only band candidates
        # (old×old mass never generated); output is Θ(true cross
        # pairs) on this template corpus — large like neardup_components
        "incremental_neardups",
        # benchmark decontamination (broadcast probe, no corpus shuffle)
        "decontaminate",
        # MOSS winnowing: selection is ONE combinable agg (rightmost-min
        # encoded into gh*16+offset), membership explode <= w per gram
        "winnow_fingerprints",
        "winnow_pairs",
        # content-defined chunking ledger: one doc window pass +
        # one family agg keyed by chunk text (shift-invariant cuts)
        "cdc_dedup",
    ],
    "textstats": [
        "fingerprint",
        # one-row dataset card: two combinable aggs, no joins/windows
        "corpus_report",
        "lang_id",
        # per-source majority language: generic distributed MODE —
        # argmax window over the (group,label) COUNT table, never docs
        "source_language",
        "quality_score",
        "token_counts",
        # Gopher/MassiveText-style within-doc repetition metrics
        "repetition_stats",
        # regex-tier PII redaction (pure projection, codegen regex)
        "pii_scrub",
        # C4-style line/page cleaning (zero-shuffle projection over the
        # punctuated-line fixture)
        "c4_clean",
        # retrieval-index build: (term,doc) tf agg + salted two-stage
        # top-k postings + stats⋈postings on the agg partitioning
        "inverted_index",
        # Gopher-style composite quality gate: two metric branches
        # joined on their agg key, decision is a pure projection
        "gopher_filter",
        # fixed-point BM25 top-k retrieval: corpus-scalar agg +
        # pre-shuffle term filter + broadcast df + TakeOrdered top-k
        "bm25_search",
        # query-by-example BM25 (one-scan postings build, df-capped
        # terms, broadcast query side) + hybrid sparse+dense RRF fusion
        "bm25_related",
        # DPR-style hard-negative mining: BM25 candidates minus
        # exact-Jaccard near-dups (verify bounded by candidate list)
        "hard_negatives",
        "rrf_fusion",
        # TextRank keywords: bigram word graph -> the link face's
        # integer pagerank -> top-k (one operator, two graph faces)
        "textrank_keywords",
        # inverse-df rarity scoring (no vocabulary-wide rank; one df
        # agg + word join + doc agg + restoring id join)
        "token_rarity",
        # BPE merge-candidate counts; global top-k via
        # TakeOrderedAndProject per-partition heaps
        "bpe_pairs",
        # exact per-group quantiles by rank arithmetic (one shuffle,
        # per-group window sort, conditional agg — no interpolation)
        "length_quantiles",
        # bounded-state quantile sketch (log buckets, k=8/octave):
        # one combinable count agg, windows over bucket rows only
        "approx_length_quantiles",
        # df-capped co-occurrence pair join + integer PMI surrogate
        # (overflow-safe division order)
        "word_pmi",
        # full sequential BPE merge loop (8 steps, gaps-and-islands
        # greedy application, per-step localCheckpoint)
        "bpe_merges",
        # tokenizer application: the merge loop's final symbol table
        # aggregated to per-distinct-word segmentations
        "bpe_encode",
        # pieces-per-word ×10^4 per lang: vocab piece table broadcast
        # onto one (lang, word) count agg (tokenizer-equity metric)
        "tokenizer_fertility",
        # corpus bigram LM: one window + one combinable count; context
        # counts re-aggregated from the bounded model table
        "bigram_lm",
        # CCNet-style LM quality thirds: self-scored mean bigram
        # probability + score-space-bounded histogram percentiles
        "lm_quality",
        # the buckets' end use: LM-stratified token-budget mix,
        # head oversampled 6:3:1 (composition with token_budget_mix)
        "quality_mix",
        # trainable quality filter: integer Bernoulli NB over hashed
        # bag-of-words (closed-form — two combinable aggs + broadcast
        # D-row weights; log-odds in self-correcting ilog buckets)
        "quality_classifier",
        # the classifier's end use (GPT-3 recipe): predictions as mix
        # strata, kept 9:1 — cap branch AND sampling branch both bind
        "classifier_mix",
        # DSIR importance resampling (r5): hashed unigram+bigram count
        # features, ilog-bucket importance vs the dup-carrier target —
        # one feature pass, dims-row weight broadcast
        "dsir_weights",
        # word2vec skip-gram pairs: deterministic integer subsampling
        # (r²·f_ppm threshold), one doc window for all leads, |V|²-
        # bounded symmetric pair agg
        "skipgram_pairs",
        # count-min sketch (4x16, collisions binding): bounded x4
        # fan-out into one 64-row combinable agg + broadcast probe
        "cms_heavy_hitters",
        # exact integer Spearman per source (two rank sorts on one
        # exchange, truncating 10^4 rho; ~96k/group BIGINT bound)
        "length_repetition_corr",
        # dictionary topic tagging: 3-row broadcast + distributed MODE
        # (majority_label composition), none-branch restored
        "topic_tags",
        # one-row shuffle-skew diagnostics (key-mass agg + exact rank
        # stats over the key table) — the pre-shuffle salting decision
        "word_key_skew",
    ],
    "urls": [
        # crawl-frontier identity dedup: canonicalize (pure projection),
        # url-family collapse, per-domain corpus shape (one agg each)
        "url_canonical",
        "url_dedup",
        "domain_stats",
        "domain_cap",
        # SymSpell distance-1 linkage: deletion-key equi-join candidates
        # + exact levenshtein verify (fan-out bounded by family size)
        "title_linkage",
        # per-host politeness schedule: two-stage bucket-offset
        # enumeration (no whole-host single-task sort)
        "crawl_schedule",
        # robots.txt Disallow gate: broadcast rule table, one host
        # equi-join (fan-out = rules-per-host), per-page match agg
        "robots_filter",
        # the crawl face composed: robots gate -> politeness schedule
        # -> Hamilton budget -> slot < quota fetch list
        "frontier_pipeline",
        # recrawl collapse: freshest warc_ts wins (one max_by agg)
        "latest_crawl",
        # incremental-ingest snapshot diff: one agg per side + one
        # full-outer equi join reusing the agg partitioning
        "crawl_delta",
        # portable two-stage distributed zipWithIndex (dense ids, no
        # digest identity, no global sort)
        "url_dictionary",
        # crawl-prioritization composition (quality x url faces):
        # per-domain Gopher keep rate, one join + one combinable agg
        "host_reputation",
        # HRW (rendezvous) placement resize matrix: pure codegen
        # projection + one count agg; off-diagonal mass only on the
        # added shard (minimal churn)
        "rendezvous_shards",
        # per-host path-prefix subtree rollup (bounded x2 fan-out,
        # one agg keyed by prefix text, depth-cap fold)
        "url_tree",
        # exact largest-remainder budget apportionment over hosts
        # (two 1-row broadcasts + one host-cardinality window)
        "crawl_budget",
        # stepwise integer freshness decay (1-row max broadcast +
        # one combinable host agg, no floats)
        "host_freshness",
        # Bloom membership gate (sketch trio: HLL/CMS/Bloom): bit
        # table broadcast, FP branch live by derived-m fill ratio
        "bloom_crawl_filter",
    ],
    "graph": [
        # link-graph face: zero-shuffle JVM-regex anchor parse, distinct
        # edges, one-agg degrees, anchor-text corpus, 5-round fixed-point
        # integer PageRank (static edge exchange reused across rounds)
        "link_extract",
        "link_graph",
        "link_degrees",
        "anchor_stats",
        "pagerank",
        # host-graph compression: distinct host→host edges BEFORE the
        # iteration (rounds shuffle host-count state, not page-count)
        "host_pagerank",
        # DeepWalk-style deterministic walk corpus: two 1:1 equi-joins
        # per step (hub-proof), coin flips = portable hash arithmetic
        "random_walks",
        # dyad reciprocity: canonical-pair fold, ONE combinable agg,
        # no reversed-key self-join
        "link_reciprocity",
        # degree histogram (link_degrees + one combinable count)
        "degree_distribution",
        # degree-oriented triangle counting: wedge join bounded at
        # O(m^1.5) regardless of hub skew
        "triangles",
        # k-core peeling fixpoint (per-round degree agg + keep joins,
        # one action/round = edge count = convergence signal)
        "kcore",
        # frontier-iterated BFS depths from the seed set (per-layer
        # distinct-before-shuffle + anti-join, early exit on empty)
        "crawl_depths",
        # personalized pagerank from the same seed set (per-node base
        # rides the static nodes frame: same per-round plan as global)
        "seeded_pagerank",
        # fixed-point integer HITS hubs/authorities (per half round:
        # one equi-join + one combinable sum + a 1-row broadcast max)
        "hits",
        # synchronous min-tie-break label propagation (per round: one
        # node-keyed join + count + window-max + min-agg, lazy ckpt)
        "communities",
        # in-degree-capped co-citation pairs + integer milli-Jaccard
        # (the cap kills the C(d,2) hub blowup before the pair join)
        "related_pages",
    ],
    "ann": [
        "ann_brute_topk",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "embedding_neardups",
        # integer-quantized Lloyd's k-means, 3 fixed rounds (broadcast
        # centroids, per-round checkpoint, nested-CTE oracle)
        "kmeans",
        # product quantization: m independent subspace kmeans runs
        # (column-pruned slices, broadcast centroids), radix-k codes
        "pq_codes",
        # ADC query path: per-query m×k distance tables broadcast
        # onto the code table — db vectors touched via codes only
        "pq_search",
        # the full FAISS shape: coarse cells + nprobe pruning + ADC
        # (pruning binds: 16-38 of 80 pairs differ from the full scan)
        "ivfpq_search",
        # per-cluster representative rollup composed on kmeans (the
        # oracle wraps the kmeans oracle as a subquery)
        "kmeans_summary",
        # SemDeDup: kmeans -> within-cluster exact cosine -> per-pair
        # domination keep (k is the quadratic-step knob)
        "semantic_dedup",
        # per-dimension integer moments of the embedding column
        # (posexplode + ONE combinable agg on dim)
        "embedding_dim_stats",
        # label-noise pruning: cos to per-label centroid-SUM direction
        # (one (label,dim) agg + one equi-join, no array rebuild)
        "embedding_outliers",
        # margin-based bitext mining (r5): mutual-best ratio margin
        # en↔de, brute candidates with the smaller side broadcast
        "bitext_mining",
    ],
    "relational": [
        "events_json",
        "pricing_summary",
        "top_revenue_orders",
        "first_orders",
        # TPC-H Q5 analog: six-table star join, explicit dim broadcasts,
        # date filter pushed to the orders scan
        "regional_volume",
        # TPC-H Q4 analog: EXISTS as a LEFT SEMI join with the quarter
        # predicate pushed to the scan
        "late_orders",
        # TPC-H Q21 analog: EXISTS/NOT-EXISTS pair as one LeftSemi +
        # one LeftAnti join, dims broadcast, TakeOrdered top-20
        "blame_suppliers",
        # TPC-H Q13 analog: two-level agg over LEFT OUTER with the
        # right-side predicate in ON (zero bucket live tri-scale)
        "customer_engagement",
        # Q16-style NOT IN: null-aware broadcast anti join (the
        # isNullAwareAntiJoin flag plan-locked)
        "never_returned_parts",
        "sessionize",
        # strictly-ordered first-touch funnel (|users|-bounded step
        # frames, per-step lazy checkpoint bounds rescans to K)
        "funnel_steps",
        # day-grain cohort retention (one collect_set shuffle bounded
        # by calendar span, one combinable agg — no join, no distinct)
        "cohort_retention",
        # per-user Markov transition counts (ONE user-keyed window
        # shuffle, output bounded by |types|^2)
        "event_transitions",
        # order-2 Markov 3-step paths (both leads in the same window
        # pass, output bounded by |types|^3)
        "event_trigrams",
        # calendar gap-fill: one (user, day) combinable count +
        # per-user span explode (state = users x calendar span)
        "activity_gapfill",
        # exact integer Poisson z-test per (key, day) over the
        # zero-filled span (dev^2 > z^2*s*nd, no float sqrt)
        "rate_anomalies",
        # backward as-of join (union-and-window: one shuffle, no join
        # operator; oracle is DuckDB's native ASOF JOIN)
        "asof_attribution",
        "source_rollup",
    ],
    "packing": [
        # training-set assembly: hash split (projection), sharded
        # concat-and-chunk packing (one shuffle on shard), token-budget
        # data mixing (one strata agg + broadcast rate filter)
        "assign_split",
        # context-window chunking: zero-shuffle projection + explode
        "chunk_documents",
        "pack_sequences",
        # packing telemetry twin: one combinable agg over n_shards
        # groups; tail waste < capacity by the concat-chunk invariant
        "pack_efficiency",
        "token_budget_mix",
        # replication mixing (rates > 1 epoch): zero-shuffle CASE rates
        # + hash projection + bounded explode
        "epoch_mix",
        # T5 span-corruption pair generation: one (doc,pos) window pass
        # (lag + running span index), per-doc string assembly
        "span_corruption",
        # deterministic per-stratum eval sample: hash-ordered top-k
        # per source under WindowGroupLimit (nested samples free)
        "stratified_sample",
        # contrastive negatives: ring-shift over the dictionary-encoded
        # dense rank space (negative != anchor by construction)
        "contrastive_negatives",
        # four faces chained: url collapse -> C4 clean -> token counts
        # -> split (one agg + one semi join + projections)
        "curation_pipeline",
        # new faces chained: Gopher gate -> chunking -> hash split ->
        # per-split rollup (split attaches as a projection, no join
        # after the keep semi join)
        "chunking_pipeline",
    ],
    "streaming_batch_twins": [
        "windowed_events",
        # batch mode of the stream-stream interval join (multi-touch
        # attribution; oracle anchors the streaming semantics)
        "attribution_window",
    ],
    "multimodal": ["media_features", "frame_samples"],
}

BENCH_QUERIES = [q for fam in BENCH_FAMILIES.values() for q in fam]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sf_of(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def suite_names(requested: list[str] | None, qs: dict) -> list[str]:
    """The queries a suite run times: ``requested``, else BENCH_QUERIES.
    Every name must be in ``queries()`` — a typo or a dropped query would
    otherwise time a partial set silently."""
    names = requested or BENCH_QUERIES
    unknown = [q for q in names if q not in qs]
    if unknown:
        raise SystemExit(f"unknown query name(s) {unknown} — not in queries()")
    return names


def run_suite(requested: list[str] | None = None) -> None:
    import __spark_entry__ as entrymod

    timings = _time_queries(
        suite_names(requested, entrymod.queries()), "servico-ocr-bench")
    total = sum(timings.values())
    families = {
        fam: round(sum(timings[q] for q in qs_in_fam if q in timings), 3)
        for fam, qs_in_fam in BENCH_FAMILIES.items()
        if any(q in timings for q in qs_in_fam)
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "families": families,
                "queries": timings,
                "sf": _sf_of(SF_DIR),
            }
        )
    )


def _time_queries(query_names: list[str], app_name: str) -> dict[str, float]:
    """Suite-methodology timings for named queries: each query runs once
    untimed (whole-stage codegen compile, JIT, Python-worker spin-up —
    per-query constants of ~1-4 s that a long-running job pays once, not
    per task), then the best of three timed runs is recorded (run-to-run
    variance on this box is ±20-30%; CLAUDE.md policy). Methodology in
    BENCH/BASELINE.md.

    Imports ``__spark_entry__`` from whatever tree is FIRST on sys.path —
    the caller is responsible for pointing sys.path at the right checkout.
    """
    import __spark_entry__ as entrymod
    from servico_ocr_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        app_name=app_name,
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings = {}
    for name in query_names:
        _materialize(qs[name](spark, SF_DIR))
        best = float("inf")
        for _ in range(3):
            start = time.perf_counter()
            _materialize(qs[name](spark, SF_DIR))
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
    spark.stop()
    return timings


def run_ab_tree(tree: str, query_csv: str) -> None:
    """Subprocess body for --ab: time queries against ONE checkout.

    Re-roots sys.path at ``tree`` (this file may live in a different
    checkout than the code under test — the parent always invokes HEAD's
    bench.py so old trees don't need to know about --ab).
    """
    tree = os.path.abspath(tree)
    if tree != REPO:
        while REPO in sys.path:
            sys.path.remove(REPO)
    sys.path.insert(0, tree)
    os.chdir(tree)
    timings = _time_queries(
        query_csv.split(","), app_name=f"servico-ocr-ab-{os.path.basename(tree)}"
    )
    print(json.dumps(timings))


def run_ab(ref: str, requested: list[str], rounds: int = 1) -> None:
    """Same-box A/B: HEAD vs a git ref, per-query steady-state timings.

    ``--rounds R`` (default 1) runs the two sides A-B-A-B R times and
    keeps the per-side MIN across rounds. Rationale (measured r4): this
    VM's host-steal phases drift at the minutes scale, so a single
    ref-then-head pass can read ±1.5x on byte-identical code (the r3
    commit's html_extract read 0.97 s, 1.39 s and 7.23 s across three
    same-day A/Bs). Min-across-interleaved-rounds needs the box to be
    slow during EVERY window of one side and fast in SOME window of the
    other to bias a query — phase noise cancels instead of accumulating."""
    import subprocess

    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", ref],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    tree = f"/tmp/spark_ab_{sha}"
    if not os.path.isdir(tree):
        subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", tree, sha],
            check=True, capture_output=True,
        )

    # queries the REF tree knows about (importing __spark_entry__ does not
    # start Spark) — the comparison set is the intersection
    ref_names = set(json.loads(subprocess.run(
        [sys.executable, "-c",
         "import sys, json; sys.path.insert(0, sys.argv[1]); "
         "import __spark_entry__ as e; "
         "print(json.dumps(sorted(e.queries().keys())))", tree],
        capture_output=True, text=True, check=True, cwd=tree,
    ).stdout.strip().splitlines()[-1]))
    names = [q for q in (requested or BENCH_QUERIES) if q in ref_names]
    skipped = [q for q in (requested or BENCH_QUERIES) if q not in ref_names]

    def run_tree(tree_path: str) -> dict:
        env = dict(os.environ, PYTHONPATH=tree_path)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--ab-run", tree_path, ",".join(names)],
            capture_output=True, text=True, check=True, cwd=tree_path, env=env,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    # each side is internally warm-run + best-of-3; rounds interleave
    # ref/HEAD so multi-minute box-phase drift cancels (see docstring)
    ref_t: dict = {}
    head_t: dict = {}
    for _ in range(rounds):
        for acc, tree_path in ((ref_t, tree), (head_t, REPO)):
            for q, sec in run_tree(tree_path).items():
                acc[q] = min(acc.get(q, float("inf")), sec)
    table = {
        q: {
            "ref": ref_t[q],
            "head": head_t[q],
            "ratio": round(head_t[q] / ref_t[q], 3) if ref_t[q] > 0 else None,
        }
        for q in names
    }
    flagged = sorted(
        q for q, row in table.items()
        if row["ratio"] is not None and (row["ratio"] > 1.3 or row["ratio"] < 1 / 1.3)
    )
    print(json.dumps({
        "metric": "ab_seconds_head_over_ref",
        "ref": sha,
        "sf": _sf_of(SF_DIR),
        "queries": table,
        "flagged_over_1.3x": flagged,
        "head_only_queries_skipped": skipped,
    }))


if __name__ == "__main__":
    if "--ab-run" in sys.argv:
        i = sys.argv.index("--ab-run")
        run_ab_tree(sys.argv[i + 1], sys.argv[i + 2])
    elif "--ab" in sys.argv:
        argv = list(sys.argv)
        rounds = 1
        if "--rounds" in argv:
            j = argv.index("--rounds")
            rounds = int(argv[j + 1])
            del argv[j:j + 2]
        i = argv.index("--ab")
        run_ab(argv[i + 1], argv[i + 2:], rounds=rounds)
    else:
        req = [a for a in sys.argv[1:] if not a.startswith("-")]
        run_suite(req or None)
