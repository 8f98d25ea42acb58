"""Web link-graph operators: anchor extraction, edge dedup, degree
stats, anchor-text aggregation, and fixed-point integer PageRank.

The link graph is the Common-Crawl companion pipeline to main-content
extraction (`operators/webtext`): the same crawl that feeds the text
corpus feeds a (src, dst, anchor) edge table used for crawl frontier
prioritization, spam/domain curation, and anchor-text training corpora.
The reference service has no web face at all; this module follows the
public webgraph pipeline shape (WARC → links → graph → rank) re-expressed
Spark-first.

Design rules:

- **Parsing is pure JVM regex** (`regexp_extract_all` over the decoded
  page + per-anchor `regexp_extract` columns): whole-stage codegen, no
  Python in the hot path. The anchor match is deliberately flat
  (``<a ...>text</a>`` with no nested markup inside the anchor) — for a
  LINK graph the href is the payload; an anchor wrapping an image or
  span keeps its href but yields an empty/partial anchor text. A full
  DOM parse belongs to `core/html_extract`, which feeds the TEXT face.
- **URL resolution is RFC-3986-lite** (absolute / protocol-relative /
  root-relative / path-relative against the base directory; fragments
  stripped; no dot-segment normalization — the canonical-form pass is
  :func:`..urls.canonicalize_urls`, composable downstream).
- **No digest keys anywhere**: edges dedup and degree aggregation key on
  the full url strings (the birthday rule from
  `webtext.drop_repeated_paragraphs` — a 48-bit digest silently merges
  nodes at 10^12 pages).
- **Scale shapes**: :func:`extract_links` is a zero-shuffle
  scan → project → generator explode (plan-locked); :func:`link_edges`
  is one distinct; :func:`link_degrees` is ONE map-side-combinable
  aggregation over both endpoints (a 10^9-in-degree hub costs its
  combiner a counter, never a row group); :func:`pagerank` is K rounds
  of one join + one union-aggregate over the static edge table and a
  static ``link_degrees`` node table, whose exchanges are reused
  across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.column import Column

from .common import cut, h48

#: flat anchor element: start tag, then text with no nested markup
ANCHOR_TAG_RE = r"(?is)<a\s[^>]*>[^<]*</a>"
#: one alternation for all three attr-value forms (group 1 keeps the
#: quotes; stripped by _UNQUOTE). A single regex instead of a 3-arm CASE
#: keeps the codegen'd expression tree small — see the 64 KB note below.
_HREF_ANY = "(?is)href\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>'\"]+)"
_UNQUOTE = "^[\"']|[\"']$"
#: a colon-terminated first segment is a scheme (RFC 3986 §4.2)
_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*:"
_ORIGIN_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

# Codegen-size discipline (learned here the hard way): Catalyst pushes a
# post-projection filter BELOW the projection by substituting the FULL
# column expression into the Filter, and whole-stage codegen then carries
# one copy per operator. With the first draft (3-arm href CASE, 5-arm
# resolve referencing the href chain 7x, `dst IS NOT NULL` filter) the
# fused generate stage held ~300 regex matchers and fell out of codegen
# entirely ("Code grows beyond 64 KB" → interpreted fallback on the hot
# parse path). The shapes below keep every copy small: one href regex,
# the null-filter expressed PRE-resolution (tiny pushed predicate), and
# resolution as prefix+concat so the href chain is referenced 4x, not 7x.


def _resolve_prefix(src: Column, h: Column) -> Column:
    """Absolute-url prefix for a fragment-stripped, non-empty href ``h``:
    '' for absolute hrefs, ``scheme:`` for protocol-relative, the origin
    for root-relative, origin+base-directory for path-relative."""
    origin = F.regexp_extract(src, _ORIGIN_RE, 0)
    scheme = F.regexp_extract(src, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    base_path = F.regexp_replace(
        F.regexp_replace(src, _ORIGIN_RE, ""), "[?#].*$", ""
    )
    base_dir = F.regexp_replace(base_path, "[^/]*$", "")
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)
    return (
        F.when(h.rlike(_ABS_RE), F.lit(""))
        .when(h.startswith("//"), F.concat(scheme, F.lit(":")))
        .when(h.startswith("/"), origin)
        .otherwise(F.concat(origin, base_dir))
    )


def resolve_href(src: Column, href: Column) -> Column:
    """Resolve ``href`` against the page url ``src`` (RFC-3986-lite).

    Fragments are stripped first; an empty href resolves to NULL so
    callers can filter it. Handles absolute (any scheme),
    protocol-relative (``//host/..``), root-relative (``/path``), and
    path-relative (resolved against the base url's directory) forms.
    Dot segments (``../``) are NOT normalized — out of scope for the
    synthetic corpus, and a canonical pass can fold them downstream.
    """
    h = F.regexp_replace(href, "#.*$", "")
    return (
        F.when(h == "", F.lit(None).cast("string"))
        .otherwise(F.concat(_resolve_prefix(src, h), h))
    )


def extract_links(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Parse every ``<a>`` anchor of every page into one
    ``(src, dst, anchor, nofollow)`` row.

    ``html`` may be binary (cast to string — lenient UTF-8, never
    throws) or string. href attribute forms handled: double-quoted,
    single-quoted, unquoted. ``dst`` is the resolved absolute url
    (see :func:`resolve_href`); anchors with no/empty href are dropped.
    ``anchor`` is the whitespace-collapsed trimmed anchor text;
    ``nofollow`` is 1 when the start tag carries ``nofollow`` (the
    substring test over the start tag only — rel value parsing adds
    nothing on real-web markup).

    Scale shape: scan → project → generator explode → filter/project.
    ZERO exchanges (plan-locked) — embarrassingly parallel at any crawl
    size; output is ~anchors-per-page × pages rows. The whole stage stays
    inside whole-stage codegen (see the 64 KB note above — the empty-href
    drop is a pre-resolution predicate precisely so its pushed-down copy
    stays small).
    """
    page = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(page, F.lit(ANCHOR_TAG_RE), 0)
    exploded = df.select(
        F.col(url_col).alias("src"), F.explode(tags).alias("_tag")
    )
    start = F.regexp_extract(F.col("_tag"), r"(?s)^[^>]*>", 0)
    href = F.regexp_replace(
        F.regexp_extract(start, _HREF_ANY, 1), _UNQUOTE, ""
    )
    h = F.regexp_replace(href, "#.*$", "")  # fragment-stripped
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_extract(F.col("_tag"), r"(?s)>([^<]*)<", 1),
            r"\s+", " ",
        )
    )
    return (
        exploded.where(h != "")  # no href attr / empty / fragment-only
        .select(
            "src",
            F.concat(_resolve_prefix(F.col("src"), h), h).alias("dst"),
            anchor.alias("anchor"),
            (F.instr(F.lower(start), "nofollow") > 0)
            .cast("long")
            .alias("nofollow"),
        )
    )


def _follow_http(links: DataFrame) -> DataFrame:
    """Follow links to http(s) targets, self-loops dropped — the rows
    that contribute to the graph. Pure filter (no shuffle)."""
    return links.where(
        (F.col("nofollow") == 0)
        & (F.col("dst") != F.col("src"))
        & (
            F.col("dst").startswith("http://")
            | F.col("dst").startswith("https://")
        )
    )


def link_edges(links: DataFrame) -> DataFrame:
    """Distinct (src, dst) graph edges: follow links to http(s) targets,
    self-loops dropped, duplicate anchors collapsed.

    One hash aggregation on the full (src, dst) string pair — map-side
    combinable, no digest truncation."""
    return _follow_http(links).select("src", "dst").distinct()


def link_degrees(edges: DataFrame) -> DataFrame:
    """Per-node (node, out_deg, in_deg) over a distinct-edge table.

    Both endpoints are counted in ONE aggregation (union of the two
    endpoint projections), not two aggs + an outer join: one shuffle,
    partial aggregation absorbs hub skew (an in-degree-10^9 node is one
    counter per map task)."""
    ends = edges.select(
        F.col("src").alias("node"),
        F.lit(1).alias("_out"),
        F.lit(0).alias("_in"),
    ).unionAll(
        edges.select(F.col("dst"), F.lit(0), F.lit(1))
    )
    return ends.groupBy("node").agg(
        F.sum("_out").cast("long").alias("out_deg"),
        F.sum("_in").cast("long").alias("in_deg"),
    )


def digraph_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """``(a, b, w_ab, w_ba, recip_pp10k)`` per unordered node pair of a
    weighted digraph — the link-reciprocity statistic ("is this pair of
    pages/hosts linked both ways, and how balanced is the two-way
    mass"). ``a < b`` bytewise; ``w_ab``/``w_ba`` are the total edge
    weight in each direction (0 when absent — one-way pairs ARE rows);
    ``recip_pp10k = 2·min(w_ab,w_ba)·10^4 div (w_ab+w_ba)`` is the
    standard dyad-reciprocity ratio in integer parts-per-10^4 (10^4 ⇔
    perfectly balanced mutual mass, 0 ⇔ one-way). Self-loops are
    excluded — reciprocity is about dyads.

    Scale shape: NO self-join on the reversed key (the naive shape — a
    second scan plus a shuffle of the whole edge table). Folding each
    edge onto its canonical ``(least, greatest)`` pair turns reciprocity
    into ONE map-side-combinable conditional-sum aggregation: one
    shuffle of (pair, partial sums), hub pairs collapse in the
    combiner. Node ids must order consistently across engines — keep
    them ASCII (the linkage-key rule)."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    src, dst = F.col(src_col), F.col(dst_col)
    folded = edges.where(src != dst).select(
        F.least(src, dst).alias("a"),
        F.greatest(src, dst).alias("b"),
        F.when(src < dst, w).otherwise(F.lit(0)).alias("_fwd"),
        F.when(src > dst, w).otherwise(F.lit(0)).alias("_rev"),
    )
    agg = folded.groupBy("a", "b").agg(
        F.sum("_fwd").cast("long").alias("w_ab"),
        F.sum("_rev").cast("long").alias("w_ba"),
    )
    return agg.select(
        "a",
        "b",
        "w_ab",
        "w_ba",
        F.expr("(2 * least(w_ab, w_ba) * 10000) div (w_ab + w_ba)")
        .cast("long")
        .alias("recip_pp10k"),
    )


def anchor_text_agg(
    links: DataFrame, max_anchors: int | None = None
) -> DataFrame:
    """Anchor-text corpus per target: ``(dst, n_links, n_anchors,
    anchors)`` over follow/http/non-self links with non-empty anchor
    text (pre-dedup — every occurrence counts).

    ``anchors`` is the bytewise-sorted distinct anchor texts joined with
    ``|`` (capped to the first ``max_anchors`` after sorting when set).
    One hash aggregation; ``collect_set`` makes a hub target with 10^6
    DISTINCT anchors a bounded linear straggler — the same accepted
    trade as ``dedup._cap_doc_freq``'s window (duplicate anchor TEXTS,
    the common hub case, collapse in the partial aggregate; it is the
    distinct-text cardinality that bounds the buffer)."""
    fl = _follow_http(links).where(F.col("anchor") != "")
    anchors = F.array_sort(F.collect_set("anchor"))
    if max_anchors is not None:
        anchors = F.slice(anchors, 1, max_anchors)
    return fl.groupBy("dst").agg(
        F.count("*").cast("long").alias("n_links"),
        F.count_distinct("anchor").cast("long").alias("n_anchors"),
        F.array_join(anchors, "|").alias("anchors"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank over a distinct-edge table:
    ``(node, rank)`` after ``iterations`` synchronous rounds.

    All arithmetic is integer (ranks start at ``scale``; each round
    ``rank' = scale·(100-damping)/100 + damping·Σ(rank_in div
    out_deg_in)/100`` with truncating division), so the result is
    bit-deterministic and engine-portable — the driver contract bans
    float aggregates, and an unrolled-CTE DuckDB oracle reproduces it
    exactly. Documented simplification: dangling-node mass (nodes with
    no outlinks — leaf pages, external targets) and truncation remainders
    leak out of the system instead of being redistributed; ranks are
    relative scores, not a normalized distribution.

    Scale shape: one node table, built ONCE by :func:`link_degrees`
    (one aggregation over the src/dst union), carries ``out_deg`` (0
    for a sink), the base ``_b`` and the start rank ``_r0``; ranks carry
    ``(node, out_deg, rank)``. A round is ONE join (edges ⋈ ranks on
    src → ``(dst, rank div out_deg)``) plus ONE map-side-combinable
    union-aggregate (the shares ∪ the node table at share 0, grouped by
    node), so every node keeps its row without a join back. The static
    edge and node exchanges are reused across rounds; a hub with 10^9
    in-links combines map-side. 500 sf0.1 docs (``local[4]``, warm,
    parquet write): 11 Spark jobs per 5-round pass, 14 seeded, +1 per
    round after the first.

    ``seeds`` (optional, one-column node frame) switches to
    PERSONALIZED PageRank: the teleport/base term lands ONLY on the
    seed set and the walk starts there (rank ``scale`` on seeds, 0
    elsewhere) — the seed-biased relevance score a crawler uses to
    prioritize its frontier (Haveliwala, WWW 2002 — public method).
    Node universe stays the graph's own nodes; off-graph seeds
    contribute nothing (unlike :func:`bfs_depths`, whose output keeps
    them — a ranker scores pages, a frontier tracks intent). The
    per-node base column rides the static node table, so the seeded
    variant has the SAME per-round plan — one join + one union-aggregate
    — and its only outer join is the static seed join.

    The edge table is always :func:`cut` once, before iterating. The
    iteration references ``edges`` from the node table (twice, one per
    endpoint) and every per-round join, and every caller passes a
    DERIVED relation (link extraction → distinct, a host-graph
    self-join, a word-adjacency explode), whose plan would otherwise be
    inlined about 20 times. Measured on the sf0.1 link graph
    (``local[4]``, warm query + parquet write): 4.7–5.3 s uncut,
    3.1–4.0 s with this cut; a cut after every round took 4.3 s and an
    eager cut 3.7 s, so the one lazy cut stays. host_pagerank uncut
    re-ran its regex upstream 44× (19.5 s vs 3.3 s).
    """
    edges = cut(edges.select("src", "dst"))
    nodes = link_degrees(edges)
    base = scale * (100 - damping_pct) // 100
    if seeds is None:
        nodes = nodes.select(
            "node",
            "out_deg",
            F.lit(base).cast("long").alias("_b"),
            F.lit(scale).cast("long").alias("_r0"),
        )
    else:
        seed_nodes = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .select("node", F.lit(1).alias("_s"))
        )
        nodes = nodes.join(seed_nodes, "node", "left").select(
            "node",
            "out_deg",
            F.when(F.col("_s").isNotNull(), F.lit(base))
            .otherwise(F.lit(0)).cast("long").alias("_b"),
            F.when(F.col("_s").isNotNull(), F.lit(scale))
            .otherwise(F.lit(0)).cast("long").alias("_r0"),
        )
    own = nodes.withColumn("_share", F.lit(0).cast("long"))
    ranks = nodes.select("node", "out_deg", F.col("_r0").alias("rank"))
    for _ in range(iterations):
        shares = edges.join(ranks, edges["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("rank div out_deg").alias("_share"),
        )
        ranks = (
            shares.unionByName(own, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.max("out_deg").alias("out_deg"),
                F.expr(f"max(_b) + ({damping_pct} * sum(_share)) div 100")
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def hits_scores(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999) over a distinct-edge
    table: ``(node, hub, auth)`` after ``iterations`` synchronous
    rounds — the hub/authority decomposition a crawler uses to separate
    link DIRECTORIES (hubs) from link TARGETS (authorities), the
    complementary signal to :func:`pagerank`'s single stationary score.

    All arithmetic is integer so the result is bit-deterministic and
    engine-portable (the pagerank/kmeans contract). The textbook L2
    normalization is replaced by an integer max-normalization per half
    round: ``norm = greatest(max(raw) div scale, 1)``; ``score =
    raw div norm`` — every score lands in ~[0, 2·scale), so the next
    raw sum is bounded by ``max_degree · 2·scale`` and stays BIGINT-safe
    up to degree ~10^11 at the default scale. Values are relative
    scores, not a unit vector (the same documented trade as pagerank's
    leaked dangling mass). Update order is the classic one: authorities
    from hubs first, then hubs from the NEW authorities.

    Scale shape: the edge table is cut ONCE up front —
    each round joins it by src (auth step) AND by dst (hub step), two
    different partitionings that ReuseExchange can never collapse (the
    triangle_counts/bfs_depths lesson), so without the cut the upstream
    html parse would re-execute 2·K times. Each half round is one
    equi-join + one map-side-combinable sum (a 10^9-in-degree hub
    collapses in the partial aggregate) + a 1-row broadcast cross join
    carrying the max (the bpe_learn top-1 technique). Intermediate
    score frames hold only NONZERO nodes (missing rows contribute
    nothing to a sum); zero-degree sides are restored once at the end
    with left joins from the node universe (the explode-drops-rows
    lesson). Raw frames are cut because each is referenced twice (max +
    division) with different downstream shapes.
    """
    if iterations < 1:
        raise ValueError("iterations >= 1 required")
    edges = cut(edges.select("src", "dst"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(scale).cast("long").alias("s"))

    def _half(frm: DataFrame, key: str, out: str) -> DataFrame:
        """One half round: sum ``frm``'s scores onto the ``out`` end of
        every edge whose ``key`` end matches, then max-normalize."""
        raw = cut(
            edges.alias("e")
            .join(frm.alias("f"), F.col(f"e.{key}") == F.col("f.node"))
            .groupBy(F.col(f"e.{out}").alias("node"))
            .agg(F.sum("f.s").cast("long").alias("raw"))
        )
        mx = raw.agg(F.coalesce(F.max("raw"), F.lit(0)).alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(f"raw div greatest(_mx div {scale}, 1L)")
            .cast("long")
            .alias("s"),
        )

    auth = hub  # placeholder; iterations >= 1 always overwrites
    for _ in range(iterations):
        auth = _half(hub, "src", "dst")
        hub = _half(auth, "dst", "src")
    h = hub.select("node", F.col("s").alias("_h"))
    a = auth.select("node", F.col("s").alias("_a"))
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce("_h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("_a", F.lit(0)).cast("long").alias("auth"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles): per-node undirected triangle participation
    over a directed edge table (direction collapsed, self-loops and
    duplicates dropped) — the raw ingredient of clustering coefficients
    and link-farm/spam-cluster detection.

    The naive triple self-join explodes on hubs: a degree-d node
    contributes O(d^2) wedges, so one 10^8-degree host kills the job.
    This uses the standard DEGREE ORIENTATION (Cohen 2009; the
    "node-iterator++" bound): orient every undirected edge from its
    (degree, node)-smaller endpoint to the larger one. The orientation
    is acyclic, every triangle has exactly one wedge-apex under it, and
    each node's OUT-degree is bounded by O(sqrt(m)) — so the wedge join
    is Θ(Σ out_deg²) ≤ O(m^1.5) regardless of hub skew, the best known
    join-based bound. Shapes: one distinct agg (undirect), one degree
    agg, two equi joins to attach degrees, one wedge self-join + one
    closure semi-equi-join — all key-partitioned, no broadcast of
    anything O(nodes). Zero-triangle nodes are restored with a left
    join from the degree table (the explode-drops-rows lesson).

    The undirected edge table and the oriented table are cut: the three
    wedge/closure consumers of ``o`` need THREE DIFFERENT hash
    partitionings (by b, by a, by (a,b)), so without the cut the whole
    upstream (here: page synthesis + regex link parse) re-executes once
    per consumer (measured: 17 input scans, 0 ReusedExchange, 5.7 s at
    sf0.1 → 1 scan after)."""
    und = cut(
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
        "u",
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
        "v",
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = cut(ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ))
    tri = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            o.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
    )


def label_propagation(
    edges: DataFrame, iterations: int = 4
) -> DataFrame:
    """``(node, label)``: community assignment after ``iterations``
    SYNCHRONOUS label-propagation rounds (Raghavan et al. 2007) over a
    directed edge table, direction collapsed — the cheap community
    detector a crawler uses to find link farms / mirror clusters, the
    unsupervised complement to :func:`triangle_counts`'s local density.

    Determinism contract (the pagerank/kmeans rule): updates are
    synchronous (every round reads only the previous round's labels),
    each node starts labeled with ITSELF, and the new label is the
    neighbor label with the highest count, ties broken by MINIMUM label
    (bytewise string order — identical in Spark and DuckDB for these
    ASCII urls, the least/greatest precedent from triangle_counts). No
    randomness, no visit order: the result is bit-stable and an
    unrolled-CTE oracle reproduces it exactly. The textbook asynchronous
    variant converges faster but is order-dependent — unusable under
    the engine-portability contract; synchronous LPA may oscillate on
    bipartite structures, which a fixed round budget turns into a
    deterministic answer rather than a hang.

    Scale shape: the symmetric neighbor table is cut ONCE up front (it
    is joined every round). Each round is one equi-join (neighbor label
    lookup), one map-side-combinable count by (node, label), one
    window-max over node, one min-agg by node — all shuffles keyed on
    node, and the window/final agg reuse the (node, label) exchange's
    node-prefix. Per-round state is one row per node. A degree-10^9 hub
    sees one window partition of ≤ |distinct neighbor labels| rows — a
    bounded linear straggler, the `_cap_doc_freq` trade (labels
    coarsen every round, so the distinct-label count only shrinks).
    Labels are cut per round: round k's frame is otherwise re-derived
    from scratch by round k+1's join.
    """
    if iterations < 1:
        raise ValueError("iterations >= 1 required")
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    nbr = cut(
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(und.select(F.col("v"), F.col("u")))
    )
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node")
    for _ in range(iterations):
        cnt = (
            nbr.alias("n")
            .join(labels.alias("l"), F.col("l.node") == F.col("n.nbr"))
            .groupBy(
                F.col("n.node").alias("node"), F.col("l.label").alias("label")
            )
            .agg(F.count("*").alias("cnt"))
        )
        labels = cut(
            cnt.withColumn("_mx", F.max("cnt").over(w))
            .where(F.col("cnt") == F.col("_mx"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
    return labels


def cocitation_pairs(
    edges: DataFrame,
    max_in_degree: int,
    min_common: int = 1,
) -> DataFrame:
    """``(a, b, n_common, deg_a, deg_b, jaccard_x1000)``: unordered page
    pairs that link to at least ``min_common`` shared targets —
    co-citation relatedness (Small 1973; the SALSA/"related pages"
    signal), with an integer milli-Jaccard over the pages' outlink sets.

    ``max_in_degree`` is MANDATORY and is the scale contract: a target
    with in-degree d contributes C(d,2) pairs, so one 10^8-in-degree
    hub (a homepage every page links to) is an O(d²) explosion — and a
    shared everyone-links-here target carries no relatedness signal
    anyway (the idf intuition). Targets above the cap are dropped
    BEFORE the pair join, and out-degrees are computed over the SAME
    capped edge set so the Jaccard numerator and denominator count the
    same universe (the `_cap_doc_freq` / `DEFAULT_MAX_DOC_FREQ`
    precedent from minhash — on the driver fixture the three
    in-degree-n nav hubs make the cap bind at every sf).

    Shapes: one in-degree agg + one equi-join to apply the cap (both
    keyed on dst), one out-degree agg, the pair self-join keyed on dst
    (bounded at Σ C(min(d, cap), 2) ≤ cap²/2 · |targets|), one
    map-side-combinable count by (a, b), two degree lookups keyed on
    the pair ends. ``jaccard_x1000 = n_common·1000 div (deg_a + deg_b −
    n_common)`` — truncating integer division, BIGINT-safe, identical
    on both engines.
    """
    if max_in_degree < 1:
        raise ValueError("max_in_degree >= 1 required")
    ind = edges.groupBy("dst").agg(F.count("*").alias("_in"))
    kept = edges.join(
        ind.where(F.col("_in") <= max_in_degree).select("dst"), "dst"
    )
    outd = kept.groupBy("src").agg(
        F.count("*").cast("long").alias("deg")
    )
    pairs = (
        kept.alias("e1")
        .join(
            kept.alias("e2"),
            (F.col("e1.dst") == F.col("e2.dst"))
            & (F.col("e1.src") < F.col("e2.src")),
        )
        .groupBy(
            F.col("e1.src").alias("a"), F.col("e2.src").alias("b")
        )
        .agg(F.count("*").cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    return (
        pairs.join(
            outd.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            outd.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr("(n_common * 1000) div (deg_a + deg_b - n_common)")
            .cast("long")
            .alias("jaccard_x1000"),
        )
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """``(node, depth)``: minimum directed hop count from the seed set,
    for every node reachable within ``max_hops`` — the crawl-frontier
    depth a BFS crawler assigns when expanding from its seed list
    (the frontier-prioritization twin of :func:`pagerank`).

    FRONTIER iteration, not dense relaxation: each round joins only the
    nodes settled LAST round against the edge table, so round ``h``
    costs Θ(out-edges of the depth-(h−1) layer) — on a web graph the
    frontier shrinks once the reachable component is swept, while a
    dense Bellman-Ford round would re-scan every settled node × its
    edges for all ``max_hops`` rounds. Per round: one equi-join on src
    (edge table partitioning reused across rounds), one distinct
    (map-side-combinable — a hub reached by 10⁹ frontier nodes
    collapses before the shuffle), one anti-join against the settled
    set. Each new layer is cut (its lineage is referenced by the union
    AND the next round's join and anti-join), and the count that
    materializes it doubles as the convergence signal: an
    empty frontier ends the loop before ``max_hops``, so the fixed cap
    is a budget, not a cost.

    Depths are exact BFS distances (first discovery == minimum hop
    count, by induction on layers); ties between seed-set members
    settle at depth 0 like any BFS. Seeds not present in the graph
    still carry depth 0 (a crawler's seed list IS part of its
    frontier). Unreachable-within-budget nodes are absent from the
    output — at 10¹² pages the reachable slice is the point.
    """
    if max_hops < 0:
        raise ValueError("max_hops >= 0 required")
    # Every round joins the edge table, so its upstream (html parse →
    # href resolve → distinct) would otherwise re-execute per round
    # (measured: 9.6 s → 3.1 s at sf0.1, ~12 rounds).
    edges = cut(edges.select("src", "dst"))
    dist = cut(
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("depth"))
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        # the count() below is the ONE job per round: it materializes
        # the layer and is the fixpoint signal
        new = cut(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("depth"))
        )
        if new.count() == 0:
            break
        dist = dist.unionAll(new)
        frontier = new
    return dist


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 12) -> DataFrame:
    """``(node, deg)``: the k-core of the undirected simple graph —
    the maximal subgraph where every node keeps degree ≥ k — with each
    surviving node's CORE degree. The standard peeling fixpoint
    (Matula & Beck 1983): repeatedly drop nodes of degree < k and the
    edges touching them; spam/link-farm and community-density analysis
    live on this (a k-core survives only through mutual support).

    Round shape: one degree aggregation (map-side combinable) + two
    semi-equi-joins of the edge table against the ≤-node-sized keep
    set; the edge table is cut per round (it is referenced by the next
    round's degree agg AND both keep joins), and the ONE action per round is
    the surviving-edge count, which doubles as the convergence signal:
    peeling only removes, so an unchanged count IS the fixpoint (the
    star-contraction one-action rule). Early exit leaves the result
    identical to running all ``max_rounds`` (post-fixpoint rounds are
    no-ops) — which is what lets a FIXED-depth unrolled SQL oracle
    reproduce a data-dependent iteration count exactly.

    At 10^12 edges: every join is key-partitioned (no broadcast of
    anything O(nodes)); rounds are bounded by ``max_rounds``, and real
    web graphs peel in O(10) rounds for small k because removals
    cascade geometrically."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    und = cut(
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    n_edges = und.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("_d"))
        )
        keep = deg.where(F.col("_d") >= int(k)).select("node")
        und = cut(
            und.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
        n2 = und.count()
        if n2 == n_edges:
            break
        n_edges = n2
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def random_walks(
    edges: DataFrame,
    depth: int = 3,
    salt: str = "rw",
) -> DataFrame:
    """``(start, step, node)``: one DETERMINISTIC fixed-depth walk from
    every graph node — the DeepWalk/node2vec walk-corpus generator
    (Perozzi et al. 2014; public method) with the coin flips replaced
    by portable hash arithmetic so the corpus replays bit-identically
    on any engine and partitioning.

    Step rule: from node ``v`` at step ``t`` of the walk started at
    ``s``, move to out-neighbor ``idx = h48(salt:s:t) mod outdeg(v)``
    under the deterministic neighbor order (rank by dst). Walks that
    reach a node with no out-edges truncate there (the dead-end rule —
    rows simply stop appearing for later steps).

    Scale shape — hub-proof by construction: each step is TWO 1:1
    equi-joins, never a fan-out: frontier ⋈ degree table (one row per
    node) computes the wanted index, then (node, idx) ⋈ the ranked
    neighbor table matches exactly one row — a 10⁶-out-link hub costs
    the hash-join probe one lookup per visiting walk, not a deg-wide
    expansion. The ranked/degree tables are built once and cut
    (referenced ``depth`` times), as is each step's frontier
    (referenced by the union AND the next step). The neighbor-rank
    window is per-src (straggler bounded by max outdegree, the asof
    trade).
    """
    if depth < 0:
        raise ValueError("depth >= 0 required")
    rw = Window.partitionBy("src").orderBy("dst")
    ranked = cut(
        edges.select("src", "dst")
        .distinct()
        .select(
            "src",
            "dst",
            (F.row_number().over(rw) - 1).cast("long").alias("idx"),
        )
    )
    degs = cut(
        ranked.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = cut(nodes.select(
        F.col("node").alias("start"),
        F.lit(0).cast("long").alias("step"),
        "node",
    ))
    out = cur
    for t in range(1, depth + 1):
        # fresh per-step aliases (cuts keep attribute ids): re-joining
        # `ranked` would otherwise be ambiguous against its own frontier
        c, d, r = cur.alias("c"), degs.alias("d"), ranked.alias("r")
        wanted = c.join(d, F.col("c.node") == F.col("d.src")).select(
            F.col("c.start").alias("start"),
            F.col("c.node").alias("node"),
            F.pmod(
                h48(F.concat_ws(":", F.lit(salt), "c.start", F.lit(t))),
                F.col("d.deg"),
            ).alias("idx"),
        )
        cur = cut(
            wanted.alias("w")
            .join(
                r,
                (F.col("w.node") == F.col("r.src"))
                & (F.col("w.idx") == F.col("r.idx")),
            )
            .select(
                F.col("w.start").alias("start"),
                F.lit(t).cast("long").alias("step"),
                F.col("r.dst").alias("node"),
            )
        )
        out = out.unionByName(cur)
    return out
