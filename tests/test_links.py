"""Link-graph face: anchor parsing, resolution, edges, degrees, anchor
aggregation, fixed-point PageRank (operators/links + the linked-pages
fixture)."""

import pytest
from pyspark.sql import functions as F

from servico_ocr_spark.corpus import linked_pages_from_documents
from servico_ocr_spark.operators import (
    anchor_text_agg,
    extract_links,
    link_degrees,
    link_edges,
    pagerank,
    word_adjacency_edges,
)

SF = "/root/testdata/sf0.001"


def _links(spark, rows):
    df = spark.createDataFrame(rows, "url string, html string")
    return extract_links(df)


def test_extract_links_href_forms_and_resolution(spark):
    base = "https://ex.test/a/b/page.html"
    rows = [
        (base,
         '<a href="/root">r</a>'
         "<a href='https://other.test/x'>abs</a>"
         "<a href=plain.html>u</a>"
         '<a href="//cdn.test/i">pr</a>'
         '<a href="sub/doc#frag">pf</a>'
         '<a href="#only">drop1</a>'
         '<a href="">drop2</a>'
         "<a name=anchor>drop3</a>"
         '<a rel="nofollow" href="/nf">nf</a>'
         '<a href="mailto:a@b.c">m</a>'
         '<a href="/ws">  two\n words  </a>'),
    ]
    got = {
        (r["dst"], r["anchor"], r["nofollow"])
        for r in _links(spark, rows).collect()
    }
    assert got == {
        ("https://ex.test/root", "r", 0),
        ("https://other.test/x", "abs", 0),
        ("https://ex.test/a/b/plain.html", "u", 0),
        ("https://cdn.test/i", "pr", 0),
        ("https://ex.test/a/b/sub/doc", "pf", 0),
        ("https://ex.test/nf", "nf", 1),
        ("mailto:a@b.c", "m", 0),
        ("https://ex.test/ws", "two words", 0),
    }


def test_extract_links_binary_html_and_rootless_base(spark):
    # binary html column (the input-hint page shape) and a base url with
    # no path: path-relative resolves against "/"
    df = spark.createDataFrame(
        [("https://ex.test", bytearray(b'<a href="x">b</a>'))],
        "url string, html binary",
    )
    [r] = extract_links(df).collect()
    assert r["dst"] == "https://ex.test/x"


def test_link_edges_filters_and_dedup(spark):
    rows = [
        ("https://s.test/p",
         '<a href="/p">self</a>'
         '<a href="/q">one</a><a href="/q">one again</a>'
         '<a rel=nofollow href="/r">nf</a>'
         '<a href="mailto:x@y.z">m</a>'
         '<a href="ftp://f.test/z">ftp</a>'),
    ]
    edges = link_edges(_links(spark, rows)).collect()
    assert {(e["src"], e["dst"]) for e in edges} == {
        ("https://s.test/p", "https://s.test/q")
    }


def test_link_degrees_union_agg(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in link_degrees(edges).collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


def test_anchor_text_agg_sorted_distinct_and_cap(spark):
    rows = [
        ("https://s.test/1",
         '<a href="/t">beta</a><a href="/t">alpha</a>'
         '<a href="/t">beta</a><a href="/t"></a>'),
        ("https://s.test/2", '<a href="/t">gamma</a>'),
    ]
    [r] = anchor_text_agg(_links(spark, rows)).collect()
    # empty anchor excluded from n_links AND the text set
    assert (r["n_links"], r["n_anchors"]) == (4, 3)
    assert r["anchors"] == "alpha|beta|gamma"
    [rc] = anchor_text_agg(_links(spark, rows), max_anchors=2).collect()
    assert rc["anchors"] == "alpha|beta"
    assert rc["n_anchors"] == 3  # exact count survives the cap


def _pagerank_reference(edges, iterations, scale, damping):
    """Plain-python fixed-point twin (truncating integer division)."""
    from collections import Counter, defaultdict

    out_deg = Counter(s for s, _ in edges)
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    base = scale * (100 - damping) // 100
    rank = {n: scale for n in nodes}
    for _ in range(iterations):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += rank[s] // out_deg[s]
        rank = {n: base + (damping * contrib[n]) // 100 for n in nodes}
    return rank


def test_pagerank_matches_python_reference_exactly(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 3):
        want = _pagerank_reference(edges, iters, 1_000_000, 85)
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iterations=iters).collect()}
        assert got == want, iters
    # dangling node d keeps only the base mass after round 1
    assert got["d"] == 150000


def test_linked_fixture_every_rule_binds(spark):
    """Every adversarial branch of linked_pages_from_documents must have
    live rows at sf0.001 (FIXTURES.md), and the graph-level filters must
    each drop something."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    links = extract_links(linked_pages_from_documents(docs)).cache()
    try:
        n_docs = docs.count()
        by_anchor = dict(
            links.groupBy(
                F.regexp_replace("anchor", "[0-9 ]+$", "").alias("a")
            ).count().collect()
        )
        # hub + parent links on every page
        for a in ("home", "tags", "search"):
            assert by_anchor[a] == n_docs
        assert by_anchor["via"] == n_docs and by_anchor["also"] == n_docs
        # each deterministic subset is non-empty
        for a in ("partner", "sponsored", "again", "plain", "rel",
                  "proto", "mail"):
            assert by_anchor.get(a, 0) > 0, a
        # nofollow flag only on the sponsored branch
        assert (
            links.where("nofollow = 1").select("anchor").distinct()
            .collect()[0][0] == "sponsored"
        )
        # self-loops exist pre-filter (doc 0's parents) and are dropped
        n_self = links.where("src = dst").count()
        assert n_self == 2
        edges = link_edges(links)
        assert edges.where("src = dst").count() == 0
        # duplicate 'again' edges collapse: follow/http/non-self link
        # occurrences strictly exceed distinct edges
        from servico_ocr_spark.operators.links import _follow_http
        assert _follow_http(links).count() > edges.count()
        # mailto dropped from edges
        assert edges.where("dst like 'mailto:%'").count() == 0
    finally:
        links.unpersist()


# ---------------------------------------------------------------------------
# differential: Spark regex parse vs stdlib html.parser + urllib urljoin
# ---------------------------------------------------------------------------

def _ref_links(src: str, page: str):
    """Stdlib reference for extract_links on the operator's documented
    domain (flat terminated anchors, no '&'/'>' in attr values or anchor
    text, no dot-segment or query-only hrefs): html.parser attr parsing +
    urllib.parse.urljoin resolution."""
    import re as _re
    from html.parser import HTMLParser
    from urllib.parse import urljoin

    out = []

    class P(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self._pending = None
            self._buf = []

        def handle_starttag(self, tag, attrs):
            if tag == "a":
                href = dict(attrs).get("href") or ""
                nf = int("nofollow" in self.get_starttag_text().lower())
                self._pending = (href, nf)
                self._buf = []

        def handle_data(self, data):
            if self._pending is not None:
                self._buf.append(data)

        def handle_endtag(self, tag):
            if tag == "a" and self._pending is not None:
                href, nf = self._pending
                h = href.split("#", 1)[0]
                if h:
                    anchor = _re.sub(
                        r"\s+", " ", "".join(self._buf)
                    ).strip()
                    out.append((urljoin(src, h), anchor, nf))
                self._pending = None

    P().feed(page)
    return out


_BASES = [
    "https://ex.test",
    "https://ex.test/",
    "https://ex.test/d/page.html",
    "http://ex.test:8080/a/b/",
    "https://ex.test/p?x=1",
]
_HREFS = [
    "https://abs.test/x", "http://abs.test/y?q=2", "//cdn.test/z",
    "/rooted", "/r/2?a=1", "rel.html", "sub/page", "mailto:a@b.c",
    "x#frag", "#only", "",
]
_ANCHORS = ["", "click here", "  two\twords ", "UPPER x", "plain"]
_EXTRA_ATTRS = ["", ' class="c1"', " rel='nofollow'", " id=z",
                ' rel="NOFOLLOW me"', " data-k='v'"]
_NOISE = ["<p>t</p>", "plain text ", '<div class="x">', "</div>",
          "<br/>", "<area href=/not-an-anchor>", "<b>bold</b>"]


def _fuzz_anchor(rng) -> str:
    href = rng.choice(_HREFS)
    form = rng.randrange(4)
    if form == 0:
        attr = f'href="{href}"'
    elif form == 1:
        attr = f"href='{href}'"
    elif form == 2 and href:
        attr = f"href={href}"  # unquoted (non-empty only)
    else:
        attr = rng.choice([f'href = "{href}"', f'HREF="{href}"'])
    pre, post = rng.choice(_EXTRA_ATTRS), rng.choice(_EXTRA_ATTRS)
    tag = rng.choice(["a", "A"])
    sp = rng.choice([" ", "  ", "\n"])
    return (f"<{tag}{sp}{pre} {attr}{post}>"
            f"{rng.choice(_ANCHORS)}</{tag}>")


def test_extract_links_matches_stdlib_reference_fuzz(spark):
    """On the documented well-formed domain the Spark regex parse is
    link-for-link identical to stdlib attr parsing + urljoin — across
    attr-value forms, attribute order/spacing/case, fragments, every
    resolution arm, and nofollow detection. 5k seeded pages were run at
    development time; this keeps a 400-page regression slice."""
    import random
    from collections import Counter

    rows, want = [], Counter()
    for i in range(400):
        rng = random.Random(7_000_000 + i)
        src = rng.choice(_BASES)
        parts = []
        for _ in range(rng.randint(1, 6)):
            parts.append(rng.choice(_NOISE))
            parts.append(_fuzz_anchor(rng))
        page = "".join(parts)
        rows.append((src, page))
        for dst, anchor, nf in _ref_links(src, page):
            want[(src, dst, anchor, nf)] += 1

    got = Counter(
        (r["src"], r["dst"], r["anchor"], r["nofollow"])
        for r in extract_links(
            spark.createDataFrame(rows, "url string, html string")
        ).collect()
    )
    assert got == want


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in C(3,2)=3 triangles), one pendant node (0), a
    directed two-way edge (collapses to one undirected edge), and a
    self-loop (dropped)."""
    from servico_ocr_spark.operators import triangle_counts

    k4 = ["a", "b", "c", "d"]
    edges = [(x, y) for x in k4 for y in k4 if x < y]
    edges += [("d", "e")]          # pendant: degree 1, no triangle
    edges += [("b", "a")]          # reverse duplicate of (a,b)
    edges += [("e", "e")]          # self-loop
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangle_counts_partitioning_independence(spark):
    from servico_ocr_spark.operators import triangle_counts

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    ref = sorted(map(tuple, triangle_counts(df).collect()))
    for n in (1, 13):
        got = sorted(
            map(tuple, triangle_counts(df.repartition(n)).collect())
        )
        assert got == ref


def _seeded_pagerank_reference(edges, seeds, iterations, scale, damping):
    """Personalized twin: base/init mass only on in-graph seeds."""
    from collections import Counter, defaultdict

    out_deg = Counter(s for s, _ in edges)
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    base = scale * (100 - damping) // 100
    rank = {n: scale if n in seeds else 0 for n in nodes}
    for _ in range(iterations):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += rank[s] // out_deg[s]
        rank = {
            n: (base if n in seeds else 0) + (damping * contrib[n]) // 100
            for n in nodes
        }
    return rank


def test_seeded_pagerank_matches_python_reference_exactly(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    # off-graph seed 'zzz' must contribute nothing and not appear
    sdf = spark.createDataFrame(
        [("a",), ("zzz",)], "node string"
    )
    for iters in (1, 3):
        want = _seeded_pagerank_reference(
            edges, {"a"}, iters, 1_000_000, 85
        )
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iterations=iters,
                                 seeds=sdf).collect()}
        assert got == want, iters
        assert "zzz" not in got
    # mass is seed-biased: unreached-from-seed node d holds rank 0
    assert got["d"] == 0 and got["a"] > 0
    # duplicate seeds are idempotent
    sdf2 = spark.createDataFrame([("a",), ("a",)], "node string")
    got2 = {r["node"]: r["rank"]
            for r in pagerank(df, iterations=3, seeds=sdf2).collect()}
    assert got2 == got


_PR_EDGE_CASES = [
    ("a", "b"), ("a", "b"),  # duplicated edge: out_deg counts it twice
    ("a", "a"),  # self-loop
    ("b", "c"), ("c", "a"),
    ("src", "a"),  # source-only node
    ("c", "sink"),  # sink-only node (out_deg 0)
]


@pytest.mark.parametrize("iters", [0, 1, 4])
def test_pagerank_edge_cases_match_python_references(spark, iters):
    """Both variants against their Python twins on the graph shapes the
    union-aggregate round must keep: a node that only sends or only
    receives still has a row every round, and ``iterations=0`` returns
    the start ranks. The seed set holds an off-graph node."""
    df = spark.createDataFrame(_PR_EDGE_CASES, "src string, dst string")
    want = _pagerank_reference(_PR_EDGE_CASES, iters, 1_000_000, 85)
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iterations=iters).collect()}
    assert got == want
    seeds = {"a", "sink", "zzz"}
    sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
    want_s = _seeded_pagerank_reference(
        _PR_EDGE_CASES, seeds, iters, 1_000_000, 85
    )
    got_s = {r["node"]: r["rank"]
             for r in pagerank(df, iterations=iters, seeds=sdf).collect()}
    assert got_s == want_s
    assert set(got_s) == set(got) == {"a", "b", "c", "src", "sink"}
    if iters == 0:
        assert set(got.values()) == {1_000_000}
        assert got_s == {n: 1_000_000 if n in seeds else 0 for n in got}


def test_word_adjacency_edges_symmetric_distinct_no_selfloop(spark):
    docs = spark.createDataFrame(
        [(1, "a b b c a b"), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    got = {(r["src"], r["dst"])
           for r in word_adjacency_edges(docs).collect()}
    # bigrams: (a,b) (b,b)->dropped (b,c) (c,a) (a,b)->dup, symmetrized
    want = {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
            ("c", "a"), ("a", "c")}
    assert got == want


def _hits_reference(edges, iterations, scale):
    """Plain-python fixed-point twin of links.hits_scores (truncating
    integer division, max-normalization per half round)."""
    from collections import defaultdict

    nodes = {s for s, _ in edges} | {d for _, d in edges}

    def half(frm, key_idx, out_idx):
        raw = defaultdict(int)
        for e in edges:
            s = frm.get(e[key_idx])
            if s is not None:
                raw[e[out_idx]] += s
        mx = max(raw.values(), default=0)
        norm = max(mx // scale, 1)
        return {n: v // norm for n, v in raw.items()}

    hub = {n: scale for n in nodes}
    for _ in range(iterations):
        auth = half(hub, 0, 1)
        hub = half(auth, 1, 0)
    return {n: (hub.get(n, 0), auth.get(n, 0)) for n in nodes}


def test_hits_matches_python_reference_exactly(spark):
    from servico_ocr_spark.operators import hits_scores

    # a bipartite-ish graph with a pure hub (d: out-only), a pure
    # authority (c: in-only), and a cycle a<->b
    edges = [("a", "b"), ("b", "a"), ("a", "c"), ("b", "c"), ("d", "a"),
             ("d", "b"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 3):
        want = _hits_reference(edges, iters, 1_000_000)
        got = {r["node"]: (r["hub"], r["auth"])
               for r in hits_scores(df, iterations=iters).collect()}
        assert got == want, iters
    # pure hub d has zero authority; pure authority c has zero hub
    assert got["d"][1] == 0 and got["c"][0] == 0
    # both are restored as rows (zero-degree-side restoration)
    assert got["d"][0] > 0 and got["c"][1] > 0


def test_hits_partitioning_independence(spark):
    from servico_ocr_spark.operators import hits_scores

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)
             if i != (i * 7 + 3) % 23]
    base = None
    for parts in (1, 7):
        df = spark.createDataFrame(
            edges, "src string, dst string"
        ).repartition(parts)
        got = sorted(
            (r["node"], r["hub"], r["auth"])
            for r in hits_scores(df, iterations=2).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _lpa_reference(edges, iterations):
    """Plain-python synchronous LPA twin: min-label tie-break, direction
    collapsed, self-loops dropped."""
    from collections import Counter, defaultdict

    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    nbr = defaultdict(set)
    for u, v in und:
        nbr[u].add(v)
        nbr[v].add(u)
    labels = {n: n for n in nbr}
    for _ in range(iterations):
        new = {}
        for n, ns in nbr.items():
            c = Counter(labels[m] for m in ns)
            mx = max(c.values())
            new[n] = min(l for l, k in c.items() if k == mx)
        labels = new
    return labels


def test_label_propagation_matches_python_reference(spark):
    from servico_ocr_spark.operators import label_propagation

    # two triangles + a bridge, with duplicate/reversed/self-loop noise
    edges = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
             ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
             ("a3", "b1"), ("a2", "a1"), ("a1", "a1")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 4):
        want = _lpa_reference(edges, iters)
        got = {r["node"]: r["label"]
               for r in label_propagation(df, iterations=iters).collect()}
        assert got == want, iters


def test_label_propagation_two_cliques_two_communities(spark):
    from servico_ocr_spark.operators import label_propagation

    cl1 = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    cl2 = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = cl1 + cl2 + [("a3", "b0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iterations=4).collect()}
    assert got == _lpa_reference(edges, 4)
    # the bridge does not merge the cliques: exactly two communities,
    # each labeled by its own min member
    assert all(got[f"a{i}"] == "a0" for i in range(4))
    assert all(got[f"b{i}"] == "b0" for i in range(4))


def test_label_propagation_partitioning_independence(spark):
    from servico_ocr_spark.operators import label_propagation

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)
             if i != (i * 7 + 3) % 23]
    base = None
    for parts in (1, 7):
        df = spark.createDataFrame(
            edges, "src string, dst string"
        ).repartition(parts)
        got = sorted(
            (r["node"], r["label"])
            for r in label_propagation(df, iterations=3).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base


# ---------------------------------------------------------------------------
# co-citation pairs
# ---------------------------------------------------------------------------


def test_cocitation_known_values_and_cap(spark):
    from servico_ocr_spark.operators import cocitation_pairs

    edges = [("p", "t1"), ("p", "t2"), ("p", "hub"),
             ("q", "t1"), ("q", "t2"), ("q", "t3"), ("q", "hub"),
             ("r", "t3"), ("r", "hub"),
             ("s", "hub")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["a"], r["b"]): (r["n_common"], r["deg_a"], r["deg_b"],
                              r["jaccard_x1000"])
           for r in cocitation_pairs(df, max_in_degree=3).collect()}
    # hub (in-degree 4 > cap 3) is dropped BEFORE pairing: s vanishes
    # entirely, and degrees count only the capped edge set
    assert out == {
        ("p", "q"): (2, 2, 3, 2000 // 3),   # J = 2/(2+3-2)
        ("q", "r"): (1, 3, 1, 1000 // 3),   # J = 1/(3+1-1)
    }
    out2 = {(r["a"], r["b"])
            for r in cocitation_pairs(df, max_in_degree=3,
                                      min_common=2).collect()}
    assert out2 == {("p", "q")}


def test_cocitation_matches_python_reference(spark):
    from itertools import combinations

    from servico_ocr_spark.operators import cocitation_pairs

    edges = sorted({(f"s{i % 7}", f"t{(i * 5 + 2) % 11}")
                    for i in range(60)})
    cap = 4
    ind = {}
    for _, d in edges:
        ind[d] = ind.get(d, 0) + 1
    kept = [(s, d) for s, d in edges if ind[d] <= cap]
    outs = {}
    for s, d in kept:
        outs.setdefault(s, set()).add(d)
    want = {}
    for a, b in combinations(sorted(outs), 2):
        n = len(outs[a] & outs[b])
        if n >= 1:
            da, db = len(outs[a]), len(outs[b])
            want[(a, b)] = (n, da, db, n * 1000 // (da + db - n))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]): (r["n_common"], r["deg_a"], r["deg_b"],
                              r["jaccard_x1000"])
           for r in cocitation_pairs(df, max_in_degree=cap).collect()}
    assert got == want


def _py_kcore(edges, k):
    from collections import Counter

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = Counter()
        for u, v in und:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= k}
        e2 = {(u, v) for u, v in und if u in keep and v in keep}
        if e2 == und:
            break
        und = e2
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def test_kcore_matches_python_peeling(spark):
    """Clique + pendant chain: the chain peels away over several
    cascading rounds, the clique survives; duplicate/reversed/self
    edges are collapsed first."""
    from servico_ocr_spark.operators import kcore

    clique = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    chain = [("c0", "p0")] + [(f"p{i}", f"p{i+1}") for i in range(6)]
    noise = [("c1", "c0"), ("c0", "c0"), ("c0", "c1")]  # dup/self/rev
    edges = clique + chain + noise
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (2, 3, 4, 5):
        got = {r["node"]: r["deg"] for r in kcore(df, k=k).collect()}
        assert got == _py_kcore(edges, k), f"k={k}"
    # k=4: exactly the clique, every node at degree 4
    got4 = {r["node"]: r["deg"] for r in kcore(df, k=4).collect()}
    assert got4 == {f"c{i}": 4 for i in range(5)}
    # k=5: empty graph, empty result
    assert kcore(df, k=5).count() == 0


def test_kcore_early_exit_equals_full_rounds(spark):
    """Post-fixpoint rounds are no-ops: max_rounds far beyond
    convergence gives the identical result (the property that lets the
    fixed-depth SQL oracle mirror a data-dependent iteration)."""
    from servico_ocr_spark.operators import kcore

    edges = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]  # 6-cycle
    edges += [("n0", "x"), ("x", "y")]  # pendant path: peels in 2 rounds
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted((r["node"], r["deg"]) for r in kcore(df, k=2, max_rounds=2).collect())
    b = sorted((r["node"], r["deg"]) for r in kcore(df, k=2, max_rounds=30).collect())
    assert a == b == [(f"n{i}", 2) for i in range(6)]


# ---------------------------------------------------------------------------
# deterministic random walks (DeepWalk-style corpus generation)
# ---------------------------------------------------------------------------

def _py_walks(edges, depth=3, salt="rw"):
    import hashlib

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    adj = {}
    for s, d in set(edges):
        adj.setdefault(s, []).append(d)
    for v in adj:
        adj[v].sort()
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    rows = set()
    for start in nodes:
        cur = start
        rows.add((start, 0, start))
        for t in range(1, depth + 1):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = nbrs[h48(f"{salt}:{start}:{t}") % len(nbrs)]
            rows.add((start, t, cur))
    return rows


def test_random_walks_matches_python_reference(spark):
    from servico_ocr_spark.operators import random_walks

    edges = [(f"n{i}", f"n{(i * j + 3) % 17}")
             for i in range(17) for j in range(1 + i % 4)]
    edges += [("n3", "leaf"), ("n5", "leaf")]  # dead end: no out-edges
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["start"], r["step"], r["node"])
           for r in random_walks(df, depth=3).collect()}
    want = _py_walks(edges, depth=3)
    assert got == want
    # dead-end truncation is live: the walk from 'leaf' has only step 0
    assert {s for st, s, _ in got if st == "leaf"} == {0}
    # each walk emits at most one node per step (1:1 joins, no fan-out)
    from collections import Counter
    c = Counter((st, s) for st, s, _ in got)
    assert max(c.values()) == 1


def test_random_walks_partitioning_independent(spark):
    from servico_ocr_spark.operators import random_walks

    edges = [(f"u{i}", f"u{(i * 5 + j) % 23}")
             for i in range(23) for j in range(1 + i % 3)]
    base = None
    for parts in (1, 7):
        df = spark.createDataFrame(
            edges, "src string, dst string").repartition(parts)
        got = sorted((r["start"], r["step"], r["node"])
                     for r in random_walks(df, depth=4).collect())
        if base is None:
            base = got
        else:
            assert got == base


def test_digraph_reciprocity_semantics_and_no_join(spark):
    from servico_ocr_spark.operators import digraph_reciprocity

    edges = spark.createDataFrame(
        [
            # balanced mutual pair (weight 3 each way)
            ("a", "b", 3), ("b", "a", 3),
            # unbalanced mutual pair: 4 forward, 1 back
            ("a", "c", 4), ("c", "a", 1),
            # one-way pair
            ("b", "c", 7),
            # self-loop: excluded entirely
            ("c", "c", 9),
        ],
        "src string, dst string, w long",
    )
    rows = {(r["a"], r["b"]): r for r in digraph_reciprocity(
        edges, weight_col="w").collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = rows[("a", "b")]
    assert (ab["w_ab"], ab["w_ba"], ab["recip_pp10k"]) == (3, 3, 10000)
    ac = rows[("a", "c")]
    assert (ac["w_ab"], ac["w_ba"], ac["recip_pp10k"]) == (4, 1, 4000)
    bc = rows[("b", "c")]
    assert (bc["w_ab"], bc["w_ba"], bc["recip_pp10k"]) == (7, 0, 0)

    # unweighted: each edge counts 1
    un = {(r["a"], r["b"]): r for r in digraph_reciprocity(
        edges).collect()}
    assert un[("a", "c")]["w_ab"] == 1 and un[("a", "c")]["w_ba"] == 1
    assert un[("a", "c")]["recip_pp10k"] == 10000

    # the canonical-fold shape has NO join node — reciprocity is one agg
    plan = digraph_reciprocity(edges, weight_col="w")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan

    # partitioning independence
    r13 = {(r["a"], r["b"]): (r["w_ab"], r["w_ba"], r["recip_pp10k"])
           for r in digraph_reciprocity(
               edges.repartition(13), weight_col="w").collect()}
    assert r13 == {k: (v["w_ab"], v["w_ba"], v["recip_pp10k"])
                   for k, v in rows.items()}
