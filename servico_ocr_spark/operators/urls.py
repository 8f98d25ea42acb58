"""URL canonicalization, URL-level dedup, and per-domain corpus stats.

The first dedup stage of every Common-Crawl-style pipeline runs BEFORE
any content hashing: the same page is crawled under `http://` and
`https://`, with and without `www.`, with default ports spelled out,
with tracking parameters (`utm_*`, `fbclid`, ...) appended by referrers,
with query parameters in referrer-dependent order, and with fragments.
Canonicalizing urls first collapses those families so the (much more
expensive) content-dedup operators downstream (`operators/dedup`) see
one representative per page identity.

Canonical form produced here (documented, deterministic, total):

1. fragment (`#...`) stripped;
2. scheme and host lowercased (path case PRESERVED — paths are
   case-sensitive on real servers);
3. default ports stripped (`:80` for http, `:443` for https; any other
   port is identity-relevant and kept);
4. tracking query parameters dropped (`utm_*`, `fbclid`, `gclid`,
   `msclkid`, `ref`), remaining parameters sorted bytewise and re-joined
   (referrer-dependent parameter order is not page identity);
5. empty path normalized to `/`;
6. a string with no `scheme://` prefix is passed through unchanged
   (opaque id) with empty host/domain — the operator is total, never
   raising on malformed input.

`registered_domain` is the last two host labels (`a.b.c.com` ->
`c.com`). A production system would consult the public-suffix list
(an external dataset, out of scope here) so `example.co.uk` groups
correctly; the two-label rule is the standard approximation and is
applied identically in the DuckDB oracle twin.

Scale shape: `canonicalize_urls` is a pure projection — zero shuffle,
whole-stage codegen throughout except the parameter filter/sort, which
is an array HOF over a <=10-element array (measured irrelevant at that
size; the posexplode alternative would ADD a shuffle to an otherwise
shuffle-free plan, the opposite of the CLAUDE.md HOF lesson's regime of
100+-element shingle arrays). `url_dedup` and `domain_stats` are each
ONE partial-aggregate-combinable hash aggregation over the projection —
the cheapest possible distributed shape, no joins, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.column import Column

from .common import cut

#: query parameters that never contribute to page identity
TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)="

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)"


def _canonical_parts(url: Column) -> tuple[Column, Column, Column]:
    """(scheme, host, rest) of the fragment-stripped url; '' scheme means
    the input had no ``scheme://`` prefix."""
    u = F.regexp_replace(url, "#.*", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _HOSTPORT_RE, 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    rest = F.regexp_replace(u, _HOSTPORT_RE.replace("([^/?]+)", "[^/?]*"), "")
    return scheme, host, rest


def canonical_url(url: Column) -> Column:
    """Canonical form of ``url`` (see module docstring for the rules)."""
    u = F.regexp_replace(url, "#.*", "")
    scheme, host, rest = _canonical_parts(url)
    path = F.split_part(rest, F.lit("?"), F.lit(1))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    canon_query = F.array_join(params, "&")
    return F.when(scheme == "", u).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(canon_query == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), canon_query)
            ),
        )
    )


def url_host(url: Column) -> Column:
    """Lowercased host (default port stripped); '' if no scheme."""
    _, host, _ = _canonical_parts(url)
    return host


def registered_domain(url: Column) -> Column:
    """Naive registered domain: last two labels of the host (port, if a
    non-default one survived, excluded)."""
    host = F.regexp_replace(url_host(url), ":[0-9]+$", "")
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url``, ``host``, ``registered_domain`` columns.

    Pure projection — the plan is scan -> project, no exchange."""
    u = F.col(url_col)
    return df.withColumns(
        {
            "canonical_url": canonical_url(u),
            "host": url_host(u),
            "registered_domain": registered_domain(u),
        }
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse url-identity families: one row per canonical url with the
    smallest ``id_col`` as the kept representative and the family size.

    One hash aggregation (map-side combinable); at 10^12 urls the reduce
    key is the canonical url string itself — no digest truncation, so no
    birthday collisions can merge distinct pages (the same rule as
    `webtext.drop_repeated_paragraphs`)."""
    return (
        canonicalize_urls(df, url_col)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def latest_crawl(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse recrawls: one row per canonical url keeping the FRESHEST
    crawl (max ``ts_col``; ties broken by smallest ``id_col``), plus the
    recrawl count — the Common-Crawl "latest snapshot wins" rule applied
    across crawl batches (the input table's ``warc_ts`` column exists for
    exactly this).

    Scale shape: one map-side-combinable hash aggregation — ``max_by``
    over the (ts, -id) ordering struct resolves the representative inside
    the partial aggregate, so unlike the window formulation no per-url
    row group is ever materialized and a hot url (10^6 recrawls of a
    homepage) costs its combiner nothing but a comparison. Same
    no-digest reduce key rule as :func:`url_dedup`."""
    c = canonicalize_urls(df, url_col)
    # (ts asc, -id asc) max == freshest ts, then smallest id — struct
    # comparison is lexicographic and id uniqueness makes it total
    ord_key = F.struct(
        F.col(ts_col).alias("ts"), (-F.col(id_col)).alias("neg_id")
    )
    return c.groupBy("canonical_url").agg(
        F.max_by(F.col(id_col), ord_key).alias("keep_id"),
        F.max(ts_col).alias("last_crawl_ts"),
        F.count("*").cast("long").alias("n_crawls"),
    )


def domain_cap(
    df: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Keep at most ``k`` documents per registered domain, deterministic
    (lowest ``id_col`` first) — the RefinedWeb/C4-style per-domain cap
    that stops template farms from dominating a training corpus.

    Scale shape: the naive single window over the domain key makes a
    mega-domain (10^9 docs of one blog platform) a one-task straggler.
    With ``salt_buckets = B`` the cap runs in two stages: a local top-k
    per (domain, salt-of-id) bucket — same shuffle width, B-way bounded
    partitions — then the exact top-k window over the <= B*k survivors
    per domain. Every global top-k row is its bucket's top-k, so the
    two-stage result is exactly the one-stage result (tested); the
    straggler bound drops from max-domain-size to ~max-domain-size/B.
    Default ``None`` keeps the single-window plan (right at small B*k
    vs corpus size ratios is not worth two shuffles)."""
    from pyspark.sql import Window

    c = canonicalize_urls(df, url_col)
    if salt_buckets:
        # full-entropy salt (id hash), NOT a coarse modulus — see the
        # balls-into-bins repartition lesson (CLAUDE.md)
        salted = c.withColumn(
            "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
        )
        w_local = Window.partitionBy("registered_domain", "_salt").orderBy(
            id_col
        )
        c = (
            salted.withColumn("_rn", F.row_number().over(w_local))
            .where(F.col("_rn") <= k)
            .drop("_rn", "_salt")
        )
    w = Window.partitionBy("registered_domain").orderBy(id_col)
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def crawl_delta(
    old_df: DataFrame,
    new_df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Snapshot diff between two crawl batches: one row per canonical url
    with a status column — ``added`` (url only in the new crawl),
    ``removed`` (only in the old), ``changed`` (present in both, content
    hash differs), ``unchanged``. This is the incremental-ingest primitive
    a Common-Crawl-style pipeline runs between monthly snapshots so that
    downstream extraction / dedup only reprocesses the ``added`` +
    ``changed`` slice instead of the full 10^12-url corpus.

    Each side is first collapsed to one deterministic representative per
    canonical url (smallest ``id_col``; its content hashed with FULL
    128-bit md5 — a truncated digest as the change detector would let
    birthday collisions mask real changes at corpus scale). ``old_id`` /
    ``new_id`` are the representatives, ``-1`` where the side is absent
    (a sentinel rather than NULL so the integer column survives
    Arrow/pandas round-trips as int64, per the driver contract).

    Scale shape: one map-side-combinable hash aggregation per side, then
    a single full-outer equi join on the canonical url string. Both aggs
    hash-partition their output BY THE JOIN KEY, so the join consumes the
    aggregation partitioning without a further exchange (SMJ/shuffled-hash
    over already-partitioned children; AQE handles a skewed mega-family).
    No windows, no digest join keys, nothing per-url beyond O(1)."""

    def side(df: DataFrame, prefix: str) -> DataFrame:
        c = canonicalize_urls(df, url_col)
        return c.groupBy("canonical_url").agg(
            F.min(id_col).alias(f"{prefix}_id"),
            F.min_by(F.md5(F.col(content_col).cast("binary")), F.col(id_col))
            .alias(f"{prefix}_h"),
        )

    o = side(old_df, "old")
    n = side(new_df, "new")
    joined = o.join(n, "canonical_url", "full_outer")
    status = (
        F.when(F.col("old_id").isNull(), F.lit("added"))
        .when(F.col("new_id").isNull(), F.lit("removed"))
        .when(F.col("old_h") != F.col("new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        "canonical_url",
        status.alias("status"),
        F.coalesce("old_id", F.lit(-1)).cast("long").alias("old_id"),
        F.coalesce("new_id", F.lit(-1)).cast("long").alias("new_id"),
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-registered-domain corpus shape: doc count, distinct hosts,
    distinct canonical urls, and the url-duplication rate in ppm
    (integer outputs only, per the driver contract).

    Domain-level statistics drive the crawl-corpus curation decisions
    (per-domain caps, spam-domain cuts) that C4/RefinedWeb-style
    pipelines apply before content filtering."""
    c = canonicalize_urls(df, url_col)
    n_docs = F.count("*").cast("long")
    n_canonical = F.count_distinct("canonical_url").cast("long")
    return c.groupBy("registered_domain").agg(
        n_docs.alias("n_docs"),
        F.count_distinct("host").cast("long").alias("n_hosts"),
        n_canonical.alias("n_canonical"),
        F.floor((n_docs - n_canonical) * 1000000 / n_docs)
        .cast("long")
        .alias("dup_ppm"),
    )


def crawl_schedule(
    df: DataFrame,
    rate_per_wave: int = 4,
    url_col: str = "url",
    id_col: str = "doc_id",
    buckets: int = 16,
    salt: str = "sched",
    two_stage: bool = True,
) -> DataFrame:
    """``(host, doc_id, slot, wave)``: per-host politeness scheduling
    for a crawl frontier — ``slot`` enumerates each host's urls 0..n-1,
    ``wave = slot div rate_per_wave``; a crawler honoring
    ``rate_per_wave`` requests per host per pass fetches wave w's rows
    in pass w. Scheme-less rows (no host) are not schedulable and are
    dropped.

    The enumeration order is the portable 48-bit hash ``h48(salt:id)``
    (id tie-break) — the frontier randomization crawlers want anyway
    (id order would walk one site section at a time), and the property
    that makes DISTRIBUTED enumeration exact: with ``bucket`` = the
    hash's value range split into ``buckets`` equal slices, (bucket,
    hash) order IS hash order, so a local row_number per (host, bucket)
    plus per-host cumulative bucket offsets reproduces the global
    per-host rank without ever sorting a whole mega-host in one task —
    the straggler bound drops to ~host/buckets (the domain_cap salting
    economics, but EXACT for full enumeration, not just top-k; the
    offsets relation is hosts × buckets rows, broadcast back). Both
    window/groupBy key on (host, bucket), so AQE collapses the scan to
    one exchange. ``two_stage=False`` keeps the naive single per-host
    window (same output, unit-tested equal) for small frontiers."""
    from pyspark.sql import Window

    from .common import h48

    if rate_per_wave < 1:
        raise ValueError("rate_per_wave must be >= 1")
    if buckets < 1 or (1 << 48) % buckets:
        raise ValueError("buckets must be a power of two")
    t = (
        canonicalize_urls(df, url_col)
        .where(F.col("host") != "")
        .select(
            "host",
            F.col(id_col).alias("doc_id"),
            h48(
                F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
            ).alias("_h"),
        )
    )
    if two_stage:
        width = (1 << 48) // buckets
        # t feeds both the local window and the bucket-size aggregate;
        # their exchanges carry different payloads (partial-agg rows vs
        # raw), so ReuseExchange cannot collapse them — the cut
        # keeps the canonicalize projection + scan to ONE execution
        # (measured 2 scans / 0 reuse without it)
        t = cut(t.withColumn("_b", F.expr(f"_h div {width}L")))
        w_local = Window.partitionBy("host", "_b").orderBy("_h", "doc_id")
        sizes = t.groupBy("host", "_b").agg(F.count("*").alias("_c"))
        w_off = (
            Window.partitionBy("host")
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = sizes.select(
            "host",
            "_b",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
        slot = (
            F.col("_off") + F.row_number().over(w_local) - 1
        ).cast("long")
        out = t.join(F.broadcast(offs), ["host", "_b"]).select(
            "host", "doc_id", slot.alias("slot")
        )
    else:
        w = Window.partitionBy("host").orderBy("_h", "doc_id")
        out = t.select(
            "host",
            "doc_id",
            (F.row_number().over(w) - 1).cast("long").alias("slot"),
        )
    return out.select(
        "host",
        "doc_id",
        "slot",
        F.expr(f"slot div {int(rate_per_wave)}L").cast("long").alias("wave"),
    )


def url_path(canonical: Column) -> Column:
    """Canonical path (incl. leading '/', query stripped) of a
    ``canonical_url``; '' for scheme-less ids. Java/RE2 common-subset
    regex (the pii dialect rule)."""
    return F.regexp_extract(canonical, "^[a-z]+://[^/]+(/[^?]*)", 1)


def path_prefix_rollup(
    df: DataFrame,
    canonical_col: str = "canonical_url",
    host_col: str = "host",
    max_depth: int = 2,
) -> DataFrame:
    """``(host, prefix, depth, n_pages, n_urls)``: page mass per URL
    path-prefix subtree up to ``max_depth`` segments — the crawl-
    analytics directory rollup ("which sections of this site carry the
    pages / the duplicates"). A page at ``/a/b/c`` contributes to
    ``/a`` and ``/a/b`` (depth cap binding: deeper levels fold into
    their depth-``max_depth`` ancestor, which is what keeps the output
    bounded by hosts × branching^max_depth instead of distinct full
    paths). Pathless ids (urn:) and root-only pages have no segments
    and emit no row.

    Scale shape: pure projection → bounded ×``max_depth`` fan-out
    (explode AFTER the ``size ≥ 1`` filter — the descending-sequence
    footgun) → ONE combinable agg keyed by the prefix TEXT (no digest
    identity — the paragraph-dedup birthday rule). The distinct-url
    count rides the same agg via count_distinct; a 10^9-page prefix is
    a bounded linear straggler in its partial buffer only for the
    distinct term."""
    if int(max_depth) < 1:
        raise ValueError("max_depth must be >= 1")
    segs = F.filter(
        F.split(url_path(F.col(canonical_col)), "/"), lambda x: x != ""
    )
    base = df.select(
        F.col(host_col).alias("host"),
        F.col(canonical_col).alias("canonical_url"),
        segs.alias("segs"),
    ).where(F.size("segs") >= 1)
    fan = base.select(
        "host",
        "canonical_url",
        "segs",
        F.explode(
            F.sequence(
                F.lit(1).cast("long"),
                F.least(
                    F.size("segs").cast("long"),
                    F.lit(int(max_depth)).cast("long"),
                ),
            )
        ).alias("depth"),
    )
    prefix = F.concat(
        F.lit("/"),
        F.array_join(F.expr("slice(segs, 1, depth)"), "/"),
    )
    return fan.select(
        "host", prefix.alias("prefix"), "depth", "canonical_url"
    ).groupBy("host", "prefix", "depth").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.count_distinct("canonical_url").cast("long").alias("n_urls"),
    )


def robots_paths(
    pages: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, host, path)`` from canonical urls, cut: the one
    canonicalization a robots gate
    needs, shared by the rule side (a caller deriving rules from the
    crawl's own hosts) and the probe side of :func:`robots_match`.
    Uncut, the regex chain (plus any url synthesis upstream) inlined
    into the probe's per-page hash aggregate and the rules' host
    distinct — "Code grows beyond 64 KB", and the stage silently ran
    interpreted (with ``spark.sql.codegen.fallback=false`` the query
    failed to compile)."""
    return cut(canonicalize_urls(pages, url_col).select(
        F.col(id_col).alias("doc_id"),
        "host",
        url_path(F.col("canonical_url")).alias("path"),
    ))


def robots_match(paths: DataFrame, rules: DataFrame) -> DataFrame:
    """:func:`robots_disallow` over a :func:`robots_paths` frame."""
    r = rules.select(
        F.col("host").alias("r_host"), F.col("prefix").alias("prefix")
    )
    hit = F.when(
        F.col("prefix").isNotNull()
        & F.col("path").startswith(F.col("prefix")),
        1,
    ).otherwise(0)
    return (
        paths.join(
            F.broadcast(r), paths["host"] == r["r_host"], "left"
        )
        .groupBy("doc_id", "host", "path")
        .agg(
            F.sum(hit).cast("long").alias("n_rules_matched"),
        )
        .select(
            "doc_id",
            "host",
            "path",
            "n_rules_matched",
            F.when(F.col("n_rules_matched") > 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("blocked"),
        )
    )


def robots_disallow(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, host, path, n_rules_matched, blocked)``: robots.txt
    Disallow filtering — every page checked against its host's disallow
    PREFIX rules (``rules``: one (host, prefix) row per directive),
    ``blocked = 1`` iff any rule prefix-matches the canonical path.
    The crawl-pipeline gate that runs before fetch/ingest; prefix-only
    Disallow semantics (the original 1994 REP; Allow/longest-match
    layering composes on top by the same shape with a priority agg).

    Scale shape: canonicalization is a pure projection, cut once
    (:func:`robots_paths`); the rule check is one equi-join ON HOST
    with the rule table BROADCAST (robots corpora are ~10⁶ rows —
    dwarfed by any crawl frontier), LEFT so rule-less hosts pass
    through unblocked; per-key fan-out is bounded by rules-per-host (a
    site's directive count, dozens not millions); one
    map-side-combinable per-page aggregate collapses the matches.
    Pages without a parseable host (no scheme) are never blocked —
    robots applies to hosts."""
    return robots_match(robots_paths(pages, url_col, id_col), rules)


def scd2_intervals(
    snapshots: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    content_col: str = "content",
) -> DataFrame:
    """``(url, content, valid_from, valid_to, n_snaps)``: slowly-
    changing-dimension (SCD type 2) history from recrawl snapshots —
    consecutive same-content snapshots of a url collapse into one
    validity interval (gaps-and-islands), ``valid_to`` = the next
    interval's start timestamp, NULL for the currently-open interval.
    The lineage primitive behind "what did this page say when we
    trained on it": ``latest_crawl`` keeps only the winner,
    ``crawl_delta`` diffs two snapshots — this keeps the whole change
    history in bounded form (one row per CHANGE, not per crawl).

    Scale shape: ONE url-keyed window sort detects changes (lag) and
    numbers islands (running conditional sum) in the same pass; ONE
    combinable (url, island) agg collapses crawl volume to change
    volume; the valid_to lookup is a lead() window over the already-
    collapsed islands (≤ changes per url, not crawls). A 10^6-recrawl
    hot url pays one window sort — the inherent cost of ordered change
    detection (the latest_crawl max_by shape exists when only the
    winner matters); timestamps must be unique per (url, ts) upstream
    (dedupe recrawl ties first, e.g. via latest_crawl's ordering
    struct)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("ts")
    marked = snapshots.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(content_col).alias("content"),
    ).select(
        "url",
        "ts",
        "content",
        F.when(
            F.lag("content").over(w).isNull()
            | (F.lag("content").over(w) != F.col("content")),
            1,
        )
        .otherwise(0)
        .alias("_chg"),
    )
    islands = marked.withColumn(
        "_isl",
        F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).groupBy("url", "_isl").agg(
        # every row in an island carries the SAME content by
        # construction; min() keeps the agg order-free/deterministic
        F.min("content").alias("content"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_snaps"),
    )
    w_isl = Window.partitionBy("url").orderBy("_isl")
    return islands.select(
        "url",
        "content",
        "valid_from",
        F.lead("valid_from").over(w_isl).alias("valid_to"),
        "n_snaps",
    )


def apportion_budget(
    masses: DataFrame,
    budget: int,
    group_col: str = "host",
    mass_col: str = "n_pages",
) -> DataFrame:
    """``(group, mass, floor_q, quota)``: exact largest-remainder
    (Hamilton) apportionment of an integer ``budget`` over groups
    proportional to ``mass`` — the per-host crawl-budget / fetch-slot
    allocation that politeness scheduling consumes. Every group gets
    ``floor(budget·mass / total)``; the ``budget − Σfloor`` leftover
    slots go to the largest division remainders (ties broken by group
    ascending), so ``Σ quota = budget`` EXACTLY — no float shares, no
    rounding drift, bit-identical on any engine.

    Input is the already-aggregated per-group mass table (bounded by
    group cardinality — hosts, not pages). Scale shape: two 1-row
    broadcasts (total, Σfloor) + ONE window over group-cardinality rows
    for the remainder rank — the same host-table trade as
    ``crawl_schedule``; at 10^9 groups switch the rank to the two-stage
    bucket-offset enumeration documented there (bucket = top bits of
    the remainder preserves (rem, group) order). BIGINT bound:
    ``budget·mass`` must stay under 2^63 — at budget 10^10 that allows
    ~10^8-page hosts; pre-scale masses when both are larger."""
    if int(budget) < 0:
        raise ValueError("budget must be >= 0")
    b = int(budget)
    m = masses.select(
        F.col(group_col).alias("group"),
        F.col(mass_col).cast("long").alias("mass"),
    ).where(F.col("mass") > 0)
    total = m.agg(F.sum("mass").cast("long").alias("_total"))
    q = m.crossJoin(F.broadcast(total)).select(
        "group",
        "mass",
        F.expr(f"({b}L * mass) div _total").cast("long").alias("floor_q"),
        F.expr(f"({b}L * mass) % _total").cast("long").alias("_rem"),
    )
    spent = q.agg(F.sum("floor_q").cast("long").alias("_spent"))
    w = Window.orderBy(F.col("_rem").desc(), F.col("group").asc())
    return (
        q.crossJoin(F.broadcast(spent))
        .select(
            "group",
            "mass",
            "floor_q",
            "_spent",
            F.row_number().over(w).alias("_rk"),
        )
        .select(
            "group",
            "mass",
            "floor_q",
            (
                F.col("floor_q")
                + F.when(
                    F.col("_rk") <= F.lit(b) - F.col("_spent"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long").alias("quota"),
        )
    )


def freshness_scores(
    df: DataFrame,
    group_col: str = "host",
    ts_col: str = "warc_ts",
    half_life_days: int = 7,
    scale_bits: int = 20,
) -> DataFrame:
    """``(group, n_pages, freshest_age_days, score)``: exponentially-
    decayed recency mass per group — the crawl-prioritization signal
    ("which hosts' content is going stale"). Each page contributes
    ``2^scale_bits >> (age_days div half_life_days)`` — an EXACT
    integer surrogate of ``2^(-age/half_life)`` (step-wise decay at
    half-life boundaries), so the score is bit-reproducible on any
    engine: no ``exp``, no floats. "Now" is the corpus max timestamp
    (data-derived — the score is a pure function of the input, which
    is what lets the oracle check it). The shift is capped at 62 bits;
    anything older than ``62·half_life`` contributes 0 exactly.

    Scale shape: one 1-row max broadcast + ONE map-side-combinable
    agg. BIGINT bound: per-group score < n_pages·2^scale_bits — at
    2^20 scale that is exact past 10^12 pages per host."""
    if not (1 <= int(scale_bits) <= 40):
        raise ValueError("scale_bits must be in [1, 40]")
    if int(half_life_days) < 1:
        raise ValueError("half_life_days must be >= 1")
    now = df.agg(F.max(F.to_date(F.col(ts_col))).alias("_now"))
    aged = df.crossJoin(F.broadcast(now)).select(
        F.col(group_col).alias("group"),
        F.datediff(F.col("_now"), F.to_date(F.col(ts_col)))
        .cast("long")
        .alias("_age"),
    )
    wgt = F.expr(
        f"shiftright(shiftleft(1L, {int(scale_bits)}), "
        f"cast(least(_age div {int(half_life_days)}L, 62) as int))"
    )
    return aged.select("group", "_age", wgt.alias("_w")).groupBy(
        "group"
    ).agg(
        F.count("*").cast("long").alias("n_pages"),
        F.min("_age").cast("long").alias("freshest_age_days"),
        F.sum("_w").cast("long").alias("score"),
    )
