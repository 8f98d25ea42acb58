"""Deterministic synthetic page corpus (FIXTURES.md §1/§3).

Two builders:

- :func:`build_corpus` — pure-pandas corpus for unit/e2e tests (no Spark):
  cycles through the fixture archetypes, injects Portuguese-accented words
  (exercising remove_acentos_simbolos, app/util_ocr.py:309-320) and corrupt
  payloads (mirroring exemplos/Gerar Erro.{pdf,png}).
- :func:`pages_from_documents` — builds the same pages shape from the
  driver's ``documents`` parquet with **pure JVM expressions** (to_json /
  encode), so the 100 TB-scale path never leaves Tungsten until the
  extraction UDF itself.

Payload format (the engine's stand-in for WARC html bytes):
``{"fmt":"synthdoc/v1","archetype":...,"n_pages":...,"text":...}`` encoded
UTF-8. Corrupt rows carry short junk bytes that fail JSON parsing and must
land in the lineage error side-output, never fail the job
(app/util_processar_pasta.py:412-421).
"""

from __future__ import annotations

import datetime as _dt
import json

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .core.tokenizer import ARCHETYPES, _bank_words, _h, estimate_pages

_BASE_TS = _dt.datetime(2026, 1, 1, 0, 0, 0)

# corpus cycle: every archetype appears, plain dominates, corrupt and the
# heavy skew doc are sprinkled in deterministically
_CYCLE = [
    "plain", "columns", "repeat_header", "plain", "quote", "sheetno",
    "plain", "news_image", "columns", "plain", "quote", "corrupt",
    "plain", "repeat_header", "news_image", "multipage_skew",
]


def doc_text(url: str, n_words: int) -> str:
    """Deterministic body text: bank words + some ASCII filler + numerals."""
    words = _bank_words(url, "body", n_words)
    out = []
    for i, w in enumerate(words):
        if i % 7 == 3:
            out.append(f"item{_h(url, 'num', i) % 1000}.")
        out.append(w)
    return " ".join(out)


def payload_bytes(archetype: str, text: str) -> bytes:
    doc = {
        "fmt": "synthdoc/v1",
        "archetype": archetype,
        "n_pages": estimate_pages(archetype),
        "text": text,
    }
    return json.dumps(doc, ensure_ascii=False).encode("utf-8")


def parse_payload(html: bytes) -> dict:
    """Decode a page payload; raises on corrupt bytes (error side-output)."""
    doc = json.loads(bytes(html).decode("utf-8"))
    if doc.get("fmt") != "synthdoc/v1":
        raise ValueError(f"unknown payload format: {doc.get('fmt')!r}")
    return doc


def build_corpus(n_docs: int, tag: str = "corpus") -> pd.DataFrame:
    """Pages table as pandas — columns (url, warc_ts, html, text, lang)."""
    rows = []
    for seq in range(n_docs):
        archetype = _CYCLE[seq % len(_CYCLE)]
        url = f"https://example.test/{archetype}/{tag}-{seq}"
        n_words = 40 + _h(url, "len") % 120
        text = doc_text(url, n_words)
        if archetype == "corrupt":
            html = bytes([_h(url, "junk", i) % 256 for i in range(10)])
        else:
            html = payload_bytes(archetype, text)
        rows.append(
            {
                "url": url,
                "warc_ts": _BASE_TS + _dt.timedelta(seconds=seq),
                "html": html,
                "text": text,
                "lang": "por",
            }
        )
    return pd.DataFrame(rows)


_ARCHETYPE_SQL_ARRAY = "array({})".format(
    ", ".join(f"'{a}'" for a in ARCHETYPES)
)
_EST_PAGES_SQL = (
    "CASE archetype WHEN 'multipage_skew' THEN 12 "
    "WHEN 'repeat_header' THEN 3 ELSE 1 END"
)


def pages_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → pages table.

    All JVM-side (no Python): archetype picked by a deterministic hash of
    the url, payload JSON built with ``to_json``, ~1% of rows corrupted
    (doc_id % 97 == 3) to exercise the error path.
    """
    df = documents.select(
        F.concat(
            F.lit("https://example.test/"), F.col("source"),
            F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
    df = df.withColumn(
        "archetype",
        F.expr(
            f"element_at({_ARCHETYPE_SQL_ARRAY}, "
            "cast(pmod(xxhash64(url), 7) + 1 as int))"
        ),
    )
    # Binding-regime dedup fixtures flowing THROUGH extraction (layout
    # archetype keeps its hash assignment; only the words change):
    # - chain subset (doc_id ≡ 5 mod 11): doc k = doc_id div 11 carries
    #   the sliding window w(k div 32, k%32 .. k%32+19) — adjacent subset
    #   docs are near-dups with NO shortcut between chain ends;
    # - hot-shingle subset (doc_id ≡ 7 mod 11): 15 universal boilerplate
    #   words + a 10-word window shared with the partner doc (k div 2).
    # Both are pure md5 arithmetic, so the extract_neardups DuckDB oracle
    # regenerates the same subsets from the url's trailing doc_id.
    chain_text = F.expr(
        "array_join(transform("
        "  sequence((doc_id div 11) % 32, (doc_id div 11) % 32 + 19), "
        "  j -> substr(md5(concat(cast(doc_id div 352 as string), '_c_', "
        "cast(j as string))), 1, 8)), ' ')"
    )
    hot_text = F.expr(
        "concat("
        " array_join(transform(sequence(0, 14), "
        "  i -> concat('boilerplate', cast(i as string))), ' '), ' ',"
        " array_join(transform("
        "  sequence((doc_id div 11) % 2, (doc_id div 11) % 2 + 9), "
        "  j -> substr(md5(concat(cast(doc_id div 22 as string), '_hs_', "
        "cast(j as string))), 1, 8)), ' '))"
    )
    doc_mod = F.pmod(F.col("doc_id"), F.lit(11))
    df = df.withColumn(
        "text",
        F.when(doc_mod == 5, chain_text)
        .when(doc_mod == 7, hot_text)
        .otherwise(F.col("text")),
    )
    payload = F.to_json(
        F.struct(
            F.lit("synthdoc/v1").alias("fmt"),
            F.col("archetype"),
            F.expr(_EST_PAGES_SQL).cast("int").alias("n_pages"),
            F.col("text"),
        )
    )
    corrupt = F.pmod(F.col("doc_id"), F.lit(97)) == F.lit(3)
    return df.select(
        "url",
        "warc_ts",
        F.when(corrupt, F.expr("X'00ff1a00'"))
        .otherwise(F.encode(payload, "UTF-8"))
        .alias("html"),
        "text",
        "lang",
    )


# ---------------------------------------------------------------------------
# Real-HTML page synthesis (the north rule's web face; consumed by
# operators/webtext.web_analysis). Deterministic and *predictable in
# SQL*: the boilerplate is fixed markup, the main content is the document's
# words regrouped into <p> blocks of _HTML_PARA_WORDS, so a DuckDB oracle
# can reconstruct the expected extracted text exactly (__spark_entry__
# html_extract / html_spans). Two deterministic adversarial subsets:
#   - doc_id % 17 == 2: an entity-laden KEPT paragraph is prepended
#     (exercises charref/entity decoding: &amp; &eacute; &#8211; &#37;);
#   - doc_id % 13 == 1: a link-only promo paragraph is injected, which the
#     extractor must DROP by link density;
# and every page carries a link-dense share bar in a *non*-semantic <div>
# (dropped by density, not by tag) plus nav/header/aside/footer/script
# boilerplate (dropped by tag).
# ---------------------------------------------------------------------------

_HTML_PARA_WORDS = 12

_HTML_HEAD = (
    '<html><head><title>doc</title><script>var skip=1;</script>'
    "<style>p{margin:0}</style></head><body>"
    '<nav><a href="/">home</a> <a href="/t">tags</a> '
    '<a href="/s">search</a></nav>'
    "<header><h1>synthetic corpus</h1></header>"
    '<main><div class="content">'
)
_HTML_SHAREBAR = (
    '</div></main><div class="share"><a href="/s1">share</a> '
    '<a href="/s2">tweet</a> | <a href="/s3">print</a></div>'
)
_HTML_TAIL = (
    '<aside><ul><li><a href="/r1">related one</a></li>'
    '<li><a href="/r2">related two</a></li></ul></aside>'
    "<footer><p>copyright 2026 example.test</p></footer></body></html>"
)
_HTML_ENTITY_P = "<p>R&amp;D caf&eacute; &#8211; nota 100&#37;</p>"
#: what the extractor must decode _HTML_ENTITY_P to (oracle twin)
HTML_ENTITY_TEXT = "R&D café – nota 100%"
# Interpolated RAW into single-quoted DuckDB string literals by three
# oracles in __spark_entry__ (_o_html_main_cte/_o_html_spans/
# _o_html_boilerplate_dedup): an apostrophe would break (or silently
# change) the oracle SQL while the Spark side kept working.
assert "'" not in HTML_ENTITY_TEXT
_HTML_SPAM_P = (
    '<p class="promo"><a href="/p0">promo zero</a> '
    '<a href="/p1">promo one</a></p>'
)


# ---------------------------------------------------------------------------
# C4-style multi-line page text synthesis (consumed by
# operators/textstats.c4_page_clean). The documents corpus has no newlines
# or punctuation, so the C4 line/page rules would be degenerate on it; this
# builder regroups each document's words into punctuated lines with
# deterministic adversarial subsets, all from doc_id arithmetic that the
# DuckDB oracle (__spark_entry__._o_c4_clean) reproduces exactly.
# ---------------------------------------------------------------------------

_C4_LINE_WORDS = 6
#: page-poison lines; interpolated RAW into DuckDB single-quoted literals
C4_LOREM_LINE = "lorem ipsum dolor sit amet."
C4_BRACE_LINE = "config values are set here { ok }."
assert "'" not in C4_LOREM_LINE and "'" not in C4_BRACE_LINE


def c4_text_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text) → (doc_id, text) where text is a multi-line
    page exercising every C4 cleaning rule at every sf. Pure JVM.

    Per doc: words regrouped into 6-word lines; line i ends by
    ``(doc_id + i) % 4`` with '.', '!', '?', or nothing (the no-punct arm
    exercises the terminal-punctuation rule); lines with
    ``(doc_id + i) % 11 == 5`` gain the word ``javascript`` (line-level
    drop); the organic short tail (n_words % 6 < 3) exercises the
    ≥ 3-words rule. Page-level: ``doc_id % 19 == 5`` appends a
    lorem-ipsum line, ``doc_id % 23 == 7`` appends a brace line that
    PASSES every line rule — both kill the whole page (proving page-rule
    precedence); docs with few words (10 words → 2 lines) fall under the
    ≥ 5-kept-lines rule organically. transform() here is interpreted per
    *line* (~n_words/6 elements) — fine for a fixture builder; the
    measured operator is the cleaner itself.
    """
    w = _C4_LINE_WORDS
    lines = F.expr(
        "CASE WHEN size(_ws) = 0 THEN cast(array() as array<string>) "
        "ELSE transform("
        f" sequence(0, (size(_ws) - 1) div {w}), i -> concat("
        f"  array_join(slice(_ws, i * {w} + 1, {w}), ' '),"
        "   CASE WHEN (doc_id + i) % 11 = 5 THEN ' javascript' ELSE '' END,"
        "   element_at(array('.', '!', '?', ''), "
        "cast((doc_id + i) % 4 as int) + 1))) END"
    )
    extra = F.expr(
        f"concat(CASE WHEN doc_id % 19 = 5 THEN array('{C4_LOREM_LINE}') "
        "ELSE cast(array() as array<string>) END, "
        f"CASE WHEN doc_id % 23 = 7 THEN array('{C4_BRACE_LINE}') "
        "ELSE cast(array() as array<string>) END)"
    )
    return documents.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("_ws"),
    ).select(
        "doc_id",
        F.array_join(F.concat(lines, extra), "\n").alias("text"),
    )


# ---------------------------------------------------------------------------
# Link-graph page synthesis (consumed by operators/links). Pages whose
# <a> anchors are pure doc_id arithmetic, so the DuckDB oracles
# (__spark_entry__._O_LINKS_CTE) reconstruct the expected parse without
# touching html — the hash check proves the whole regex-parse → href-form
# handling → URL-resolution path. div-based parent links make a DAG toward
# doc 0 with realistic in-degree skew; the three nav hubs have in-degree n.
# ---------------------------------------------------------------------------

#: origin of every synthesized graph page (src = LINK_ORIGIN/d/{doc_id})
LINK_ORIGIN = "https://graph.test"


def linked_pages_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id) → (doc_id, url, html binary) web-graph pages.

    Per page (src = ``https://graph.test/d/{doc_id}``):

    - nav hub links ``/`` ``/t`` ``/s`` (anchor home/tags/search) — three
      in-degree-n skew hubs, and the root-relative resolution arm;
    - parent link to ``doc_id div 2`` (double-quoted, root-relative,
      anchor ``via {doc_id % 7}``) and to ``doc_id div 3`` (SINGLE-quoted,
      absolute, carrying a ``#f{doc_id % 2}`` fragment that must be
      stripped, anchor ``also {doc_id % 5}``);
    - ``% 7 == 4``: external ``https://partner.example`` link (dangling
      node in the graph);
    - ``% 11 == 9``: ``rel="nofollow"`` link to ``div 5`` (edge filter);
    - ``% 13 == 6``: DUPLICATE of the div-2 edge with a different anchor
      (edge dedup binds; anchor aggregation sees both texts);
    - ``% 23 == 11``: UNQUOTED ``href=`` to ``div 7``;
    - ``% 29 == 17``: path-relative ``e{doc_id % 3}`` resolving against
      the ``/d/`` base directory;
    - ``% 31 == 19``: protocol-relative ``//graph.test/d/{div 11}``;
    - ``% 37 == 21``: ``mailto:`` link (non-http scheme filter binds);
    - doc 0's parent links are self-loops (self-edge filter binds).

    Pure JVM (concat of literals + casts); html returned as UTF-8 binary
    per the input-hint page shape.
    """
    d = F.col("doc_id")

    def s(col):  # int expr → string
        return col.cast("string")

    def dv(k: int):
        return F.expr(f"doc_id div {k}")

    def only(mod: int, r: int, *parts):
        return F.when(d % mod == r, F.concat(*parts)).otherwise(F.lit(""))

    dq = '<a href="'
    html = F.concat(
        F.lit(
            "<html><head><title>g</title></head><body>"
            '<nav><a href="/">home</a> <a href="/t">tags</a> '
            '<a href="/s">search</a></nav><main>'
        ),
        F.lit(dq + "/d/"), s(dv(2)), F.lit('">via '), s(d % 7),
        F.lit("</a>"),
        F.lit("<a href='" + LINK_ORIGIN + "/d/"), s(dv(3)),
        F.lit("#f"), s(d % 2), F.lit("'>also "), s(d % 5), F.lit("</a>"),
        only(7, 4, F.lit(dq + "https://partner.example/p/"), s(d % 5),
             F.lit('">partner</a>')),
        only(11, 9, F.lit('<a rel="nofollow" href="/d/'), s(dv(5)),
             F.lit('">sponsored</a>')),
        only(13, 6, F.lit(dq + "/d/"), s(dv(2)), F.lit('">again</a>')),
        only(23, 11, F.lit("<a href=/d/"), s(dv(7)), F.lit(">plain</a>")),
        only(29, 17, F.lit(dq + "e"), s(d % 3), F.lit('">rel</a>')),
        only(31, 19, F.lit(dq + "//graph.test/d/"), s(dv(11)),
             F.lit('">proto</a>')),
        only(37, 21, F.lit(dq + 'mailto:ed@graph.test">mail</a>')),
        F.lit("</main></body></html>"),
    )
    return documents.select(
        "doc_id",
        F.concat(F.lit(LINK_ORIGIN + "/d/"), s(d)).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def html_pages_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source) → Common-Crawl-style pages
    with REAL html bytes (url, warc_ts, html, text, lang). Pure JVM."""
    df = documents.select(
        F.concat(
            F.lit("https://example.test/"), F.col("source"),
            F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
    df = df.withColumn(
        "_ws", F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    )
    # content paragraphs: words regrouped 12 per <p>. transform() here is
    # interpreted per *paragraph* (~n_words/12 elements), fine for a
    # fixture builder; the measured operator is the extractor itself.
    paras = F.expr(
        "CASE WHEN size(_ws) = 0 THEN '' ELSE array_join(transform("
        f"  sequence(0, (size(_ws) - 1) div {_HTML_PARA_WORDS}), "
        f"  i -> concat('<p>', array_join(slice(_ws, i * {_HTML_PARA_WORDS}"
        f" + 1, {_HTML_PARA_WORDS}), ' '), '</p>')), '') END"
    )
    html = F.concat(
        F.lit(_HTML_HEAD),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(17)) == 2, F.lit(_HTML_ENTITY_P)
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 1, F.lit(_HTML_SPAM_P)
        ).otherwise(F.lit("")),
        paras,
        F.lit(_HTML_SHAREBAR),
        F.lit(_HTML_TAIL),
    )
    return df.select(
        "url",
        "warc_ts",
        F.encode(html, "UTF-8").alias("html"),
        "text",
        "lang",
    )
