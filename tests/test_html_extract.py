"""HTML main-content extraction: kernel rules, Spark operator identity,
and the scale properties of the plan (no shuffle, pruned scan).

The kernel's keep/drop rules are exactly specified (core/html_extract.py
docstring) so the driver oracle can predict them in SQL; these tests pin
the rules on handcrafted pages the synthetic corpus doesn't cover
(nesting, malformed markup, density boundary, min_words, void tags).
"""

import pandas as pd
from pyspark.sql import functions as F

from servico_ocr_spark.core.html_extract import extract_blocks, extract_main
from servico_ocr_spark.corpus import html_pages_from_documents
from servico_ocr_spark.operators.webtext import (
    drop_repeated_paragraphs,
    web_analysis,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# kernel rules
# ---------------------------------------------------------------------------

def test_drop_tags_nested_and_cdata():
    html = (
        "<head><title>t</title><script>var a = '<p>not a block</p>';"
        "</script></head>"
        "<nav>skip <div>nested inside nav stays dropped</div></nav>"
        "<p>kept one</p>"
        "<footer><p>copyright</p><aside>deep</aside></footer>"
        "<p>kept two</p>"
    )
    r = extract_main(html)
    assert r["main_text"] == "kept one\nkept two"
    assert r["n_blocks"] == 2 and r["n_kept"] == 2


def test_entities_and_charrefs_decode():
    r = extract_main(b"<p>a &amp; b &lt;c&gt; &#65;&eacute;</p>")
    assert r["main_text"] == "a & b <c> Aé"


def test_link_density_boundary_exact():
    # 3 * link_chars == total_chars → kept (rule is strict >)
    kept = extract_main("<p><a>ab</a> cdef</p>")  # link 2, total 6
    assert kept["n_kept"] == 1 and kept["n_dropped_link"] == 0
    # one char more inside the anchor → dropped
    dropped = extract_main("<p><a>abc</a> cdef</p>")  # link 3, total 7
    assert dropped["n_kept"] == 0 and dropped["n_dropped_link"] == 1
    # whitespace never counts toward either side
    ws = extract_main("<p><a> a b </a> cdefg</p>")  # link 2, total 7
    assert ws["n_kept"] == 1


def test_min_words_filter():
    html = "<p>one</p><p>two words</p><p>three little words</p>"
    r = extract_main(html, min_words=2)
    assert r["main_text"] == "two words\nthree little words"
    # min_words drops are not link drops
    assert r["n_dropped_link"] == 0 and r["n_blocks"] == 3


def test_malformed_markup_is_lenient():
    # unclosed <p>, stray end tags, unbalanced drop region ends
    r = extract_main("</div></nav><p>first<p>second<div>third")
    assert r["main_text"] == "first\nsecond\nthird"
    # unclosed <a> keeps counting into the block (truthful density)
    r2 = extract_main("<p><a>all link text here")
    assert r2["n_kept"] == 0 and r2["n_dropped_link"] == 1


def test_void_tags_br_hr():
    r = extract_main("<p>one<br>two</p><p>alpha<hr>beta</p>")
    # br is whitespace inside the block; hr flushes a new block
    assert r["main_text"] == "one two\nalpha\nbeta"
    r2 = extract_main("<p>one<br/>two</p>")
    assert r2["main_text"] == "one two"


def test_whitespace_collapse_and_spans():
    r = extract_main("<p>  a\n\t b  </p><p> c </p>")
    assert r["main_text"] == "a b\nc"
    assert r["spans"] == [(0, 3), (4, 5)]
    for start, end in r["spans"]:
        assert "\n" not in r["main_text"][start:end]


def test_degenerate_inputs_never_raise():
    assert extract_main(None)["main_text"] == ""
    assert extract_main(b"")["n_blocks"] == 0
    assert extract_main(b"\x00\xff\x1a\x00")["n_kept"] == 1  # junk → 1 blob
    assert extract_main("plain text no tags")["main_text"] == (
        "plain text no tags"
    )


def test_extract_blocks_counts():
    blocks = extract_blocks('<p>x <a href="/">y</a> z</p>')
    assert blocks == [("x y z", 3, 1, 1)]


# ---------------------------------------------------------------------------
# fast scanner vs stdlib reference (well-formed domain) + recovery spec
# ---------------------------------------------------------------------------

_FUZZ_TAGS = [
    "p", "div", "a", "br", "hr", "script", "style", "nav", "span", "li",
    "ul", "h1", "td", "em", "table", "footer", "form", "svg", "title",
    "body", "aside", "article", "custom-x",
]
_FUZZ_TEXT = [
    "alpha", "beta", "&amp;", "&lt;x", "&#65;", "tok", "x<1y", "a&b",
    "&ampx", "&notit;", "5< 6 >7", "&#x41;", "é ü", "< <", "&amp", "&",
    "<a\xa0b ", "</a\xa0>", "</td\xa0junk>", "<p\xa0x>",
]
_FUZZ_ATTRS = [
    "", " href=foo", ' class="x y"', " href=foo/", " a/", " checked",
    " x='1'/", "/", " /", " b=c/d", ' data-x="a>b"', " x = 'q' y",
    ' q="/"', " a = ", " a=&amp;b", "\xa0q", " a=b\xa0c",
]


def _fuzz_page(rng) -> str:
    parts = []
    for _ in range(rng.randint(1, 50)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice(_FUZZ_TEXT) + rng.choice([" ", ""]))
        elif r < 0.62:
            parts.append(f"<{rng.choice(_FUZZ_TAGS)}{rng.choice(_FUZZ_ATTRS)}>")
        elif r < 0.82:
            t = rng.choice(_FUZZ_TAGS)
            parts.append(rng.choice([
                f"</{t}>", f"</ {t} >", f"</{t} junk>", "</>", "</1>",
                f"</{t}\t>", f"</{t}\xa0>",
            ]))
        else:
            parts.append(rng.choice([
                "<!-- c -->", "<!-- x --   >", "<!doctype html>",
                "<![CDATA[ z ]]>", "<?php ?>", "<?x>", "<!x>", "&#x41;",
                "<3", "< p>",
            ]))
    return "".join(parts)


def test_fast_scanner_matches_stdlib_reference_fuzz():
    """On markup whose constructs are all terminated, the regex scanner is
    block-for-block identical to the stdlib ``html.parser`` reference —
    including tolerant end tags, self-closing decisions, entity decoding,
    quoted ``>`` in attrs, and stdlib's ASCII-only tag-name charset
    (U+00A0 is part of a NAME, not a delimiter). 20k seeded cases were
    run at development time; this keeps a 3k-regression slice."""
    import random

    from servico_ocr_spark.core.html_extract import extract_blocks_reference

    for i in range(3000):
        rng = random.Random(3_000_000 + i)
        page = _fuzz_page(rng)
        assert extract_blocks(page) == extract_blocks_reference(page), page


def test_fast_scanner_recovery_spec():
    """On UNTERMINATED constructs the scanner is the specification (the
    stdlib recovery is version-dependent and can raise — see module
    docstring): the construct's chars ride as text and real tags after
    it still parse."""
    # stdlib parse_marked_section RAISES AssertionError here
    assert extract_blocks("<![junk]>x") == [("x", 1, 0, 0)]
    # unterminated comment degrades to text; <p>/<td> still flush
    assert extract_blocks("a<!-- <p>hello<td>world") == [
        ("a<!--", 5, 0, 0), ("hello", 5, 0, 0), ("world", 5, 0, 0)
    ]
    # unterminated script: rest of document is script data (dropped)
    assert extract_blocks("<script>var x = 1; <p>never") == []
    # unterminated start tag at EOF: rides as text
    assert extract_blocks("pre<p class='x") == [
        ("pre<p class='x", 13, 0, 0)
    ]


def test_fast_scanner_pathological_unterminated_runs_linear():
    """A truncated/adversarial page dense with bare '<name' runs and NO
    '>' anywhere must scan in linear time (ADVICE r3: each '<' attempt
    used to rescan to EOF — quadratic). The find('>') guard makes the
    '>'-free tail one pass; semantics stay the recovery spec (all
    character data)."""
    import time

    unit = "text <div123 foo bar "
    page = unit * 60_000  # ~1.3 MB, ~60k candidate '<', zero '>'
    t0 = time.perf_counter()
    blocks = extract_blocks(page)
    dt = time.perf_counter() - t0
    # pre-guard this shape took minutes; generous bound for slow boxes
    assert dt < 3.0, f"pathological scan took {dt:.1f}s"
    assert len(blocks) == 1  # one giant text block, nothing parsed
    text, chars, link_chars, n_links = blocks[0]
    assert (link_chars, n_links) == (0, 0)
    assert text.startswith("text <div123 foo bar")
    # the guard must not change semantics when a '>' DOES appear later:
    # per stdlib-tolerant semantics the FIRST '<div123' opens a start tag
    # whose attribute soup swallows everything (incl. the '<p') up to the
    # first '>', so only the leading 'text' and trailing 'real' survive —
    # pinned against the stdlib reference parser, not hand-predicted
    from servico_ocr_spark.core.html_extract import extract_blocks_reference

    tailed = unit * 40 + "<p>real</p>"
    got = extract_blocks(tailed)
    assert got == extract_blocks_reference(tailed)
    assert got == [("text real", 8, 0, 0)]


def test_fast_scanner_self_closing_and_name_charset():
    # trailing '/' glued to an unquoted value is PART OF THE VALUE:
    # <a href=foo/> opens an anchor (stdlib attrfind_tolerant semantics)
    assert extract_blocks("<p><a href=foo/>x</a> yz</p>") == [
        ("x yz", 3, 1, 1)
    ]
    # ...but after a valueless attr NAME it self-closes: no anchor
    assert extract_blocks("<p><a foo/>x</a> yz</p>") == [("x yz", 3, 0, 0)]
    # U+00A0 is a name char: <a\xa0b> is tag "a\xa0b", not an anchor
    assert extract_blocks("<p><a\xa0b>x</a\xa0b> yz</p>") == [
        ("x yz", 3, 0, 0)
    ]
    # '<p / >' is a plain start tag (slash not directly before '>')
    assert extract_blocks("<p / >x") == [("x", 1, 0, 0)]


# ---------------------------------------------------------------------------
# Spark operator == kernel, independent of partitioning
# ---------------------------------------------------------------------------

def _expected_rows(pages_pdf: pd.DataFrame) -> list:
    rows = []
    for _, row in pages_pdf.iterrows():
        r = extract_main(row["html"])
        rows.append((row["url"], r["main_text"],
                     [tuple(s) for s in r["spans"]], r["n_blocks"],
                     r["n_kept"], r["n_dropped_link"], r["n_links"]))
    return sorted(rows)


def test_operator_matches_kernel_any_partitioning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    pages = html_pages_from_documents(docs)
    pages_pdf = pages.toPandas()
    expected = _expected_rows(pages_pdf)
    for n_parts in (1, 7):
        res = web_analysis(pages.repartition(n_parts)).collect()
        got = sorted(
            (r["url"], r["main_text"],
             [(s["start"], s["end"]) for s in r["spans"]], r["n_blocks"],
             r["n_kept"], r["n_dropped_link"], r["n_links"])
            for r in res
        )
        assert got == expected


def test_fixture_subsets_behave(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    res = web_analysis(html_pages_from_documents(docs)).withColumn(
        "doc_id",
        F.regexp_extract("url", "([0-9]+)$", 1).cast("long"),
    )
    rows = {r["doc_id"]: r for r in res.collect()}
    assert len(rows) == docs.count()
    for doc_id, r in rows.items():
        spam = 1 if doc_id % 13 == 1 else 0
        ent = 1 if doc_id % 17 == 2 else 0
        # share bar + optional promo dropped by density, never by tag
        assert r["n_dropped_link"] == 1 + spam, doc_id
        assert r["n_links"] == 3 + 2 * spam, doc_id
        assert r["n_kept"] == r["n_blocks"] - 1 - spam, doc_id
        first = r["main_text"].split("\n", 1)[0]
        if ent:
            assert first == "R&D café – nota 100%", doc_id
        else:
            assert "promo" not in r["main_text"] and "R&D" not in first
        # spans tile main_text exactly, separated by single newlines
        assert len(r["spans"]) == r["n_kept"]
        prev_end = None
        for span in r["spans"]:
            if prev_end is not None:
                assert span["start"] == prev_end + 1
            prev_end = span["end"]
        if r["spans"]:
            assert prev_end == len(r["main_text"])


def test_html_face_resume_idempotence(spark, tmp_path):
    """The checkpointed runner on the web face gives exactly-once rows
    per url with lineage columns: half run → full run → re-run, counts go
    20 → 40 → 40."""
    from servico_ocr_spark.pipeline import run_resumable

    out = str(tmp_path / "html_out")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    pages = html_pages_from_documents(docs)
    for batch, expected in ((pages.limit(20), 20), (pages, 40), (pages, 40)):
        run_resumable(spark, batch, out, face="web")
        res = spark.read.parquet(out)
        assert res.count() == expected
        assert res.select("url").distinct().count() == expected
    assert {r["status"] for r in res.select("status").distinct().collect()} \
        == {"ok"}
    assert res.schema["partition_id"].dataType.simpleString() == "int"


def test_web_partition_metrics_tile_corpus(spark):
    """Per-partition lineage metrics: one row per executed partition, and
    the partition sums reconstruct the corpus totals exactly at any
    partitioning."""
    from servico_ocr_spark.operators.webtext import web_partition_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    pages = html_pages_from_documents(docs)
    expected = None
    for n_parts in (1, 5):
        analysis = web_analysis(pages.repartition(n_parts))
        metrics = web_partition_metrics(analysis).collect()
        assert len(metrics) == n_parts
        assert sorted(m["partition_id"] for m in metrics) == list(range(n_parts))
        totals = tuple(
            sum(m[c] for m in metrics)
            for c in ("n_pages", "total_blocks", "kept_blocks",
                      "link_dropped_blocks", "total_links", "total_chars",
                      "total_words")
        )
        assert totals[0] == 60
        if expected is None:
            expected = totals
        else:
            assert totals == expected  # partitioning-independent


# ---------------------------------------------------------------------------
# corpus-level boilerplate paragraph removal
# ---------------------------------------------------------------------------

def test_paragraph_dedup_semantics(spark):
    rows = [
        ("a", "boiler\nunique one\nboiler2"),
        ("b", "boiler\nunique two"),
        ("c", "boiler\nboiler2"),
        ("d", "boiler"),  # 100% boilerplate → empty text, row retained
        ("e", ""),        # empty doc → row retained with zero counts
        ("f", None),      # null doc → same
    ]
    df = spark.createDataFrame(rows, "url string, main_text string")
    got = {
        r["url"]: (r["clean_text"], r["n_paras"], r["n_kept"], r["n_dropped"])
        for r in drop_repeated_paragraphs(df, max_df=2).collect()
    }
    assert got == {
        "a": ("unique one\nboiler2", 3, 2, 1),  # df(boiler)=4 > 2 dropped
        "b": ("unique two", 2, 1, 1),
        "c": ("boiler2", 2, 1, 1),  # df(boiler2)=2 ≤ 2 kept (rule is >)
        "d": ("", 1, 0, 1),
        "e": ("", 0, 0, 0),
        "f": ("", 0, 0, 0),
    }


def test_paragraph_dedup_metachar_separator_is_literal(spark):
    """sep is a LITERAL both ways: F.split takes a Java regex while the
    rejoin is literal, so a metachar separator ('|') must be escaped on
    the split side or the text explodes per character and is reassembled
    as garbage."""
    rows = [("a", "keep one|boiler|keep two"), ("b", "boiler|other")]
    df = spark.createDataFrame(rows, "url string, main_text string")
    got = {
        r["url"]: (r["clean_text"], r["n_paras"], r["n_kept"])
        for r in drop_repeated_paragraphs(df, max_df=1, sep="|").collect()
    }
    assert got == {
        "a": ("keep one|keep two", 3, 2),
        "b": ("other", 2, 1),
    }


def test_paragraph_dedup_drops_entity_fixture_corpus_wide(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cleaned = drop_repeated_paragraphs(
        web_analysis(html_pages_from_documents(docs)), max_df=5
    ).withColumn(
        "doc_id", F.regexp_extract("url", "([0-9]+)$", 1).cast("long")
    )
    rows = cleaned.collect()
    assert len(rows) == docs.count()
    for r in rows:
        # the entity paragraph appears in every doc_id%17==2 doc
        # (df ≈ n/17 ≫ 5) so paragraph-dedup must strip it everywhere
        assert "R&D" not in r["clean_text"], r["url"]
        if r["doc_id"] % 17 == 2:
            assert r["n_dropped"] >= 1, r["url"]


def test_paragraph_dedup_single_input_pass_no_join(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        drop_repeated_paragraphs(
            web_analysis(html_pages_from_documents(docs)), max_df=5
        )
    )
    # the kernel must run ONCE (a restoring join would re-execute it just
    # to list ids); only the paragraph-count window and the reassembly
    # groupBy may shuffle
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# plan: embarrassingly parallel, pruned scan, one Arrow boundary
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_html_extract_plan_shuffle_free_and_pruned(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(web_analysis(html_pages_from_documents(docs)))
    assert "Exchange" not in plan  # no shuffle anywhere in the operator
    assert plan.count("MapInArrow") == 1  # exactly one Python boundary
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    # page synthesis needs doc_id/text/source only — lang/n_chars pruned
    assert "n_chars" not in scan and "lang" not in scan
