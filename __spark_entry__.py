"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the engine's operator surface (SURVEY.md §2 plus
the training-data operators) through the real implementations in
``servico_ocr_spark``; ``oracle_sql()`` carries DuckDB-dialect twins that
must agree on row count, schema, and order-insensitive value hash.

Portability discipline for the oracles: every computed value is an
integer, string, or date-string — no float aggregates — and all hashes go
through the shared 48-bit md5 primitive (Spark ``conv(substr(md5(x),1,12),
16,10)`` ≡ DuckDB ``('0x'||substr(md5(x),1,12))::BIGINT``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from servico_ocr_spark.core.text import ACCENT_DST, ACCENT_SRC
from servico_ocr_spark.corpus import (
    _C4_LINE_WORDS,
    _HTML_PARA_WORDS,
    C4_BRACE_LINE,
    C4_LOREM_LINE,
    HTML_ENTITY_TEXT,
    c4_text_from_documents,
    html_pages_from_documents,
    linked_pages_from_documents,
    pages_from_documents,
)
from servico_ocr_spark.operators import (
    anchor_text_agg,
    brute_force_topk,
    drop_repeated_paragraphs,
    exact_duplicates,
    extract_links,
    extract_media_features,
    language_id,
    link_degrees,
    link_edges,
    lsh_ann_topk,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    pagerank,
    quality_score,
    repetition_stats,
    simhash,
    simhash_near_duplicates,
    synth_media_table,
    text_fingerprint,
    token_counts,
    web_analysis,
    web_partition_metrics,
)
from servico_ocr_spark.operators.common import cut, h48, norm_text, words_array
from servico_ocr_spark.operators.textstats import (
    C4_MIN_KEPT_LINES,
    C4_MIN_LINE_WORDS,
    LANG_MARKERS,
    c4_page_clean,
)
from servico_ocr_spark.pipeline import docs_table, lineage_table, run_extraction

SF_DEFAULT = "/root/testdata/sf0.001"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# DuckDB-dialect SQL building blocks (kept in lockstep with operators/common)
# ---------------------------------------------------------------------------

_D_NORM = (
    "lower(regexp_replace(translate(text, '"
    + ACCENT_SRC + "', '" + ACCENT_DST + "'), '[^0-9a-zA-Z ]', ' ', 'g'))"
)
_D_WORDS = "list_filter(string_split({norm}, ' '), x -> x <> '')"


def _d_h48(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"


def _d_words_cte(tbl: str = "documents") -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    return f"SELECT doc_id, {words} AS words FROM {tbl}"


# ===========================================================================
# Extraction pipeline (flagship; per-document kernel — rows-only check)
# ===========================================================================

def _q_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(_read(spark, sf_dir, "documents"))
    analysis = run_extraction(pages)
    return docs_table(analysis).select(
        "url", "paginas", "pagina_tipo", "qtd_letras", "qtd_palavras",
        F.length("extracted_text").alias("text_len"),
        F.size("spans").alias("n_spans"),
    )  # no orderBy: the driver compares order-insensitively and a global
    #    sort would add a pointless exchange to the flagship plan


# The kernel (greedy reading-order rewrite, stateful page renumbering) is
# non-SQL-expressible, so the DuckDB twin is a committed golden parquet
# produced by the single-threaded pure-Python oracle path
# (scripts/make_golden.py; same kernel tests/test_reference_differential.py
# proves byte-identical to the actual reference). The driver's hash row
# then checks distributed Spark execution == committed oracle output.
# tests/test_entry_contract.py regenerates the golden in-process and fails
# on any drift (kernel change or testdata change).
_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "tests", "golden")

_O_EXTRACT_DOCS = f"""
SELECT url, paginas, pagina_tipo, qtd_letras, qtd_palavras, text_len, n_spans
FROM read_parquet('{_GOLDEN_DIR}/extract_docs_sf0.01.parquet')
"""

_O_EXTRACT_LINEAGE = f"""
SELECT status, n_docs, est_pages_sum
FROM read_parquet('{_GOLDEN_DIR}/extract_lineage_sf0.01.parquet')
ORDER BY status
"""


def _q_extract_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(_read(spark, sf_dir, "documents"))
    analysis = run_extraction(pages)
    return (
        lineage_table(analysis)
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"), F.sum("est_pages").alias("est_pages_sum"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# extract→dedup integration: minhash near-dups over EXTRACTED text of the
# chain + hot-shingle fixture subsets (corpus.pages_from_documents overrides
# their words; extraction's conf filter then perturbs each doc's word set
# ~10% independently, so design-point similarities land around 0.6-0.75).
# The oracle runs the same minhash SQL over the committed golden
# extracted-text parquet — locking the full pipeline extraction → text →
# pair enumeration end to end.
# ---------------------------------------------------------------------------

_EN_K = 16
_EN_BANDS = 8  # 8 bands x 2 rows: P(candidate | J=0.75) ≈ 0.9987 — the
#                post-extraction design-point pairs reliably survive
#                banding (2 rows x 8 gave only ~19% there)
_EN_THRESHOLD = 60
_EN_CAP = 22  # structural bound for the fixture subsets: chain window
#               words reach df <= 20, partner-window words df <= 2, while
#               the 15 boilerplate words have df = |hot subset| (~n/22) —
#               the cap binds from roughly sf0.01 upward


def _q_extract_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    subset = docs.where(F.pmod(F.col("doc_id"), F.lit(11)).isin(5, 7))
    pages = pages_from_documents(subset)
    analysis = run_extraction(pages)
    extracted = docs_table(analysis).select(
        F.col("url").alias("doc_id"),
        F.col("extracted_text").alias("text"),
    )
    pairs = minhash_near_duplicates(
        extracted, num_hashes=_EN_K, bands=_EN_BANDS,
        threshold=_EN_THRESHOLD / 100, max_word_df=_EN_CAP,
    )
    return (
        pairs.groupBy("jaccard_pct")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("jaccard_pct")
    )


def _o_extract_neardups() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    return f"""
WITH gt AS (
    SELECT url AS doc_id, extracted_text AS text
    FROM read_parquet('{_GOLDEN_DIR}/extract_texts_sf0.01.parquet')
    WHERE regexp_extract(url, '([0-9]+)$', 1)::BIGINT % 11 IN (5, 7)
),
base AS (SELECT doc_id, {words} AS words FROM gt),
wx0 AS (SELECT doc_id, unnest(list_distinct(words)) AS w FROM base),
wx AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
    WHERE df <= {_EN_CAP}
),
{_o_minhash_pairs_from_wx(_EN_K, _EN_BANDS, _EN_THRESHOLD)}
SELECT jaccard_pct, count(*)::BIGINT AS n_pairs
FROM mp GROUP BY jaccard_pct ORDER BY jaccard_pct
"""


# ===========================================================================
# HTML main-content extraction (north rule: boilerplate strip / DOM
# heuristics over Common-Crawl-style pages). Unlike the OCR flagship, this
# kernel is fully SQL-predictable on the synthetic corpus: the oracle
# reconstructs the expected extracted text (content words regrouped into
# 12-word paragraphs, plus the entity fixture paragraph, minus the
# link-dense blocks) directly from the documents table — a live
# end-to-end hash check of parse → drop-tags → link-density → spans.
# ===========================================================================

def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = html_pages_from_documents(_read(spark, sf_dir, "documents"))
    res = web_analysis(pages)
    return res.select(
        "url",
        h48(F.col("main_text")).alias("main_h48"),
        "main_chars",
        "main_words",
        F.size("spans").cast("long").alias("n_spans"),
        "n_blocks",
        "n_kept",
        "n_dropped_link",
        "n_links",
    )


def _q_html_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = html_pages_from_documents(_read(spark, sf_dir, "documents"))
    res = web_analysis(pages)
    return res.select(
        "url", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "url",
        F.col("span_idx").cast("long").alias("span_idx"),
        F.col("span.start").cast("long").alias("span_start"),
        F.col("span.end").cast("long").alias("span_end"),
    )


def _q_html_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup THROUGH the per-partition lineage path: the driver
    hash-checks that web_analysis + web_partition_metrics tile the corpus
    exactly (partition sums == SQL-predicted totals), live at every sf."""
    pages = html_pages_from_documents(_read(spark, sf_dir, "documents"))
    per_part = web_partition_metrics(web_analysis(pages))
    return per_part.agg(
        F.sum("n_pages").alias("n_pages"),
        F.sum("total_blocks").alias("total_blocks"),
        F.sum("kept_blocks").alias("kept_blocks"),
        F.sum("link_dropped_blocks").alias("link_dropped_blocks"),
        F.sum("total_links").alias("total_links"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("total_words").alias("total_words"),
    )


_HB_MAX_DF = 5  # binds the entity fixture paragraph (df ≈ n/17) at every
#                 sf AND organic 12-word repeats from sf0.1 up (31 content
#                 paras exceed df 5 there; max content df at sf0.01 is 4)


def _q_html_boilerplate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = html_pages_from_documents(_read(spark, sf_dir, "documents"))
    cleaned = drop_repeated_paragraphs(
        web_analysis(pages), max_df=_HB_MAX_DF
    )
    return cleaned.select(
        "url",
        h48(F.col("clean_text")).alias("clean_h48"),
        F.length("clean_text").cast("long").alias("clean_chars"),
        "n_paras",
        "n_kept",
        "n_dropped",
    )


_O_HTML_URL = "('https://example.test/' || source || '/' || doc_id::VARCHAR)"


def _o_html_paras_cte() -> str:
    """Shared CTE text: documents → per-doc 12-word paragraph relation
    (exactly what corpus.html_pages_from_documents wraps in <p> tags)."""
    k = _HTML_PARA_WORDS
    return f"""
w AS (
    SELECT doc_id, source,
           list_filter(string_split(text, ' '), x -> x <> '') AS ws
    FROM documents
),
paras AS (
    SELECT doc_id, source, i,
           array_to_string(ws[(i*{k}+1):(i*{k}+{k})], ' ') AS para
    FROM (SELECT doc_id, source, ws,
                 unnest(range((len(ws) - 1) // {k} + 1)) AS i
          FROM w) t
)"""


def _o_html_main_cte() -> str:
    """Shared CTE text (one copy — _o_html_extract and
    _o_html_corpus_stats must reconstruct the SAME per-page expectation):
    paras → per-doc main_text / n_kept / main_words / spam, mirroring
    corpus.html_pages_from_documents' entity and link-spam subsets."""
    ent = HTML_ENTITY_TEXT
    return f"""
joined AS (
    SELECT doc_id, string_agg(para, chr(10) ORDER BY i) AS body,
           count(*)::BIGINT AS np
    FROM paras GROUP BY doc_id
),
m AS (
    SELECT d.doc_id, d.source,
           CASE WHEN d.doc_id % 17 = 2 AND j.body IS NOT NULL
                    THEN '{ent}' || chr(10) || j.body
                WHEN d.doc_id % 17 = 2 THEN '{ent}'
                ELSE coalesce(j.body, '') END AS main_text,
           coalesce(j.np, 0) + CASE WHEN d.doc_id % 17 = 2 THEN 1 ELSE 0 END
               AS n_kept,
           len(list_filter(string_split(d.text, ' '), x -> x <> ''))::BIGINT
               + CASE WHEN d.doc_id % 17 = 2 THEN 5 ELSE 0 END AS main_words,
           CASE WHEN d.doc_id % 13 = 1 THEN 1 ELSE 0 END AS spam
    FROM documents d LEFT JOIN joined j USING (doc_id)
)"""


def _o_html_extract() -> str:
    return f"""
WITH {_o_html_paras_cte()},
{_o_html_main_cte()}
SELECT {_O_HTML_URL} AS url,
       {_d_h48('main_text')} AS main_h48,
       len(main_text)::BIGINT AS main_chars,
       main_words,
       n_kept::BIGINT AS n_spans,
       (n_kept + spam + 1)::BIGINT AS n_blocks,
       n_kept::BIGINT AS n_kept,
       (1 + spam)::BIGINT AS n_dropped_link,
       (3 + 2 * spam)::BIGINT AS n_links
FROM m
"""


def _o_html_corpus_stats() -> str:
    return f"""
WITH {_o_html_paras_cte()},
{_o_html_main_cte()}
SELECT count(*)::BIGINT AS n_pages,
       sum(n_kept + spam + 1)::BIGINT AS total_blocks,
       sum(n_kept)::BIGINT AS kept_blocks,
       sum(1 + spam)::BIGINT AS link_dropped_blocks,
       sum(3 + 2 * spam)::BIGINT AS total_links,
       sum(len(main_text))::BIGINT AS total_chars,
       sum(main_words)::BIGINT AS total_words
FROM m
"""


def _o_html_boilerplate_dedup() -> str:
    return f"""
WITH {_o_html_paras_cte()},
allp AS (
    SELECT doc_id, source, i, para FROM paras
    UNION ALL
    SELECT doc_id, source, -1 AS i, '{HTML_ENTITY_TEXT}' AS para
    FROM documents WHERE doc_id % 17 = 2
),
dfs AS (
    SELECT doc_id, i, para,
           count(*) OVER (PARTITION BY para) AS df
    FROM allp
),
agg AS (
    SELECT doc_id,
           string_agg(para, chr(10) ORDER BY i)
               FILTER (df <= {_HB_MAX_DF}) AS clean_text,
           count(*)::BIGINT AS n_paras,
           count(*) FILTER (df <= {_HB_MAX_DF})::BIGINT AS n_kept
    FROM dfs GROUP BY doc_id
)
SELECT {_O_HTML_URL} AS url,
       {_d_h48("coalesce(clean_text, '')")} AS clean_h48,
       len(coalesce(clean_text, ''))::BIGINT AS clean_chars,
       coalesce(n_paras, 0)::BIGINT AS n_paras,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       (coalesce(n_paras, 0) - coalesce(n_kept, 0))::BIGINT AS n_dropped
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def _o_html_spans() -> str:
    return f"""
WITH {_o_html_paras_cte()},
allp AS (
    SELECT doc_id, source, i, para FROM paras
    UNION ALL
    SELECT doc_id, source, -1 AS i, '{HTML_ENTITY_TEXT}' AS para
    FROM documents WHERE doc_id % 17 = 2
)
SELECT {_O_HTML_URL} AS url,
       (row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1)::BIGINT
           AS span_idx,
       (sum(len(para) + 1) OVER (PARTITION BY doc_id ORDER BY i)
           - len(para) - 1)::BIGINT AS span_start,
       (sum(len(para) + 1) OVER (PARTITION BY doc_id ORDER BY i) - 1)::BIGINT
           AS span_end
FROM allp
"""


# ===========================================================================
# X1/X2 — normalization  |  A3/A4 — distinct word/char stats
# ===========================================================================

def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm_text"),
        F.expr("replace(trim(text), '  ', ' ')").alias("collapsed"),
    )


_O_TEXT_NORMALIZE = f"""
SELECT doc_id,
       {_D_NORM} AS norm_text,
       replace(trim(text), '  ', ' ') AS collapsed
FROM documents
"""


def _q_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    words = words_array(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(
            F.array_distinct(F.filter(words, lambda w: F.length(w) > 1))
        ).cast("long").alias("qtd_palavras"),
        F.size(F.array_distinct(F.split(norm, ""))).cast("long").alias("qtd_letras"),
    )


_O_WORD_STATS = f"""
WITH n AS (SELECT doc_id, {_D_NORM} AS norm FROM documents)
SELECT doc_id,
       len(list_distinct(list_filter(
           list_filter(string_split(norm, ' '), x -> x <> ''),
           x -> len(x) > 1))) AS qtd_palavras,
       len(list_distinct(string_split(norm, ''))) AS qtd_letras
FROM n
"""


# ===========================================================================
# J4/X7 — md5 dedupe (exact on 5-word prefix so sf data has matches)
# ===========================================================================

def _q_dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ").alias(
            "text"
        ),
    )
    return exact_duplicates(docs, text_col="text", id_col="doc_id")


_O_DEDUP_EXACT_PREFIX = """
SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS text_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


# ===========================================================================
# Dedup — MinHash + LSH, SimHash, n-gram Jaccard
# ===========================================================================

_MINHASH_K = 16
_MINHASH_BANDS = 2  # 2 bands × 8 rows: P(candidate | J) = 1-(1-J^8)^2 —
#                     ~0.8% at J=0.5, ~68% at J=0.9. Wider bands (4×4)
#                     admitted ~20% of all template-sharing pairs as
#                     candidates, which is quadratic death on a corpus
#                     with dense mid-range similarity.
_MINHASH_THRESHOLD = 0.80
# Word document-frequency cap, wired through signature AND verification
# on both sides (operators/dedup.py DEFAULT_MAX_DOC_FREQ is the scale
# default). The synthetic corpus has a 31-word vocabulary whose per-word
# df TRACKS corpus size (~80% of docs per word at every sf: max 402/500
# at sf0.01, 3923/5000 at sf0.1), so no constant cap is safe at every
# scale — it either binds (gutting the word sets and degenerating the
# dedup semantics) or must be retuned per sf. The cap is therefore
# derived from the corpus: words in more than 90% of docs are boilerplate
# (the corpus's ~80% ceiling stays safely below it at any sf by the law
# of large numbers). The DuckDB twin computes the same bound inline; the
# binding-cap case is exercised by ngram_jaccard's cap of 5 and the
# boilerplate unit tests.
# cap = ceil(9·n/10), computed in exact integer arithmetic on BOTH sides
# (a float 0.9·n differs from 9n/10 at some n under IEEE rounding)
def _minhash_word_cap(spark: SparkSession, sf_dir: str) -> int:
    n_docs = _read(spark, sf_dir, "documents").count()
    return (9 * n_docs + 9) // 10


def _q_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, num_hashes=_MINHASH_K, bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
        max_word_df=_minhash_word_cap(spark, sf_dir),
    )


def _q_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup contamination matrix: the minhash true-
    pair graph rolled up to (source, source) cells — the provenance
    question "is source X a mirror of source Y" that decides whether
    two feeds should be deduped jointly before mixing. Composes the
    EXACT minhash_neardups subplan (shared query function — the
    telemetry-twin discipline), joins the id→source spine onto both
    pair ends, and folds to the canonical (least, greatest) source
    pair (the reciprocity fold — no self-join, ONE combinable agg).
    Output is ≤ |sources|² rows; same-source and cross-source cells
    are both live on this corpus (templates span sources)."""
    pairs = _q_minhash_neardups(spark, sf_dir)
    src = _read(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("_sb"),
            ),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard_pct",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("jaccard_pct").cast("long").alias("sum_jaccard_pct"),
        )
    )


def _o_source_contamination() -> str:
    return f"""
WITH mh AS ({_o_minhash_neardups()})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)::BIGINT AS n_pairs,
       sum(m.jaccard_pct)::BIGINT AS sum_jaccard_pct
FROM mh m
JOIN documents da ON m.id_a = da.doc_id
JOIN documents db ON m.id_b = db.doc_id
GROUP BY 1, 2
"""


def _o_minhash_cte() -> str:
    """Shared minhash CTE chain (no WITH): base→wx→dw→sig→bands→cand —
    reused by the pair oracle (threshold-parameterized) and the
    estimator-calibration oracle."""
    mh = _d_h48("(i::VARCHAR || ':' || w)")
    return f"""base AS ({_d_words_cte()}),
wx0 AS (SELECT doc_id, unnest(list_distinct(words)) AS w FROM base),
cap AS (SELECT ((9 * count(*) + 9) // 10)::BIGINT AS v FROM documents),
wx AS (SELECT doc_id, w FROM (
           SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
       WHERE df <= (SELECT v FROM cap)),
dw AS (SELECT doc_id, list(w) AS ws FROM wx GROUP BY doc_id),
sig AS (
    SELECT wx.doc_id, t.i, min({mh}) AS mh
    FROM wx CROSS JOIN range({_MINHASH_K}) t(i)
    GROUP BY wx.doc_id, t.i
),
bands AS (
    SELECT doc_id, i // {_MINHASH_K // _MINHASH_BANDS} AS band,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bh
    FROM sig GROUP BY doc_id, i // {_MINHASH_K // _MINHASH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""


def _o_minhash_neardups(threshold_pct: int | None = None) -> str:
    t = (
        int(_MINHASH_THRESHOLD * 100)
        if threshold_pct is None
        else int(threshold_pct)
    )
    inter = "len(list_filter(a.ws, x -> list_contains(b.ws, x)))"
    return f"""
WITH {_o_minhash_cte()}
SELECT c.id_a, c.id_b,
       floor({inter} * 100 /
             (len(a.ws) + len(b.ws) - {inter}))::BIGINT AS jaccard_pct
FROM cand c JOIN dw a ON a.doc_id = c.id_a JOIN dw b ON b.doc_id = c.id_b
WHERE floor({inter} * 100 / (len(a.ws) + len(b.ws) - {inter}))
      >= {t}
"""


#: Calibration threshold — LOWER than the 0.8 dedup operating point so
#: the error curve covers the deciles beneath it. 50 (not 30): the
#: template corpus's pair mass grows steeply below j=0.5 and the
#: threshold-30 run measured 34 s at sf0.1 (vs 13 s at 50) for two
#: extra sparsely-populated deciles — deciles 5..10 carry the curve.
_CAL_THRESHOLD_PCT = 50


def _q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (operators/dedup.
    minhash_estimator_calibration): |signature-agreement estimate −
    exact Jaccard| per true-Jaccard decile over the verified pair
    graph at threshold 30 — the audit that decides whether k=16
    hashes suffice for a similarity regime (E[err] ≈ 100·√(j(1−j)/k))."""
    from servico_ocr_spark.operators import minhash_estimator_calibration

    return minhash_estimator_calibration(
        _read(spark, sf_dir, "documents"),
        num_hashes=_MINHASH_K,
        bands=_MINHASH_BANDS,
        threshold=_CAL_THRESHOLD_PCT / 100,
        max_word_df=_minhash_word_cap(spark, sf_dir),
    )


def _o_minhash_calibration() -> str:
    return f"""
WITH pv AS MATERIALIZED (
    {_o_minhash_neardups(threshold_pct=_CAL_THRESHOLD_PCT)}
),
{_o_minhash_cte()},
eqt AS (
    SELECT p.id_a, p.id_b, p.jaccard_pct,
           sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::BIGINT AS eq
    FROM pv p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b AND sb.i = sa.i
    GROUP BY 1, 2, 3
),
err AS (
    SELECT (jaccard_pct // 10)::BIGINT AS decile,
           abs((eq * 100) // {_MINHASH_K} - jaccard_pct) AS err_pp
    FROM eqt
)
SELECT decile, count(*)::BIGINT AS n_pairs,
       (sum(err_pp) // count(*))::BIGINT AS mean_abs_err_pp
FROM err GROUP BY decile
"""


def _q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-agreement telemetry: FULL OUTER join of the minhash
    pair set (word-set Jaccard) against the simhash pair set (bit
    hamming) → per-status counts and score mass ('both' /
    'minhash_only' / 'simhash_only') — the crawl_delta diff pattern
    applied to dedup observability. Word-Jaccard and hamming disagree
    by DESIGN on real corpora (simhash weights repeats, minhash
    ignores them); this query is how a production pipeline measures
    that disagreement before trusting either alone. Output is the
    bounded 3-row rollup; the join itself runs at full pair volume on
    the two operators' genuine outputs."""
    mh = _q_minhash_neardups(spark, sf_dir).select(
        "id_a", "id_b", "jaccard_pct"
    )
    sh = _q_simhash_neardups(spark, sf_dir).select(
        "id_a", "id_b", "hamming"
    )
    j = mh.join(sh, ["id_a", "id_b"], "full_outer")
    status = (
        F.when(
            F.col("jaccard_pct").isNotNull()
            & F.col("hamming").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("jaccard_pct").isNotNull(), F.lit("minhash_only"))
        .otherwise(F.lit("simhash_only"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("jaccard_pct", F.lit(0)).alias("j"),
            F.coalesce("hamming", F.lit(0)).alias("h"),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("j").cast("long").alias("sum_jaccard_pct"),
            F.sum("h").cast("long").alias("sum_hamming"),
        )
    )


def _o_dedup_agreement() -> str:
    return f"""
WITH mh AS ({_o_minhash_neardups()}),
sh AS ({_o_simhash_neardups()}),
j AS (
    SELECT coalesce(mh.id_a, sh.id_a) AS id_a,
           mh.jaccard_pct, sh.hamming
    FROM mh FULL OUTER JOIN sh
      ON mh.id_a = sh.id_a AND mh.id_b = sh.id_b
)
SELECT CASE
         WHEN jaccard_pct IS NOT NULL AND hamming IS NOT NULL THEN 'both'
         WHEN jaccard_pct IS NOT NULL THEN 'minhash_only'
         ELSE 'simhash_only'
       END AS status,
       count(*)::BIGINT AS n_pairs,
       sum(coalesce(jaccard_pct, 0))::BIGINT AS sum_jaccard_pct,
       sum(coalesce(hamming, 0))::BIGINT AS sum_hamming
FROM j GROUP BY 1
"""


def _q_incremental_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.
    incremental_near_duplicates): the doc_id % 3 == 0 third plays the
    'new crawl batch', the rest the history — candidates restricted to
    CROSS-side band collisions (old×old mass never generated). Same
    signature/cap arithmetic as minhash_neardups, so pairs here are
    exactly that query's pairs that cross the partition — the nesting
    is the correctness story."""
    docs = _read(spark, sf_dir, "documents")
    from servico_ocr_spark.operators import incremental_near_duplicates

    return incremental_near_duplicates(
        docs.where(F.col("doc_id") % 3 != 0),
        docs.where(F.col("doc_id") % 3 == 0),
        num_hashes=_MINHASH_K,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
        max_word_df=_minhash_word_cap(spark, sf_dir),
    )


def _o_incremental_neardups() -> str:
    mh = _d_h48("(i::VARCHAR || ':' || w)")
    inter = "len(list_filter(a.ws, x -> list_contains(b.ws, x)))"
    return f"""
WITH base AS ({_d_words_cte()}),
wx0 AS (SELECT doc_id, unnest(list_distinct(words)) AS w FROM base),
cap AS (SELECT ((9 * count(*) + 9) // 10)::BIGINT AS v FROM documents),
wx AS (SELECT doc_id, w FROM (
           SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
       WHERE df <= (SELECT v FROM cap)),
dw AS (SELECT doc_id, list(w) AS ws FROM wx GROUP BY doc_id),
sig AS (
    SELECT wx.doc_id, t.i, min({mh}) AS mh
    FROM wx CROSS JOIN range({_MINHASH_K}) t(i)
    GROUP BY wx.doc_id, t.i
),
bands AS (
    SELECT doc_id, i // {_MINHASH_K // _MINHASH_BANDS} AS band,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bh
    FROM sig GROUP BY doc_id, i // {_MINHASH_K // _MINHASH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS old_id, b.doc_id AS new_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh
     AND a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
)
SELECT c.old_id, c.new_id,
       floor({inter} * 100 /
             (len(a.ws) + len(b.ws) - {inter}))::BIGINT AS jaccard_pct
FROM cand c JOIN dw a ON a.doc_id = c.old_id JOIN dw b ON b.doc_id = c.new_id
WHERE floor({inter} * 100 / (len(a.ws) + len(b.ws) - {inter}))
      >= {int(_MINHASH_THRESHOLD * 100)}
"""


def _q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup grouping over the minhash pair graph.
    Alternating large-star/small-star contraction (O(log D) rounds) is
    driver-orchestrated but entirely distributed per round; the oracle
    is an exact recursive-CTE twin."""
    from servico_ocr_spark.operators import neardup_components

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, num_hashes=_MINHASH_K, bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
        max_word_df=_minhash_word_cap(spark, sf_dir),
    )
    return neardup_components(docs, pairs)


def _o_neardup_components() -> str:
    return f"""
WITH RECURSIVE mp AS ({_o_minhash_neardups()}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM mp
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM mp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(r) AS component_id,
       (CASE WHEN node = min(r) THEN 1 ELSE 0 END)::INT AS keeper
FROM reach GROUP BY node
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_read(spark, sf_dir, "documents"))


_SIMHASH_BITS = 60  # 4 bands × 15 bits; see operators/dedup.py simhash()
_SIMHASH_BANDS = 4


def _o_simhash_core() -> str:
    """Signature CTE chain for docs WITH words only (word-less docs emit
    no wx rows). Bits 0..47 from h48(w), 48..59 from h48('~' || w) —
    lockstep with operators.dedup._simhash_sigs."""
    h1 = _d_h48("w")
    h2 = _d_h48("('~' || w)")
    return f"""
base AS ({_d_words_cte()}),
wx AS (SELECT doc_id, unnest(list_distinct(words)) AS w FROM base),
hx AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM wx),
votes AS (
    SELECT doc_id, b.b,
           sum(CASE WHEN (CASE WHEN b.b < 48 THEN h1 >> b.b
                               ELSE h2 >> (b.b - 48) END) & 1 = 1
                    THEN 1 ELSE -1 END) AS v
    FROM hx CROSS JOIN range({_SIMHASH_BITS}) b(b)
    GROUP BY doc_id, b.b
),
sig AS (
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
               AS simhash
    FROM votes GROUP BY doc_id
)"""


def _o_simhash() -> str:
    # LEFT JOIN keeps word-less docs with signature 0 (Spark's
    # explode_outer does the same) — one row per document, always.
    return f"""
WITH {_o_simhash_core()}
SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sig s ON s.doc_id = d.doc_id
"""


def _q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(
        _read(spark, sf_dir, "documents"), max_hamming=3
    )


def _o_simhash_neardups() -> str:
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1
    # pairing uses sig directly (docs with words only): word-less docs are
    # excluded from near-dup pairing on both sides by construction.
    return f"""
WITH {_o_simhash_core()},
bands AS (
    SELECT doc_id, b.b, (simhash >> ({width} * b.b)) & {mask} AS bv
    FROM sig CROSS JOIN range({_SIMHASH_BANDS}) b(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                             AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming
FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


# shingle df cap — BINDING at sf0.01 (shingle df reaches 7 there), so the
# driver hash proves the capped-jaccard semantics, not just the plumbing
_NGRAM_MAX_DF = 5


def _title_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, title)`` fixture with KNOWN distance-1 structure (the
    decontaminate inject-a-known-sentence lesson — the natural corpus's
    titles differ by whole words, never one character): every group of
    7 consecutive ids shares a stem 'crawl report nr G', and doc_id % 3
    injects a one-char substitution ('repart') and insertion
    ('reports'); neighboring group numbers differing in one digit add
    cross-group dist-1 pairs. Pure ASCII, so Spark's codepoint
    levenshtein and DuckDB's byte levenshtein agree exactly (the
    linkage module's dialect rule)."""
    return _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat('crawl ', CASE cast(doc_id % 3 as int) WHEN 1 THEN "
            "'repart' WHEN 2 THEN 'reports' ELSE 'report' END, ' nr ', "
            "cast(doc_id div 7 as string))"
        ).alias("title"),
    )


def _q_title_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style distance-1 record linkage
    (operators/linkage.edit1_linkage): ONE equi-join on deletion-
    neighborhood keys enumerates candidates (per-key fan-out bounded by
    near-duplicate family size, never corpus size — the scalable
    alternative to blocked all-pairs, whose blocks track corpus size on
    this vocabulary), exact levenshtein verifies. Identical titles
    collapse to counts before key generation."""
    from servico_ocr_spark.operators import edit1_linkage

    return edit1_linkage(_title_corpus(spark, sf_dir))


_O_TITLE_LINKAGE = """
WITH t AS (
    SELECT doc_id,
           'crawl ' || (CASE doc_id % 3 WHEN 1 THEN 'repart'
                        WHEN 2 THEN 'reports' ELSE 'report' END)
           || ' nr ' || (doc_id // 7)::VARCHAR AS title
    FROM documents
),
c AS (SELECT title, count(*)::BIGINT AS n FROM t GROUP BY title),
k AS (
    SELECT title AS s, title AS key FROM c
    UNION ALL
    SELECT title AS s,
           substr(title, 1, CAST(i AS INT))
               || substr(title, CAST(i + 2 AS INT)) AS key
    FROM (SELECT title, unnest(range(len(title))) AS i FROM c) z
),
p AS (
    SELECT DISTINCT a.s AS s_a, b.s AS s_b
    FROM k a JOIN k b ON a.key = b.key AND a.s < b.s
),
v AS (SELECT s_a, s_b FROM p WHERE levenshtein(s_a, s_b) <= 1)
SELECT v.s_a, v.s_b, ca.n AS n_a, cb.n AS n_b,
       levenshtein(v.s_a, v.s_b)::BIGINT AS dist
FROM v
JOIN c ca ON ca.title = v.s_a
JOIN c cb ON cb.title = v.s_b
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), n=3, threshold_pct=20,
        max_doc_freq=_NGRAM_MAX_DF,
    )


def _o_ngram_jaccard() -> str:
    gram_hash = _d_h48("(w || ' ' || w1 || ' ' || w2)")
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id,
           generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
gx0 AS (
    SELECT DISTINCT doc_id, {gram_hash} AS g
    FROM led WHERE w2 IS NOT NULL
),
gx AS (SELECT doc_id, g FROM (
           SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM gx0)
       WHERE df <= {_NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM gx GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       floor(p.inter * 100 / (sa.n_grams + sb.n_grams - p.inter))::BIGINT
           AS jaccard_pct
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
WHERE floor(p.inter * 100 / (sa.n_grams + sb.n_grams - p.inter)) >= 20
"""


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment (operators/dedup.
    ngram_containment_pairs — Broder 1997): |A∩B|·100 div |A| per
    DIRECTION, the quotation/subset detector a union-denominator
    Jaccard pass misses. Same binding df cap as ngram_jaccard."""
    from servico_ocr_spark.operators import ngram_containment_pairs

    return ngram_containment_pairs(
        _read(spark, sf_dir, "documents"),
        n=3,
        threshold_pct=50,
        max_doc_freq=_NGRAM_MAX_DF,
    )


def _o_ngram_containment() -> str:
    gram_hash = _d_h48("(w || ' ' || w1 || ' ' || w2)")
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id,
           generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
gx0 AS (
    SELECT DISTINCT doc_id, {gram_hash} AS g
    FROM led WHERE w2 IS NOT NULL
),
gx AS (SELECT doc_id, g FROM (
           SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM gx0)
       WHERE df <= {_NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM gx GROUP BY doc_id),
inter AS MATERIALIZED (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
dirs AS (
    SELECT id_a, id_b, inter FROM inter
    UNION ALL
    SELECT id_b AS id_a, id_a AS id_b, inter FROM inter
)
SELECT b.id_a, b.id_b, s.n_grams::BIGINT AS n_a, b.inter::BIGINT AS inter,
       ((b.inter * 100) // s.n_grams)::BIGINT AS containment_pct
FROM dirs b JOIN sizes s ON s.doc_id = b.id_a
WHERE (b.inter * 100) // s.n_grams >= 50
"""


def _q_copy_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-directed copy edges (operators/dedup.
    provenance_edges): containment pairs folded to canonical form, the
    LATER-seen side the copier — keep-oldest dedup with the audit
    direction explicit. Synthetic deterministic first-seen order
    (h48 of the id) since documents carries no crawl ts; the operator
    takes a real (id, seen) table when one exists."""
    from servico_ocr_spark.operators import provenance_edges

    return provenance_edges(
        _read(spark, sf_dir, "documents"),
        n=3,
        threshold_pct=50,
        max_doc_freq=_NGRAM_MAX_DF,
    )


def _o_copy_provenance() -> str:
    from servico_ocr_spark.operators.dedup import PROVENANCE_SEED

    su = _d_h48(f"('{PROVENANCE_SEED}' || u::VARCHAR)")
    sv = _d_h48(f"('{PROVENANCE_SEED}' || v::VARCHAR)")
    return f"""
WITH cont AS MATERIALIZED ({_o_ngram_containment()}),
canon AS (
    SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v,
           max(containment_pct)::BIGINT AS containment_pct
    FROM cont GROUP BY 1, 2
),
sd AS (
    SELECT u, v, containment_pct, {su} AS su, {sv} AS sv FROM canon
)
SELECT CASE WHEN su > sv OR (su = sv AND u > v) THEN u ELSE v END
           AS copier_id,
       CASE WHEN su > sv OR (su = sv AND u > v) THEN v ELSE u END
           AS source_id,
       containment_pct
FROM sd
"""


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/dedup.
    winnow_fingerprints — Schleimer et al. 2003), summarized per doc:
    gram count, fingerprint count and a BIGINT-safe checksum
    (sum(fp mod 1e9+7)) pinning the selected SET. Docs with < k tokens
    restored with zeros (the zero-token rule). n_grams is derived
    directly from the token count (max(n−k+1, 0)) so the summary costs
    one extra projection, not a second gram pass."""
    from servico_ocr_spark.operators import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=3, window=4)
    agg = fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"),
        F.sum(F.pmod(F.col("fp_h48"), F.lit(1_000_000_007)))
        .cast("long")
        .alias("fp_checksum"),
    )
    base = docs.select(
        "doc_id",
        F.greatest(
            F.size(words_array(F.col("text"))) - F.lit(2), F.lit(0)
        ).cast("long").alias("n_grams"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
        F.coalesce("fp_checksum", F.lit(0))
        .cast("long")
        .alias("fp_checksum"),
    )


#: winnow_pairs boilerplate cap — binding on the template corpus at
#: every sf (the hotshingle/ngram cap-regime precedent)
_WINNOW_MAX_DF = 5


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS's cross-document step (operators/dedup.winnow_pairs): doc
    pairs sharing winnowing fingerprints, boilerplate fingerprints
    dropped by the df cap BEFORE the pair join (fan-out bounded at
    df²)."""
    from servico_ocr_spark.operators import winnow_pairs

    return winnow_pairs(
        _read(spark, sf_dir, "documents"),
        k=3,
        window=4,
        max_fp_df=_WINNOW_MAX_DF,
    )


def _o_winnow_cte() -> str:
    """Shared fps CTE: winnowing selection as pure SQL — the rightmost-
    min rule rides the same v = gh·16 + (15 − offset) encoding the Spark
    operator uses, so both engines pick identical fingerprints."""
    gram_hash = _d_h48("(w || ' ' || w1 || ' ' || w2)")
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos,
           unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, pos, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
g AS (
    SELECT doc_id, pos AS j, {gram_hash} AS gh,
           count(*) OVER (PARTITION BY doc_id) AS gc
    FROM led WHERE w2 IS NOT NULL
),
memb AS (
    SELECT doc_id, j, gh,
           unnest(range(greatest(j - 3, 0),
                        least(j, greatest(gc - 4, 0)) + 1)) AS i
    FROM g
),
sel AS (
    SELECT doc_id, i, min(gh * 16 + (15 - (j - i))) AS v
    FROM memb GROUP BY doc_id, i
),
fps AS (
    SELECT DISTINCT doc_id, i + (15 - (v % 16)) AS fp_pos, v // 16 AS fp
    FROM sel
)"""


def _o_winnow_fingerprints() -> str:
    return _o_winnow_cte() + """,
agg AS (
    SELECT doc_id, count(*)::BIGINT AS n_fps,
           sum(fp % 1000000007)::BIGINT AS fp_checksum
    FROM fps GROUP BY doc_id
)
SELECT b.doc_id, greatest(len(words) - 2, 0)::BIGINT AS n_grams,
       coalesce(n_fps, 0)::BIGINT AS n_fps,
       coalesce(fp_checksum, 0)::BIGINT AS fp_checksum
FROM base b LEFT JOIN agg USING (doc_id)
"""


def _o_winnow_pairs() -> str:
    return _o_winnow_cte() + f""",
fd AS (SELECT DISTINCT doc_id, fp FROM fps),
fc AS (
    SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfp FROM fd
    ) WHERE dfp <= {_WINNOW_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# ExactSubstr span removal window (tokens). 10 binds on this corpus at
# every sf: the template near-dup families + injected chain sentences
# carry duplicated runs >= 10 tokens (sf0.01: ~9% of tokens removed
# across ~47 docs), while most text survives — removal AND retention
# both exercised live.
_SPAN_MIN_LEN = 10


def _q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        _read(spark, sf_dir, "documents"), min_len=_SPAN_MIN_LEN
    ).orderBy("doc_id")


def _o_dup_span_removal() -> str:
    L = _SPAN_MIN_LEN
    leads = ", ".join(
        f"lead(w, {k}) OVER win AS w{k}" for k in range(1, L)
    )
    gram = "w || ' ' || " + " || ' ' || ".join(f"w{k}" for k in range(1, L))
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, pos, w, {leads}
    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (
    SELECT doc_id, pos, w,
           CASE WHEN w{L - 1} IS NOT NULL THEN {gram} END AS gram
    FROM led
),
c AS (
    SELECT gram FROM (
        SELECT gram, count(*) AS n FROM g WHERE gram IS NOT NULL
        GROUP BY gram)
    WHERE n > 1
),
cov AS (
    SELECT g.doc_id, g.pos, g.w,
           max(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY g.doc_id ORDER BY g.pos
                     ROWS BETWEEN {L - 1} PRECEDING AND CURRENT ROW)
               AS covered
    FROM g LEFT JOIN c ON g.gram = c.gram
),
agg AS (
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           sum(covered)::BIGINT AS n_removed,
           coalesce(string_agg(w, ' ' ORDER BY pos)
                        FILTER (WHERE covered = 0), '') AS clean_text
    FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.n_removed, 0)::BIGINT AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ===========================================================================
# Binding-regime dedup fixtures: path-graph chains and hot-shingle
# boilerplate (derived deterministically from doc_id alone, so the df cap
# and the component iteration are exercised in their BINDING regimes at
# every sf — the natural corpus is template-heavy/clique-ish and never
# binds them; see operators/dedup.py neardup_components docstring on why
# chains are the adversarial case for connected components)
# ===========================================================================

_CHAIN_LEN = 32  # docs per chain (g = doc_id div 32, p = doc_id % 32)
_CHAIN_WIN = 20  # sliding word window; J(distance d) = (20-d)/(20+d)
# threshold 80 keeps distance<=2 edges (81.8%) and drops d=3 (73.9%) — a
# bandwidth-2 path graph whose diameter grows with chain length, with NO
# shortcut edge between chain ends
_CHAIN_THRESHOLD = 80
_CHAIN_K = 16
_CHAIN_BANDS = 8  # 8 bands x 2 rows: P(candidate|J=0.9) = 1-(1-J^2)^8
#                   ~= 1-1.4e-4 — adjacent chain edges virtually never
#                   miss banding, and the oracle mirrors the banding
#                   exactly anyway (determinism, not recall, is what the
#                   driver compare needs)


def _chain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-graph near-dup corpus: doc p in chain g holds the md5-derived
    words w(g, p) .. w(g, p+19), so adjacent docs share 19 of 21 distinct
    words and similarity decays linearly with chain distance. Pure JVM
    expressions; the DuckDB twin builds the identical table from the same
    md5 arithmetic."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    words = F.expr(
        f"transform(sequence(doc_id % {_CHAIN_LEN}, "
        f"doc_id % {_CHAIN_LEN} + {_CHAIN_WIN - 1}), "
        f"j -> substr(md5(concat(cast(doc_id div {_CHAIN_LEN} as string), "
        f"'_', cast(j as string))), 1, 8))"
    )
    return docs.select("doc_id", F.array_join(words, " ").alias("text"))


def _d_chain_wx() -> str:
    """DuckDB (doc_id, w) distinct-word twin of ``_chain_corpus`` +
    ``distinct_words`` (8-char md5 hex survives normalization verbatim)."""
    return f"""
wx AS (
    SELECT DISTINCT doc_id,
           substr(md5((doc_id // {_CHAIN_LEN})::VARCHAR || '_' ||
                      ((doc_id % {_CHAIN_LEN}) + j.j)::VARCHAR), 1, 8) AS w
    FROM documents CROSS JOIN range({_CHAIN_WIN}) j(j)
)"""


def _o_minhash_pairs_from_wx(k: int, bands: int, threshold_pct: int) -> str:
    """Signature→band→candidate→verify CTE chain over a prebuilt ``wx``
    (doc_id, w) table — lockstep with operators/dedup.py
    ``_minhash_build``. Emits CTEs up to ``mp(id_a, id_b, jaccard_pct)``."""
    rows = k // bands
    mh = _d_h48("(t.i::VARCHAR || ':' || w)")
    return f"""
sig AS (
    SELECT wx.doc_id, t.i, min({mh}) AS mh
    FROM wx CROSS JOIN range({k}) t(i)
    GROUP BY wx.doc_id, t.i
),
bandsx AS (
    SELECT doc_id, i // {rows} AS band,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bh
    FROM sig GROUP BY doc_id, i // {rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bandsx a JOIN bandsx b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM wx GROUP BY doc_id),
inters AS (
    SELECT c.id_a, c.id_b, count(*) AS ic
    FROM cand c JOIN wx a ON a.doc_id = c.id_a
                JOIN wx b ON b.doc_id = c.id_b AND b.w = a.w
    GROUP BY c.id_a, c.id_b
),
mp AS (
    SELECT x.id_a, x.id_b,
           floor(x.ic * 100 / (sa.n + sb.n - x.ic))::BIGINT AS jaccard_pct
    FROM inters x JOIN sizes sa ON sa.doc_id = x.id_a
                  JOIN sizes sb ON sb.doc_id = x.id_b
    WHERE floor(x.ic * 100 / (sa.n + sb.n - x.ic)) >= {threshold_pct}
)"""


def _q_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup over a path graph: every chain must collapse into
    ONE component although no direct edge links its ends — the regime
    where plain min-label propagation is O(diameter) rounds and
    star-contraction's O(log D) matters."""
    from servico_ocr_spark.operators import neardup_components

    chain = _chain_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        chain, num_hashes=_CHAIN_K, bands=_CHAIN_BANDS,
        threshold=_CHAIN_THRESHOLD / 100, max_word_df=None,
    )
    return neardup_components(chain, pairs)


def _o_chain_components() -> str:
    return f"""
WITH RECURSIVE {_d_chain_wx()},
{_o_minhash_pairs_from_wx(_CHAIN_K, _CHAIN_BANDS, _CHAIN_THRESHOLD)},
edges AS (
    SELECT id_a AS a, id_b AS b FROM mp
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM mp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(r) AS component_id,
       (CASE WHEN node = min(r) THEN 1 ELSE 0 END)::INT AS keeper
FROM reach GROUP BY node
"""


def _q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper: components over the chain corpus, then
    per-component argmax of a deterministic doc quality (md5-derived
    integer, the fixture stand-in for a real quality_score) — the row a
    curation pipeline actually writes out per duplicate family."""
    from servico_ocr_spark.operators import (
        component_representatives,
        neardup_components,
    )

    chain = _chain_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        chain, num_hashes=_CHAIN_K, bands=_CHAIN_BANDS,
        threshold=_CHAIN_THRESHOLD / 100, max_word_df=None,
    )
    comps = neardup_components(chain, pairs)
    scores = chain.select(
        "doc_id",
        (h48(F.concat(F.col("doc_id").cast("string"), F.lit("q"))) % 1000)
        .alias("score"),
    )
    return component_representatives(comps, scores)


def _o_neardup_keep_best() -> str:
    score = _d_h48("(doc_id::VARCHAR || 'q')")
    return f"""
WITH RECURSIVE {_d_chain_wx()},
{_o_minhash_pairs_from_wx(_CHAIN_K, _CHAIN_BANDS, _CHAIN_THRESHOLD)},
edges AS (
    SELECT id_a AS a, id_b AS b FROM mp
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM mp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (
    SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
),
sc AS (SELECT doc_id, {score} % 1000 AS score FROM documents),
ranked AS (
    SELECT c.component_id, c.doc_id, sc.score,
           row_number() OVER (PARTITION BY c.component_id
                              ORDER BY sc.score DESC, c.doc_id) AS rn,
           count(*) OVER (PARTITION BY c.component_id) AS n_members
    FROM comp c JOIN sc ON c.doc_id = sc.doc_id
)
SELECT component_id, doc_id AS keep_id, score::BIGINT AS best_score,
       n_members::BIGINT AS n_members
FROM ranked WHERE rn = 1
"""


_HOTSHINGLE_BOILER = 15  # boilerplate words shared by EVERY doc (df = n)
_HOTSHINGLE_UNIQ = 10  # discriminative words; doc pair (2u, 2u+1) shares 9
_HOTSHINGLE_CAP = 5  # BINDING at every sf: boilerplate df = n >> 5, while
#                      discriminative words have df <= 2 structurally —
#                      unlike the natural corpus, a constant cap is safe
#                      here at any scale
_HOTSHINGLE_THRESHOLD = 80  # capped pair jaccard = 9/11 = 81% >= 80;
#                             without the cap every unrelated pair shares
#                             the 15 boilerplate words (J = 15/35 = 43%) —
#                             candidate fan-out quadratic in n


def _hotshingle_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial-boilerplate corpus: every doc carries the same 15
    boilerplate words plus a 10-word discriminative window shared (9/11)
    with its partner doc (doc_id div 2). Exercises the word-df cap in its
    binding regime: without the cap the boilerplate makes every doc pair
    a mid-similarity candidate."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    boiler = F.array(
        *[F.lit(f"boilerplate{i}") for i in range(_HOTSHINGLE_BOILER)]
    )
    uniq = F.expr(
        f"transform(sequence(doc_id % 2, doc_id % 2 + {_HOTSHINGLE_UNIQ - 1}), "
        f"j -> substr(md5(concat(cast(doc_id div 2 as string), 'u', "
        f"cast(j as string))), 1, 8))"
    )
    return docs.select(
        "doc_id", F.array_join(F.concat(boiler, uniq), " ").alias("text")
    )


def _q_hotshingle_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        _hotshingle_corpus(spark, sf_dir),
        num_hashes=_CHAIN_K, bands=_CHAIN_BANDS,
        threshold=_HOTSHINGLE_THRESHOLD / 100,
        max_word_df=_HOTSHINGLE_CAP,
    )


def _o_hotshingle_neardups() -> str:
    return f"""
WITH wx0 AS (
    SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               substr(md5((doc_id // 2)::VARCHAR || 'u' ||
                          ((doc_id % 2) + j.j)::VARCHAR), 1, 8) AS w
        FROM documents CROSS JOIN range({_HOTSHINGLE_UNIQ}) j(j)
        UNION ALL
        SELECT doc_id, 'boilerplate' || i.i::VARCHAR AS w
        FROM documents CROSS JOIN range({_HOTSHINGLE_BOILER}) i(i)
    )
),
wx AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
    WHERE df <= {_HOTSHINGLE_CAP}
),
{_o_minhash_pairs_from_wx(_CHAIN_K, _CHAIN_BANDS, _HOTSHINGLE_THRESHOLD)}
SELECT id_a, id_b, jaccard_pct FROM mp
"""


_ZIPF_SLOTS = 16  # background word slots per doc
_ZIPF_RANK_MAX = 4096  # vocabulary tail cap (rank ids beyond collapse)
_ZIPF_PAIR_WORDS = 10  # discriminative window; partners share 9 of 11
_ZIPF_CAP = 32  # CONSTANT df cap — binding at every sf (see below)
_ZIPF_THRESHOLD = 40  # capped true-pair J ranges ~47-81%; false pairs
#                       share only surviving background words (J ≤ ~15%)
_TWO48 = 1 << 48


def _zipf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tailed (Zipf) vocabulary corpus, derived from doc_id md5
    arithmetic only (VERDICT r3 item 4).

    Each doc carries a 10-word discriminative window shared 9/11 with its
    partner (doc_id div 2) plus 16 background slots drawn from a Zipf-ish
    vocabulary: slot hash v is uniform on [0, 2^48) and the word is rank
    ``r = min(2^48 div (v+1), 4096)``, so P(r) = 1/(r(r+1)) ~ 1/r² — a
    true heavy tail from pure integer arithmetic (portable to the DuckDB
    twin; no float pow). df(r) ≈ 16·n/(r(r+1)) TRACKS corpus size at
    every rank, so the CONSTANT cap of 32 binds at every sf and cuts
    deeper into the vocabulary as n grows (ranks below ~sqrt(n/2) are
    boilerplate) — the real-web regime, unlike the natural 31-word corpus
    whose cap must be derived per scale (see _minhash_word_cap)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    pair = F.expr(
        f"transform(sequence(doc_id % 2, doc_id % 2 + {_ZIPF_PAIR_WORDS - 1}), "
        f"k -> substr(md5(concat(cast(doc_id div 2 as string), 'p', "
        f"cast(k as string))), 1, 8))"
    )
    zipf = F.expr(
        f"transform(sequence(0, {_ZIPF_SLOTS - 1}), j -> concat('z', cast("
        f"least({_TWO48} div (cast(conv(substr(md5(concat("
        f"cast(doc_id as string), 'z', cast(j as string))), 1, 12), 16, 10) "
        f"as bigint) + 1), {_ZIPF_RANK_MAX}) as string)))"
    )
    return docs.select(
        "doc_id", F.array_join(F.concat(pair, zipf), " ").alias("text")
    )


def _q_zipf_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        _zipf_corpus(spark, sf_dir),
        num_hashes=_CHAIN_K, bands=_CHAIN_BANDS,
        threshold=_ZIPF_THRESHOLD / 100, max_word_df=_ZIPF_CAP,
    )


def _o_zipf_neardups() -> str:
    zh = _d_h48("(doc_id::VARCHAR || 'z' || j.j::VARCHAR)")
    return f"""
WITH wx0 AS (
    SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               substr(md5((doc_id // 2)::VARCHAR || 'p' ||
                          ((doc_id % 2) + k.k)::VARCHAR), 1, 8) AS w
        FROM documents CROSS JOIN range({_ZIPF_PAIR_WORDS}) k(k)
        UNION ALL
        SELECT doc_id,
               'z' || least({_TWO48} // ({zh} + 1),
                            {_ZIPF_RANK_MAX})::VARCHAR AS w
        FROM documents CROSS JOIN range({_ZIPF_SLOTS}) j(j)
    )
),
wx AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
    WHERE df <= {_ZIPF_CAP}
),
{_o_minhash_pairs_from_wx(_CHAIN_K, _CHAIN_BANDS, _ZIPF_THRESHOLD)}
SELECT id_a, id_b, jaccard_pct FROM mp
"""


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================

_ANN_QUERIES = 8
_ANN_K = 5

_O_INT_VEC = "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000)::BIGINT)"


def _q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, emb.where(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K
    )


def _o_ann_brute_topk() -> str:
    return f"""
WITH v AS (
    SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings
),
n AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
q AS (SELECT vec_id AS query_id, iv AS qv, nrm AS qnorm FROM n
      WHERE vec_id < {_ANN_QUERIES}),
pairs AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(
               range(1, len(q.qv) + 1),
               i -> q.qv[i] * n.iv[i])) AS BIGINT) AS dot,
           q.qnorm, n.nrm
    FROM q JOIN n ON n.vec_id <> q.query_id
),
scored AS (
    SELECT query_id, neighbor_id,
           floor(dot * 1000000 /
                 (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))))::BIGINT
               AS cos_sim_e6
    FROM pairs
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim_e6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim_e6 DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim_e6
FROM ranked WHERE rank <= {_ANN_K}
"""


_BITEXT_K = 4


def _q_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/similarity.margin_bitext —
    Artetxe & Schwenk 2019, the CCMatrix/LASER recipe): mutual-best
    ratio-margin pairs between the 'en' and 'de' embedding sets (lang
    from the documents table, vec_id ≡ doc_id). The fixture's labels
    carry mild real structure (~0.15 within-label cos), so margins are
    spread and the mutual-best intersection prunes most one-way bests
    — both the normalization and the intersection bind. Brute
    candidates at this scale; the margin stage itself is
    candidate-bounded (feed ANN candidates at corpus scale)."""
    from servico_ocr_spark.operators import margin_bitext

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = _read(spark, sf_dir, "embeddings")
    j = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "vec_id", "embedding", "lang"
    )
    return margin_bitext(
        j.where(F.col("lang") == "en"),
        j.where(F.col("lang") == "de"),
        k=_BITEXT_K,
    )


def _o_bitext_mining() -> str:
    return f"""
WITH v AS (
    SELECT e.vec_id, {_O_INT_VEC} AS iv, d.lang
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
n AS (
    SELECT vec_id, iv, lang,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
xs AS (SELECT vec_id AS x_id, iv, nrm FROM n WHERE lang = 'en'),
ys AS (SELECT vec_id AS y_id, iv, nrm FROM n WHERE lang = 'de'),
sc AS (
    SELECT x.x_id, y.y_id,
           floor(CAST(list_sum(list_transform(
                     range(1, len(x.iv) + 1),
                     i -> x.iv[i] * y.iv[i])) AS BIGINT) * 1000000 /
                 (sqrt(CAST(x.nrm AS DOUBLE))
                  * sqrt(CAST(y.nrm AS DOUBLE))))::BIGINT AS cos_sim_e6
    FROM xs x CROSS JOIN ys y
),
ax AS (
    SELECT x_id, (sum(cos_sim_e6) // count(*))::BIGINT AS ax FROM (
        SELECT x_id, cos_sim_e6,
               row_number() OVER (PARTITION BY x_id
                                  ORDER BY cos_sim_e6 DESC, y_id) AS rn
        FROM sc)
    WHERE rn <= {_BITEXT_K} GROUP BY x_id
),
ay AS (
    SELECT y_id, (sum(cos_sim_e6) // count(*))::BIGINT AS ay FROM (
        SELECT y_id, cos_sim_e6,
               row_number() OVER (PARTITION BY y_id
                                  ORDER BY cos_sim_e6 DESC, x_id) AS rn
        FROM sc)
    WHERE rn <= {_BITEXT_K} GROUP BY y_id
),
m AS (
    SELECT s.x_id, s.y_id, s.cos_sim_e6,
           ((s.cos_sim_e6 * 2000)
            // greatest(ax.ax + ay.ay, 1))::BIGINT AS margin_x1e3
    FROM sc s JOIN ax USING (x_id) JOIN ay USING (y_id)
),
r AS (
    SELECT x_id, y_id, cos_sim_e6, margin_x1e3,
           row_number() OVER (PARTITION BY x_id
                              ORDER BY margin_x1e3 DESC, y_id) AS bx,
           row_number() OVER (PARTITION BY y_id
                              ORDER BY margin_x1e3 DESC, x_id) AS by
    FROM m
)
SELECT x_id, y_id, cos_sim_e6, margin_x1e3 FROM r WHERE bx = 1 AND by = 1
"""


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise pruning (operators/similarity.
    label_centroid_outliers): cosine of every vector to its own label's
    centroid-direction (per-dim SUM — no pre-cosine division), outlier
    iff cos < 0. Both branches live at every sf: the labels carry mild
    real structure (measured within-label cos mean ≈ 0.15, range
    −0.30..0.47 at sf0.01), so ~1/4 of vectors flag."""
    from servico_ocr_spark.operators import label_centroid_outliers

    return label_centroid_outliers(_read(spark, sf_dir, "embeddings"))


_O_EMBEDDING_OUTLIERS = f"""
WITH v AS (
    SELECT vec_id, label, {_O_INT_VEC} AS iv FROM embeddings
),
ex AS (
    SELECT vec_id, label, generate_subscripts(iv, 1) - 1 AS d,
           unnest(iv) AS x
    FROM v
),
cent AS (
    SELECT label, d, sum(x)::BIGINT AS sx FROM ex GROUP BY label, d
),
cnorm AS (SELECT label, sum(sx * sx)::BIGINT AS cn FROM cent GROUP BY label),
pv AS (
    SELECT ex.vec_id, ex.label,
           sum(ex.x * cent.sx)::BIGINT AS dot,
           sum(ex.x * ex.x)::BIGINT AS vn
    FROM ex JOIN cent ON cent.label = ex.label AND cent.d = ex.d
    GROUP BY ex.vec_id, ex.label
)
SELECT pv.vec_id, pv.label,
       floor(pv.dot * 1000000 /
             (sqrt(CAST(pv.vn AS DOUBLE))
              * sqrt(CAST(cnorm.cn AS DOUBLE))))::BIGINT AS cos_e6,
       (CASE WHEN floor(pv.dot * 1000000 /
                        (sqrt(CAST(pv.vn AS DOUBLE))
                         * sqrt(CAST(cnorm.cn AS DOUBLE)))) < 0
             THEN 1 ELSE 0 END)::BIGINT AS is_outlier
FROM pv JOIN cnorm ON cnorm.label = pv.label
"""


_EMB_NEARDUP_T = 400000  # sf embeddings are near-orthogonal random vectors; max pair ~0.49
_EMB_NEARDUP_PLANES = 8  # = resolve_srp_planes(65536), i.e. the ~2^16-row
#                          tier — pinned WIDER than the sf corpora resolve
#                          to (sf0.01 -> 5) so the static oracle twin
#                          exercises the scale tier; multi-probe
#                          (hamming-1 buckets) keeps recall up at the
#                          wider plane count on both sides.


_KMEANS_K = 4
_KMEANS_ITERS = 3


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized Lloyd's k-means, 3 fixed rounds
    (operators/clustering.kmeans_lite) — iterative ML with a full
    nested-CTE oracle (the pagerank technique): deterministic init
    (smallest ids), tie-proof argmin (min of d2·k+cid), truncating
    integer centroid means identical in both engines."""
    from servico_ocr_spark.operators import kmeans_lite

    return kmeans_lite(
        _read(spark, sf_dir, "embeddings"),
        k=_KMEANS_K,
        iterations=_KMEANS_ITERS,
    )


def _o_kmeans_chain(
    pfx: str, vec_expr: str, K: int, iters: int
) -> str:
    """Lloyd-iteration CTE fragment (no leading WITH) with every CTE
    name prefixed, ending in ``{pfx}asg(vec_id, cluster, d2)`` — the
    parameterization that lets product quantization run one chain per
    subspace in a single statement."""
    dist = (
        "SELECT p.vid, c.cid,\n"
        "       sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2\n"
        f"FROM {pfx}pts p JOIN {{cent}} c USING (dim)\n"
        "GROUP BY p.vid, c.cid"
    )
    cte = [f"""
{pfx}v AS (SELECT vec_id, {vec_expr} AS iv FROM embeddings),
{pfx}pts AS (
    SELECT vec_id AS vid,
           unnest(range(len(iv)))::BIGINT AS dim,
           unnest(iv)::BIGINT AS q
    FROM {pfx}v
),
{pfx}c0 AS (SELECT vid AS cid, dim, q AS cq FROM {pfx}pts
            WHERE vid < {K})"""]
    for i in range(1, iters + 1):
        prev = f"{pfx}c{i - 1}"
        cte.append(f""",
{pfx}a{i} AS (
    SELECT vid, min(d2 * {K} + cid) AS key
    FROM ({dist.format(cent=prev)})
    GROUP BY vid
),
{pfx}s{i} AS (
    SELECT (a.key % {K}) AS cid, p.dim,
           sum(p.q)::BIGINT AS sm, count(*)::BIGINT AS n
    FROM {pfx}a{i} a JOIN {pfx}pts p ON p.vid = a.vid
    GROUP BY 1, 2
),
{pfx}c{i} AS (
    SELECT c.cid, c.dim,
           COALESCE(s.sm // s.n, c.cq)::BIGINT AS cq
    FROM {prev} c LEFT JOIN {pfx}s{i} s
      ON s.cid = c.cid AND s.dim = c.dim
)""")
    last = f"{pfx}c{iters}"
    cte.append(f""",
{pfx}asg AS (
    SELECT vid::BIGINT AS vec_id,
           (key % {K})::BIGINT AS cluster,
           (key // {K})::BIGINT AS d2
    FROM (
        SELECT vid, min(d2 * {K} + cid) AS key
        FROM ({dist.format(cent=last)})
        GROUP BY vid)
)""")
    return "".join(cte)


def _o_kmeans(K: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    return (
        "WITH "
        + _o_kmeans_chain("", _O_INT_VEC, K, iters)
        + "\nSELECT vec_id, cluster, d2 FROM asg\n"
    )


#: PQ constants: 4 subspaces × 16 centroids = 2^16 codes over the
#: 64-dim embeddings (16 dims per subspace), 2 Lloyd rounds. Chosen
#: from a measured recall sweep (BENCH/PLANS.md): the original 2×4
#: demo config read recall@10 = 0.075 vs exact L2 — a code space of
#: 16 cells cannot rank 500 vectors; 4×16 reads ~0.29 and 8×256
#: ~0.51 on these SYNTHETIC near-random embeddings, which are PQ's
#: structural worst case (no low-dim manifold for the codebooks to
#: exploit — real encoder embeddings cluster and recall rises).
_PQ_M = 4
_PQ_K = 16
_PQ_ITERS = 2


def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/clustering.pq_encode — Jégou
    et al. 2011): per-subspace integer k-means codebooks, radix-k
    packed codes, summed quantization error. The m chains are
    independent kmeans_lite runs over column-pruned subvector
    slices, joined on the id."""
    from servico_ocr_spark.operators import pq_encode

    return pq_encode(
        _read(spark, sf_dir, "embeddings"),
        m=_PQ_M,
        k=_PQ_K,
        iterations=_PQ_ITERS,
        dim=64,
    )


def _o_pq_codes() -> str:
    def vec_expr(lo: int, hi: int) -> str:
        return (
            f"list_transform(embedding[{lo}:{hi}],"
            " x -> floor(CAST(x AS DOUBLE) * 1000)::BIGINT)"
        )

    dsub = 64 // _PQ_M
    chains = ",".join(
        _o_kmeans_chain(
            f"p{s}", vec_expr(s * dsub + 1, (s + 1) * dsub),
            _PQ_K, _PQ_ITERS,
        )
        for s in range(_PQ_M)
    )
    code = " + ".join(
        f"p{s}asg.cluster * {_PQ_K ** s}" for s in range(_PQ_M)
    )
    err = " + ".join(f"p{s}asg.d2" for s in range(_PQ_M))
    joins = " ".join(
        f"JOIN p{s}asg USING (vec_id)" for s in range(1, _PQ_M)
    )
    return f"""
WITH {chains}
SELECT vec_id, ({code})::BIGINT AS pq_code, ({err})::BIGINT AS err2
FROM p0asg {joins}
"""


_PQ_TOPK = 10


def _q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (operators/clustering.pq_search —
    Jégou's ADC, the IVF-PQ query path): per-query m×k integer
    distance tables against the subspace codebooks, database vectors
    scored through their CODES only (broadcast-join chain), top-10
    per query. Self excluded (ANN convention); ADC(q,q) ≡ err2(q)
    pinned in tests."""
    from servico_ocr_spark.operators import pq_search

    emb = _read(spark, sf_dir, "embeddings")
    return pq_search(
        emb,
        emb.where(F.col("vec_id") < _ANN_QUERIES),
        m=_PQ_M,
        k=_PQ_K,
        iterations=_PQ_ITERS,
        k_results=_PQ_TOPK,
        dim=64,
    )


def _o_pq_vec_expr(lo: int, hi: int) -> str:
    return (
        f"list_transform(embedding[{lo}:{hi}],"
        " x -> floor(CAST(x AS DOUBLE) * 1000)::BIGINT)"
    )


def _o_pq_pieces() -> dict:
    """Shared SQL fragments for the PQ oracles: subspace chains, query
    distance-table CTEs, and the code/table join clauses of the
    unranked score relation."""
    dsub = 64 // _PQ_M
    chains = ",".join(
        _o_kmeans_chain(
            f"p{s}", _o_pq_vec_expr(s * dsub + 1, (s + 1) * dsub),
            _PQ_K, _PQ_ITERS,
        )
        for s in range(_PQ_M)
    )
    qparts = []
    for s in range(_PQ_M):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        qparts.append(f""",
qv{s} AS (SELECT vec_id, {_o_pq_vec_expr(lo, hi)} AS iv FROM embeddings
          WHERE vec_id < {_ANN_QUERIES}),
qp{s} AS (SELECT vec_id AS qid,
                 unnest(range(len(iv)))::BIGINT AS dim,
                 unnest(iv)::BIGINT AS q
          FROM qv{s}),
qd{s} AS (SELECT qp.qid, c.cid,
                 sum((qp.q - c.cq) * (qp.q - c.cq))::BIGINT AS qd
          FROM qp{s} qp JOIN p{s}c{_PQ_ITERS} c USING (dim)
          GROUP BY 1, 2)""")
    code_joins = " ".join(
        f"JOIN p{s}asg a{s} USING (vec_id)" for s in range(1, _PQ_M)
    )
    table_joins = ["JOIN qd0 t0 ON t0.cid = a0.cluster"]
    for s in range(1, _PQ_M):
        table_joins.append(
            f"JOIN qd{s} t{s} ON t{s}.cid = a{s}.cluster"
            f" AND t{s}.qid = t0.qid"
        )
    adc = " + ".join(f"t{s}.qd" for s in range(_PQ_M))
    return {
        "chains": chains,
        "qparts": "".join(qparts),
        "code_joins": code_joins,
        "table_joins": " ".join(table_joins),
        "adc": adc,
    }


_O_PQ_RANKED = """,
r AS (
    SELECT query_id, vec_id, adc_d2,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d2, vec_id) AS rank
    FROM sc
)
SELECT query_id, vec_id, adc_d2, rank::BIGINT AS rank
FROM r WHERE rank <= {topk}
"""


def _o_pq_search() -> str:
    p = _o_pq_pieces()
    return f"""
WITH {p['chains']}{p['qparts']},
sc AS (
    SELECT t0.qid AS query_id, a0.vec_id, ({p['adc']})::BIGINT AS adc_d2
    FROM p0asg a0 {p['code_joins']} {p['table_joins']}
    WHERE a0.vec_id <> t0.qid
)""" + _O_PQ_RANKED.format(topk=_PQ_TOPK)


_IVFPQ_COARSE_K = 4
_IVFPQ_NPROBE = 2


def _q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (operators/clustering.ivfpq_search): coarse
    4-cell quantizer, 2 probed cells per query (exact distance, ties
    to the smaller cell id), global-code ADC within probed cells
    only (FAISS by_residual=false shape), top-10."""
    from servico_ocr_spark.operators import ivfpq_search

    emb = _read(spark, sf_dir, "embeddings")
    return ivfpq_search(
        emb,
        emb.where(F.col("vec_id") < _ANN_QUERIES),
        coarse_k=_IVFPQ_COARSE_K,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        k=_PQ_K,
        iterations=_PQ_ITERS,
        k_results=_PQ_TOPK,
        dim=64,
    )


def _o_ivfpq_search() -> str:
    p = _o_pq_pieces()
    coarse = _o_kmeans_chain(
        "cg", _O_INT_VEC, _IVFPQ_COARSE_K, _PQ_ITERS
    )
    return f"""
WITH {coarse},{p['chains']}{p['qparts']},
qvc AS (SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings
        WHERE vec_id < {_ANN_QUERIES}),
qpc AS (SELECT vec_id AS qid,
               unnest(range(len(iv)))::BIGINT AS dim,
               unnest(iv)::BIGINT AS q
        FROM qvc),
qcd AS (SELECT qp.qid, c.cid,
               sum((qp.q - c.cq) * (qp.q - c.cq))::BIGINT AS cd2
        FROM qpc qp JOIN cgc{_PQ_ITERS} c USING (dim)
        GROUP BY 1, 2),
probes AS (
    SELECT qid, cid AS cell FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cd2, cid) AS prk
        FROM qcd)
    WHERE prk <= {_IVFPQ_NPROBE}
),
sc AS (
    SELECT t0.qid AS query_id, a0.vec_id, ({p['adc']})::BIGINT AS adc_d2
    FROM p0asg a0 {p['code_joins']} {p['table_joins']}
    JOIN cgasg cc ON cc.vec_id = a0.vec_id
    JOIN probes pr ON pr.cell = cc.cluster AND pr.qid = t0.qid
    WHERE a0.vec_id <> t0.qid
)""" + _O_PQ_RANKED.format(topk=_PQ_TOPK)


def _q_kmeans_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster rollup over the kmeans assignment — representative
    member (closest to centroid, ties to smallest id via the same
    integer-key argmin), member count, distance mass. Composition
    query: the oracle wraps _o_kmeans() as a subquery, so the hash
    check proves the chain, not just the parts."""
    # key packing: d2 <= dims*(2*scale)^2 ~ 2.7e8 here, so 2^34 leaves
    # d2*big < 2^63 while admitting ids up to ~1.7e10
    big = 1 << 34
    a = _q_kmeans(spark, sf_dir)
    return a.groupBy("cluster").agg(
        F.min(F.col("d2") * big + F.col("vec_id"))
        .cast("long")
        .alias("_key"),
        F.count("*").cast("long").alias("n_members"),
        F.sum("d2").cast("long").alias("d2_sum"),
    ).select(
        "cluster",
        (F.col("_key") % big).cast("long").alias("rep_id"),
        "n_members",
        "d2_sum",
    )


def _o_kmeans_summary() -> str:
    big = 1 << 34
    return f"""
SELECT cluster,
       (min(d2 * {big} + vec_id) % {big})::BIGINT AS rep_id,
       count(*)::BIGINT AS n_members,
       sum(d2)::BIGINT AS d2_sum
FROM ({_o_kmeans()})
GROUP BY cluster
"""


def _q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension integer moments of the embedding column
    (operators/stats.embedding_dim_stats): the vector-column telemetry a
    pipeline runs before trusting an encoder — dead dims (zero variance),
    mis-scaled encoders (runaway min/max), ragged arrays (uneven n_vecs).
    Shares the corpus-wide floor(x*1000) quantization with the ANN/kmeans
    oracles so the numbers are directly comparable. Plan: scan →
    posexplode → ONE map-side-combinable hash agg on dim."""
    from servico_ocr_spark.operators import embedding_dim_stats

    return embedding_dim_stats(_read(spark, sf_dir, "embeddings"))


def _o_embedding_dim_stats() -> str:
    return f"""
WITH v AS (SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings),
pts AS (
    SELECT unnest(range(len(iv)))::BIGINT AS dim,
           unnest(iv)::BIGINT AS q
    FROM v
)
SELECT dim,
       count(*)::BIGINT AS n_vecs,
       sum(q)::BIGINT AS sum_q,
       sum(q * q)::BIGINT AS sum_sq,
       min(q)::BIGINT AS min_q,
       max(q)::BIGINT AS max_q
FROM pts
GROUP BY dim
"""


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column
    (operators/encode.quantize_embeddings): per-dim min/max calibration
    → affine codes in [0,255] → order-free code checksum + total
    reconstruction error per vector — the FAISS-SQ8-style 4× ANN
    compression step with its go/no-go telemetry, exact integers end to
    end. Plan: ONE bounded per-dim calibration agg broadcast onto a
    pruned re-scan, ONE per-vector agg; empty vectors restored."""
    from servico_ocr_spark.operators import quantize_embeddings

    return quantize_embeddings(_read(spark, sf_dir, "embeddings"))


def _o_embedding_quantize() -> str:
    return f"""
WITH v AS (SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings),
pts AS (
    SELECT vec_id,
           unnest(range(len(iv)))::BIGINT AS dim,
           unnest(iv)::BIGINT AS q
    FROM v
),
st AS (
    SELECT dim, min(q)::BIGINT AS mn,
           greatest(max(q) - min(q), 1)::BIGINT AS span
    FROM pts GROUP BY dim
),
coded AS (
    SELECT vec_id, dim, q, mn, span,
           ((q - mn) * 255) // span AS code
    FROM pts JOIN st USING (dim)
),
agg AS (
    SELECT vec_id,
           count(*)::BIGINT AS n_dims,
           sum(code)::BIGINT AS code_sum,
           sum(code * (dim + 1))::BIGINT AS code_checksum,
           sum(abs(q - (mn + (code * span) // 255)))::BIGINT
               AS err_abs_sum
    FROM coded GROUP BY vec_id
)
SELECT e.vec_id,
       coalesce(a.n_dims, 0)::BIGINT AS n_dims,
       coalesce(a.code_sum, 0)::BIGINT AS code_sum,
       coalesce(a.code_checksum, 0)::BIGINT AS code_checksum,
       coalesce(a.err_abs_sum, 0)::BIGINT AS err_abs_sum
FROM embeddings e LEFT JOIN agg a USING (vec_id)
"""


_SEMDEDUP_K = 8  # the SemDeDup scale knob: k ~ n/target_cluster_size
_SEMDEDUP_T = 400_000  # binds at every sf (same regime as _EMB_NEARDUP_T)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup
    (operators/clustering.semantic_dedup): k-means cluster → exact
    within-cluster integer-cosine pairs → per-pair domination on
    (d2, vec_id) — keep the member most central to its cluster. The
    oracle composes the parameterized kmeans CTE with the ANN face's
    cosine arithmetic, so the hash check proves the whole chain."""
    from servico_ocr_spark.operators import semantic_dedup

    return semantic_dedup(
        _read(spark, sf_dir, "embeddings"),
        k=_SEMDEDUP_K,
        iterations=_KMEANS_ITERS,
        threshold_e6=_SEMDEDUP_T,
    )


def _o_semantic_dedup() -> str:
    return f"""
WITH a AS ({_o_kmeans(K=_SEMDEDUP_K)}),
v AS (SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings),
n AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT)
               AS nrm
    FROM v
),
m AS (
    SELECT a.vec_id, a.cluster, a.d2, n.iv, n.nrm
    FROM a JOIN n USING (vec_id)
),
p AS (
    SELECT x.vec_id AS ia, x.d2 AS da, y.vec_id AS ib, y.d2 AS db,
           floor(CAST(list_sum(list_transform(
                     range(1, len(x.iv) + 1),
                     i -> x.iv[i] * y.iv[i])) AS BIGINT) * 1000000 /
                 (sqrt(CAST(x.nrm AS DOUBLE))
                  * sqrt(CAST(y.nrm AS DOUBLE))))::BIGINT AS cos
    FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
),
losers AS (
    SELECT DISTINCT CASE WHEN da < db OR (da = db AND ia < ib)
                         THEN ib ELSE ia END AS vec_id
    FROM p WHERE cos >= {_SEMDEDUP_T}
)
SELECT a.vec_id, a.cluster, a.d2,
       (CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS keep
FROM a LEFT JOIN losers l USING (vec_id)
"""


def _q_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import embedding_near_duplicates

    return embedding_near_duplicates(
        _read(spark, sf_dir, "embeddings"), threshold_e6=_EMB_NEARDUP_T,
        planes=_EMB_NEARDUP_PLANES, multi_probe=True,
    )


def _o_embedding_neardups() -> str:
    coef = _d_h48("('plane' || p::VARCHAR || '|' || d::VARCHAR)")
    return f"""
WITH v AS (
    SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings
),
n AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
coefs AS (
    SELECT p.p, d.d, ({coef} % 2001 - 1000) AS c
    FROM range({_EMB_NEARDUP_PLANES}) p(p) CROSS JOIN range(64) d(d)
),
proj AS (
    SELECT n.vec_id, c.p, sum(n.iv[c.d + 1] * c.c) AS s
    FROM n JOIN coefs c ON true
    GROUP BY n.vec_id, c.p
),
buckets AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN s >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
    FROM proj GROUP BY vec_id
),
nb AS (SELECT n.*, b.bucket FROM n JOIN buckets b USING (vec_id)),
masks AS (
    SELECT 0 AS m
    UNION ALL
    SELECT 1 << p FROM range({_EMB_NEARDUP_PLANES}) t(p)
),
pa AS (
    SELECT nb.vec_id, nb.iv, nb.nrm, xor(nb.bucket, m.m) AS probe
    FROM nb CROSS JOIN masks m
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(
               range(1, len(a.iv) + 1),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS dot,
           a.nrm AS na, b.nrm AS nb2
    FROM pa a JOIN nb b ON a.probe = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       floor(dot * 1000000 /
             (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))))::BIGINT
           AS cos_sim_e6
FROM pairs
WHERE floor(dot * 1000000 /
            (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))))
      >= {_EMB_NEARDUP_T}
"""


_IVF_CENTROIDS = 8
_IVF_NPROBE = 2


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import ivf_ann_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, emb.where(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K,
        n_centroids=_IVF_CENTROIDS, nprobe=_IVF_NPROBE,
    )


def _o_ann_ivf_topk() -> str:
    crank = _d_h48("('centroid:' || vec_id::VARCHAR)")
    dot = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i])) AS BIGINT)"
    )
    cos = (
        "floor({d} * 1000000 / (sqrt(CAST({na} AS DOUBLE)) * "
        "sqrt(CAST({nb} AS DOUBLE))))::BIGINT"
    )
    return f"""
WITH v AS (
    SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings
),
n AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
cent AS (
    SELECT vec_id AS cid, iv AS cv, nrm AS cnrm
    FROM n ORDER BY {crank}, vec_id LIMIT {_IVF_CENTROIDS}
),
cellscore AS (
    SELECT n.vec_id, c.cid,
           {cos.format(d=dot.format(a="n.iv", b="c.cv"), na="n.nrm", nb="c.cnrm")}
               AS s,
           row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {cos.format(d=dot.format(a="n.iv", b="c.cv"),
                                    na="n.nrm", nb="c.cnrm")} DESC, c.cid
           ) AS crk
    FROM n CROSS JOIN cent c
),
assigned AS (
    SELECT n.vec_id AS neighbor_id, n.iv, n.nrm, cs.cid AS cell
    FROM n JOIN cellscore cs ON cs.vec_id = n.vec_id AND cs.crk = 1
),
probes AS (
    SELECT n.vec_id AS query_id, n.iv AS qv, n.nrm AS qnorm, cs.cid AS cell
    FROM n JOIN cellscore cs ON cs.vec_id = n.vec_id
    WHERE n.vec_id < {_ANN_QUERIES} AND cs.crk <= {_IVF_NPROBE}
),
scored AS (
    SELECT p.query_id, a.neighbor_id,
           {cos.format(d=dot.format(a="p.qv", b="a.iv"), na="p.qnorm", nb="a.nrm")}
               AS cos_sim_e6
    FROM probes p JOIN assigned a ON a.cell = p.cell
    WHERE a.neighbor_id <> p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim_e6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim_e6 DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim_e6
FROM ranked WHERE rank <= {_ANN_K}
"""


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.where(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K, planes=4
    )


def _o_ann_lsh_topk() -> str:
    coef = _d_h48("('plane' || p::VARCHAR || '|' || d::VARCHAR)")
    return f"""
WITH v AS (
    SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings
),
n AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
coefs AS (
    SELECT p.p, d.d, ({coef} % 2001 - 1000) AS c
    FROM range(4) p(p) CROSS JOIN range(64) d(d)
),
proj AS (
    SELECT n.vec_id, c.p, sum(n.iv[c.d + 1] * c.c) AS s
    FROM n JOIN coefs c ON true
    GROUP BY n.vec_id, c.p
),
buckets AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN s >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
    FROM proj GROUP BY vec_id
),
nb AS (SELECT n.*, b.bucket FROM n JOIN buckets b USING (vec_id)),
q AS (SELECT vec_id AS query_id, iv AS qv, nrm AS qnorm, bucket FROM nb
      WHERE vec_id < {_ANN_QUERIES}),
pairs AS (
    SELECT q.query_id, nb.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(
               range(1, len(q.qv) + 1),
               i -> q.qv[i] * nb.iv[i])) AS BIGINT) AS dot,
           q.qnorm, nb.nrm
    FROM q JOIN nb ON nb.bucket = q.bucket AND nb.vec_id <> q.query_id
),
scored AS (
    SELECT query_id, neighbor_id,
           floor(dot * 1000000 /
                 (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))))::BIGINT
               AS cos_sim_e6
    FROM pairs
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim_e6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim_e6 DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim_e6
FROM ranked WHERE rank <= {_ANN_K}
"""


# ===========================================================================
# Text analysis: language-ID, quality, token counts, fingerprint
# ===========================================================================

def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_read(spark, sf_dir, "documents"))


def _o_lang_id() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ",\n       ".join(
        "len(list_filter(words, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    guess = "CASE " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH base AS ({_d_words_cte()}),
h AS (SELECT doc_id, {hits} FROM base)
SELECT doc_id, {guess} AS guessed_lang, {best} AS best_hits FROM h
"""


def _q_source_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source majority language (operators/stats.majority_label ∘
    language_id) — the CC-style per-domain language report. The mode
    aggregate runs on the (source, lang) COUNT table (bounded by
    sources × |langs|), never on raw docs; ties break to the
    alphabetically first language (the lang_id tie rule, applied once
    more at the vote level)."""
    from servico_ocr_spark.operators import majority_label

    docs = _read(spark, sf_dir, "documents")
    langs = language_id(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return majority_label(
        langs, "source", "guessed_lang"
    ).withColumnsRenamed({"group": "source", "label": "majority_lang"})


def _o_source_language() -> str:
    return f"""
WITH lang AS ({_o_lang_id()}),
j AS (
    SELECT d.source, l.guessed_lang
    FROM documents d JOIN lang l ON l.doc_id = d.doc_id
),
counts AS (
    SELECT source, guessed_lang AS majority_lang,
           count(*)::BIGINT AS n_label
    FROM j GROUP BY 1, 2
),
tot AS (SELECT source, sum(n_label)::BIGINT AS n_group
        FROM counts GROUP BY source),
win AS (
    SELECT * FROM (
        SELECT counts.*,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_label DESC, majority_lang)
                   AS rk
        FROM counts
    ) z WHERE rk = 1
)
SELECT w.source, w.majority_lang, w.n_label, t.n_group,
       ((w.n_label * 10000) // t.n_group)::BIGINT AS share_pp10k
FROM win w JOIN tot t USING (source)
"""


_WARC_BLOB_DOCS = 8  # documents concatenated per synthetic WARC blob


def _warc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WARC-blob fixture: every document becomes one
    spec-framed WARC record (CRLF headers, Content-Length framing,
    CRLFCRLF separator) and consecutive groups of ``_WARC_BLOB_DOCS``
    records concatenate into one binary blob — the html-face fixture
    discipline: the bytes are built HERE with exact arithmetic, so the
    oracle can predict the parser's output from ``documents`` alone
    without ever parsing. The in-group concat order is pinned by
    sort_array over (doc_id, record) structs (collect_list order is
    partition-dependent); the HOFs are fine here — a bounded 8-element
    fixture array, not a corpus-length hot path."""
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.lit("https://warc.test/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lit("Z\r\nContent-Length: "),
        F.octet_length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    )
    return (
        _read(spark, sf_dir, "documents")
        .select(
            F.expr(f"doc_id div {_WARC_BLOB_DOCS}").alias("blob_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("blob_id")
        .agg(
            F.expr(
                "cast(array_join(transform(sort_array(collect_list(s)),"
                " x -> x.rec), '') as binary)"
            ).alias("warc")
        )
    )


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container parsing (sources/warc.read_warc_records):
    Content-Length-framed record splitting of concatenated WARC blobs
    through the one Arrow boundary (``boundary.map_documents``, each
    blob's records fanned out to rows by ``inline`` in the JVM) — the
    Common-Crawl ingest step. The oracle never parses: the fixture's
    bytes are exact arithmetic over ``documents`` (html-face
    discipline), so the hash
    check proves the parser inverts the framing bit-for-bit (urls,
    timestamps, Content-Length, payload bytes)."""
    from servico_ocr_spark.sources.warc import read_warc_records

    recs = read_warc_records(_warc_blobs(spark, sf_dir))
    return recs.where(F.col("error").isNull()).select(
        "blob_id",
        "rec_index",
        "url",
        "warc_ts",
        "n_bytes",
        h48(F.col("payload").cast("string")).alias("payload_h48"),
    )


_O_WARC_EXTRACT = f"""
SELECT (doc_id // {_WARC_BLOB_DOCS})::BIGINT AS blob_id,
       (row_number() OVER (PARTITION BY doc_id // {_WARC_BLOB_DOCS}
                           ORDER BY doc_id) - 1)::BIGINT AS rec_index,
       'https://warc.test/' || doc_id::VARCHAR AS url,
       '2024-01-01T00:00:' || lpad((doc_id % 60)::VARCHAR, 2, '0') || 'Z'
           AS warc_ts,
       strlen(text)::BIGINT AS n_bytes,
       {_d_h48("text")} AS payload_h48
FROM documents
"""


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_read(spark, sf_dir, "documents"))


def _o_token_counts(tbl: str = "documents") -> str:
    return r"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS bpe_ish_tokens,
       length(text) AS n_chars_raw
FROM """ + tbl


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy quality signal
    (operators/textstats.char_entropy): exact integer floor-log2
    surrogate of per-document Shannon entropy over normalized non-space
    characters — the gibberish / binary-blob / key-mash detector the
    heuristic quality filters (Gopher, C4) lack. ``floor(log2 x)`` is
    ``length(bin(x)) − 1`` on BOTH engines, so the whole statistic is
    engine-portable with zero floats. Plan: explode chars → ONE
    combinable (doc, char) count (≤ 36 rows/doc survive) → charset-
    bounded per-doc window → one doc agg; zero-char docs restored."""
    from servico_ocr_spark.operators import char_entropy

    return char_entropy(_read(spark, sf_dir, "documents"))


def _o_char_entropy(tbl: str = "documents") -> str:
    return f"""
WITH ch AS (
    SELECT doc_id, c AS ch
    FROM (SELECT doc_id, unnest(string_split({_D_NORM}, '')) AS c
          FROM {tbl})
    WHERE c <> '' AND c <> ' '
),
cnt AS (
    SELECT doc_id, ch, count(*)::BIGINT AS k FROM ch GROUP BY 1, 2
),
win AS (
    SELECT doc_id, k, sum(k) OVER (PARTITION BY doc_id)::BIGINT AS n
    FROM cnt
),
agg AS (
    SELECT doc_id,
           max(n)::BIGINT AS n_chars,
           count(*)::BIGINT AS n_distinct_chars,
           sum(k * (length(bin((n * 1024) // k)) - 1))::BIGINT
               AS ent_flog2_sum,
           max((k * 1000000) // n)::BIGINT AS top_share_ppm
    FROM win GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_chars, 0)::BIGINT AS n_chars,
       coalesce(a.n_distinct_chars, 0)::BIGINT AS n_distinct_chars,
       coalesce(a.ent_flog2_sum, 0)::BIGINT AS ent_flog2_sum,
       coalesce(a.top_share_ppm, 0)::BIGINT AS top_share_ppm
FROM {tbl} d LEFT JOIN agg a USING (doc_id)
"""


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_read(spark, sf_dir, "documents"))


def _o_quality(tbl: str = "documents") -> str:
    markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    marker_list = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"""
WITH base AS ({_d_words_cte(tbl)}),
m AS (
    SELECT doc_id,
           len(words) AS n_words,
           CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0)
                AS BIGINT) AS total_len,
           len(list_filter(words, x -> list_contains({marker_list}, x)))
               AS stop_hits,
           len(list_filter(words, x -> regexp_full_match(x, '[0-9]+')))
               AS digit_tokens,
           len(list_distinct(words)) AS n_distinct
    FROM base
)
SELECT doc_id, n_words,
       CASE WHEN n_words > 0 THEN floor(total_len * 100 / n_words)::BIGINT
            ELSE 0 END AS mean_word_len_x100,
       CASE WHEN n_words > 0 THEN floor(stop_hits * 1000 / n_words)::BIGINT
            ELSE 0 END AS stopword_permille,
       CASE WHEN n_words > 0 THEN floor(digit_tokens * 1000 / n_words)::BIGINT
            ELSE 0 END AS digit_permille,
       CASE WHEN n_words > 0 THEN floor(n_distinct * 1000 / n_words)::BIGINT
            ELSE 0 END AS distinct_permille,
       CASE WHEN n_words > 0
                 AND floor(stop_hits * 1000 / n_words) >= 100
                 AND n_words >= 20 AND n_words <= 100000
                 AND floor(total_len * 100 / n_words) >= 200
                 AND floor(total_len * 100 / n_words) <= 1500
            THEN 'good' ELSE 'low' END AS quality_bucket
FROM m
"""


# Gopher-filter fixture: the natural corpus has zero digit tokens and a
# 4.2-4.8-char mean word length, so two drop rules would be dead code —
# inject a digit-heavy subset (doc_id % 23 == 4) and a long-word subset
# (doc_id % 29 == 5), same arithmetic in the DuckDB CTE. Thresholds are
# corpus-tuned so EVERY rule binds at every sf while keeps survive
# (measured quantiles at sf0.01: n_words p5=16, stopword‰ median 25,
# dup_word_ppm p95≈688k, top_word_ppm p95≈160k, dup_2gram_ppm p95≈83k).
_GOPHER_INJECT = (
    "concat(text,"
    " CASE WHEN doc_id % 23 = 4 THEN repeat(' 12345', 30) ELSE '' END,"
    " CASE WHEN doc_id % 29 = 5 THEN"
    "   repeat(' pneumonoultramicroscopicsilicovolcanoconiosis', 40)"
    "   ELSE '' END)"
)
_GOPHER_THRESHOLDS = dict(
    min_words=20, max_words=100_000,
    min_mwl_x100=200, max_mwl_x100=1500,
    min_stop_permille=20, max_digit_permille=200,
    max_dup_word_ppm=650_000, max_top_word_ppm=150_000,
    max_dup_2gram_ppm=60_000,
)


def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import gopher_filter

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_GOPHER_INJECT).alias("text")
    )
    return gopher_filter(docs, **_GOPHER_THRESHOLDS)


def _o_gopher_filter() -> str:
    t = _GOPHER_THRESHOLDS
    inject = (
        "text || CASE WHEN doc_id % 23 = 4 THEN repeat(' 12345', 30) "
        "ELSE '' END || CASE WHEN doc_id % 29 = 5 THEN "
        "repeat(' pneumonoultramicroscopicsilicovolcanoconiosis', 40) "
        "ELSE '' END"
    )
    return f"""
WITH gdocs AS (
    SELECT doc_id, {inject} AS text FROM documents
),
q AS (SELECT * FROM ({_o_quality(tbl="gdocs")}) qq),
r AS (SELECT * FROM ({_o_repetition_stats(tbl="gdocs")}) rr),
scored AS (
    SELECT q.doc_id, q.n_words,
        (CASE WHEN q.n_words < {t["min_words"]}
                   OR q.n_words > {t["max_words"]} THEN 1 ELSE 0 END
       + CASE WHEN q.mean_word_len_x100 < {t["min_mwl_x100"]}
                   OR q.mean_word_len_x100 > {t["max_mwl_x100"]}
              THEN 2 ELSE 0 END
       + CASE WHEN q.stopword_permille < {t["min_stop_permille"]}
              THEN 4 ELSE 0 END
       + CASE WHEN q.digit_permille > {t["max_digit_permille"]}
              THEN 8 ELSE 0 END
       + CASE WHEN r.dup_word_ppm > {t["max_dup_word_ppm"]}
              THEN 16 ELSE 0 END
       + CASE WHEN r.top_word_ppm > {t["max_top_word_ppm"]}
              THEN 32 ELSE 0 END
       + CASE WHEN r.dup_2gram_ppm > {t["max_dup_2gram_ppm"]}
              THEN 64 ELSE 0 END)::BIGINT AS reasons
    FROM q JOIN r ON q.doc_id = r.doc_id
)
SELECT doc_id, n_words, reasons,
       (CASE WHEN reasons = 0 THEN 1 ELSE 0 END)::INT AS keep
FROM scored
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fingerprint(_read(spark, sf_dir, "documents"))


def _q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-df rarity scoring (operators/textstats.token_rarity):
    deliberately df-based, NOT a vocabulary dense_rank — a global rank
    is a one-task sort over the whole vocabulary at web scale."""
    from servico_ocr_spark.operators import token_rarity

    return token_rarity(_read(spark, sf_dir, "documents"))


_O_TOKEN_RARITY = """
WITH w AS (
    SELECT doc_id,
           unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS word
    FROM documents
),
dfreq AS (SELECT word, count(*) AS dfq FROM w GROUP BY word),
s AS (
    SELECT w.doc_id, count(*) AS n_distinct,
           sum(1000000 // dfq) AS rarity_sum
    FROM w JOIN dfreq USING (word) GROUP BY w.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_distinct, 0)::BIGINT AS n_distinct,
       COALESCE(s.rarity_sum, 0)::BIGINT AS rarity_sum,
       (CASE WHEN s.n_distinct IS NULL THEN -1
             ELSE s.rarity_sum // s.n_distinct END)::BIGINT AS rarity_avg
FROM documents d LEFT JOIN s USING (doc_id)
"""


_BM25_TERMS = ("dup", "query", "scan")  # dup df≈25 (rare), others ~400
_BM25_K = 25
_BM25 = dict(k1_pct=120, b_pct=75, idf_scale=100, tf_scale=1000)


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point BM25 top-k retrieval (operators/search.bm25_topk):
    one corpus-scalar agg + a pre-shuffle term filter (shuffle volume is
    matching tokens, not corpus tokens) + TakeOrderedAndProject top-k.
    The term set mixes the corpus's one rare word ('dup', df≈25) with
    two stopword-frequency terms, so idf spread, partial-match docs, and
    the LIMIT boundary tiebreak are all exercised at every sf."""
    from servico_ocr_spark.operators import bm25_topk

    return bm25_topk(
        _read(spark, sf_dir, "documents"),
        list(_BM25_TERMS),
        k=_BM25_K,
        **_BM25,
    )


def _o_bm25_search() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(_BM25_TERMS)))
    k1, b = _BM25["k1_pct"], _BM25["b_pct"]
    return f"""
WITH w AS (
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
    FROM documents
),
scalars AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           greatest(1, (SELECT count(*) FROM w)
                       // (SELECT count(*) FROM documents)) AS avgdl
),
dlt AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
qtf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM w WHERE word IN ({terms})
    GROUP BY doc_id, word
),
dfreq AS (SELECT word, count(*) AS df_t FROM qtf GROUP BY word),
per AS (
    SELECT q.doc_id, d.dl,
           ((s.n_docs - f.df_t + 1) * {_BM25["idf_scale"]})
               // (f.df_t + 1) AS idf,
           (q.tf * {k1 + 100} * 100 * {_BM25["tf_scale"]})
               // (q.tf * 10000 + {k1} * ((100 - {b})
                   + ({b} * ((d.dl * 100) // s.avgdl)) // 100)) AS tfc
    FROM qtf q
    JOIN dfreq f USING (word)
    JOIN dlt d USING (doc_id)
    CROSS JOIN scalars s
)
SELECT doc_id, count(*)::BIGINT AS n_terms, max(dl)::BIGINT AS dl,
       sum(idf * tfc)::BIGINT AS score
FROM per GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""


#: more-like-this list length (sparse side and the fused output)
_MLT_K = 10


def _mlt_queries(docs: DataFrame) -> DataFrame:
    """The 8 smallest-id documents containing the corpus's one rare
    word ('dup', df = 5% of docs at every sf — the bm25_search
    fixture's finding). Selected by CONTENT, not by id residue: the
    carrier ids are md5-derived and differ per sf, so an id-based
    query set silently degenerates to zero matches (measured — the
    first draft returned 0 rows at sf0.01+)."""
    return cut(
        docs.where(
            F.array_contains(words_array(F.col("text")), F.lit("dup"))
        )
        .select("doc_id")
        .orderBy("doc_id")
        .limit(_ANN_QUERIES)
    )


def _q_bm25_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example BM25 (operators/search.bm25_by_example): eight
    'dup'-carrying documents each retrieve their 10 best corpus matches
    using their own words, stopwords dropped by the derived df cap
    n_docs div 2 — BINDING at every sf (the 31-word background
    vocabulary sits at ~80% df, far above half), leaving 'dup' as the
    discriminative term: 25+ matching docs per query, so the k=10
    LIMIT boundary and the tf/dl score spread are both live."""
    from servico_ocr_spark.operators import bm25_by_example

    docs = _read(spark, sf_dir, "documents")
    return bm25_by_example(
        docs,
        _mlt_queries(docs),
        k=_MLT_K,
        max_term_df=docs.count() // 2,
    )


def _o_mlt_cte() -> str:
    """Shared sparse more-like-this CTE chain ending in sp(query_id,
    doc_id, n_terms, score, rank) — bm25_by_example's arithmetic."""
    return f"""
w AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
    FROM documents
),
tok AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS word FROM w),
postings AS (
    SELECT doc_id, word, count(*)::BIGINT AS tf, max(dl)::BIGINT AS dl
    FROM tok GROUP BY doc_id, word
),
scal AS (
    SELECT count(*)::BIGINT AS n_docs,
           greatest(1, sum(dl) // count(*))::BIGINT AS avgdl
    FROM (SELECT doc_id, max(dl) AS dl FROM postings GROUP BY doc_id) t
),
dfreq AS (
    SELECT word, count(*)::BIGINT AS df_t FROM postings GROUP BY word
    HAVING count(*) <= (SELECT count(*) // 2 FROM documents)
),
qids AS (
    SELECT doc_id FROM w WHERE list_contains(ws, 'dup')
    ORDER BY doc_id LIMIT {_ANN_QUERIES}
),
qt AS (
    SELECT p.doc_id AS query_id, p.word, d.df_t
    FROM postings p JOIN dfreq d USING (word)
    WHERE p.doc_id IN (SELECT doc_id FROM qids)
),
m AS (
    SELECT qt.query_id, p.doc_id, p.tf, p.dl, qt.df_t
    FROM postings p JOIN qt USING (word)
    WHERE p.doc_id <> qt.query_id
),
pt AS (
    SELECT query_id, doc_id,
           ((n_docs - df_t + 1) * 100) // (df_t + 1) AS idf,
           (tf * 220 * 100 * 1000) //
           (tf * 10000 + 120 * ((100 - 75)
                + (75 * ((dl * 100) // avgdl)) // 100)) AS tfc
    FROM m, scal
),
sc AS (
    SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
           sum(idf * tfc)::BIGINT AS score
    FROM pt GROUP BY query_id, doc_id
),
sp AS (
    SELECT query_id, doc_id, n_terms, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id)::BIGINT AS rank
    FROM sc
)"""


def _o_bm25_related() -> str:
    return (
        "WITH " + _o_mlt_cte()
        + f"\nSELECT query_id, doc_id, n_terms, score, rank FROM sp"
          f" WHERE rank <= {_MLT_K}"
    )


def _d_ilog(v: str, k: int = 8) -> str:
    """DuckDB twin of operators/stats.with_ilog_bucket (same
    self-correcting integer log-bucket arithmetic)."""
    v1 = f"greatest({v}, 1)"
    e0 = f"(floor(log2({v1}))::BIGINT)"
    p0 = f"(1::BIGINT << ({e0})::INT)"
    e = (
        f"(CASE WHEN {v1} < {p0} THEN {e0} - 1 "
        f"WHEN {v1} >= 2 * {p0} THEN {e0} + 1 ELSE {e0} END)"
    )
    p = f"(1::BIGINT << ({e})::INT)"
    return f"(({e}) * {k} + (({v1} - {p}) * {k}) // {p})"


_NB_DIMS = 256


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality filter (operators/classify — integer
    Bernoulli NB over hashed bag-of-words, the CCNet/fastText-filter
    shape): label = carries the rare word 'dup', 75/25 hash split,
    train on train, score ALL, confusion by (split, label, pred).
    At D=256 the planted rule is recovered exactly at every sf (tp/tn
    cells; the error cells are exercised on a noisy constructed corpus
    in tests/test_classify.py — this corpus's single discriminative
    word admits no natural error regime, measured)."""
    from servico_ocr_spark.operators import (
        hashed_features,
        nb_confusion,
        nb_score,
        nb_train,
    )

    docs = _read(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        "text",
        F.array_contains(words_array(F.col("text")), F.lit("dup"))
        .cast("long")
        .alias("y"),
        F.when(
            F.pmod(
                h48(F.concat(F.lit("nbsplit:"), F.col("doc_id").cast("string"))),
                F.lit(4),
            )
            == 0,
            F.lit("test"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    # ONE tokenize pass shared by train and score (cut; the train
    # side restricts itself via the label inner join)
    feats = cut(hashed_features(labeled, dims=_NB_DIMS))
    w = nb_train(
        labeled.where(F.col("split") == "train"),
        dims=_NB_DIMS,
        features=feats,
    )
    scored = nb_score(labeled, w, dims=_NB_DIMS, features=feats)
    return nb_confusion(scored, labeled)


def _o_nb_score_cte() -> str:
    """CTE chain (no WITH) ending in sc(doc_id, split, y, score) — the
    NB train+score pipeline, shared by the confusion oracle and the
    classifier-mix composition."""
    words = _D_WORDS.format(norm=_D_NORM)
    split_h = _d_h48("('nbsplit:' || doc_id::VARCHAR)")
    dim_h = _d_h48("('ft:' || w)")
    return f"""lbl AS (
    SELECT doc_id,
           CASE WHEN list_contains({words}, 'dup') THEN 1 ELSE 0 END AS y,
           CASE WHEN {split_h} % 4 = 0 THEN 'test' ELSE 'train' END AS split
    FROM documents
),
feats AS (
    SELECT DISTINCT doc_id, ({dim_h} % {_NB_DIMS}) AS dim
    FROM (SELECT doc_id, unnest(list_distinct({words})) AS w
          FROM documents)
),
cls AS (
    SELECT sum(y)::BIGINT AS npos, sum(1 - y)::BIGINT AS nneg
    FROM lbl WHERE split = 'train'
),
pd AS (
    SELECT f.dim, sum(l.y)::BIGINT AS pos_df,
           sum(1 - l.y)::BIGINT AS neg_df
    FROM feats f JOIN lbl l USING (doc_id)
    WHERE l.split = 'train' GROUP BY f.dim
),
wts AS (
    SELECT dim,
           ({_d_ilog("pos_df + 1")} + {_d_ilog("nneg + 2")}
            - {_d_ilog("neg_df + 1")} - {_d_ilog("npos + 2")}) AS llr
    FROM pd, cls
),
scal AS (
    SELECT ({_d_ilog("npos + 1")} - {_d_ilog("nneg + 1")}) AS prior,
           ({_d_ilog("nneg + 2")} - {_d_ilog("npos + 2")}) AS dflt
    FROM cls
),
ev AS (
    SELECT f.doc_id, sum(coalesce(w.llr, s.dflt)) AS evidence
    FROM feats f LEFT JOIN wts w USING (dim), scal s
    GROUP BY f.doc_id
),
sc AS (
    SELECT l.doc_id, l.split, l.y,
           (s.prior + coalesce(ev.evidence, 0)) AS score
    FROM lbl l LEFT JOIN ev USING (doc_id), scal s
)"""


def _o_quality_classifier() -> str:
    return f"""
WITH {_o_nb_score_cte()}
SELECT split, y::BIGINT AS y_true,
       (CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS y_pred,
       count(*)::BIGINT AS n_docs
FROM sc GROUP BY 1, 2, 3
"""


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/classify.dsir_weights — Xie
    et al. 2023): every document scored by how much the target
    distribution (here: the 'dup'-carrying docs, content-selected —
    the id-based-set lesson) over-weights its hashed unigram+bigram
    buckets relative to the raw corpus. The carriers' discriminative
    buckets ('dup' + its bigram contexts) dominate, so target docs
    rank top — the resampling demonstration is pinned in
    tests/test_classify.py. dims=256 keeps the collision branch live
    (the corpus has 31 background words but hundreds of distinct
    bigrams)."""
    from servico_ocr_spark.operators import dsir_weights

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(
        F.array_contains(words_array(F.col("text")), F.lit("dup"))
    ).select("doc_id")
    return dsir_weights(docs, target_ids=target, dims=_NB_DIMS)


def _o_dsir_weights() -> str:
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
bi AS (
    SELECT doc_id, w AS w1,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
g AS (
    SELECT doc_id, w1 AS f FROM bi
    UNION ALL
    SELECT doc_id, w1 || ' ' || w2 FROM bi WHERE w2 IS NOT NULL
),
feat AS (
    SELECT doc_id, ({_d_h48("('ds:' || f)")} % {_NB_DIMS}) AS dim,
           count(*)::BIGINT AS cnt
    FROM g GROUP BY doc_id, dim
),
tgt AS (SELECT doc_id FROM base WHERE list_contains(words, 'dup')),
rb AS (SELECT dim, sum(cnt)::BIGINT AS rcnt FROM feat GROUP BY dim),
tb AS (
    SELECT dim, sum(cnt)::BIGINT AS tcnt
    FROM feat JOIN tgt USING (doc_id) GROUP BY dim
),
tot AS (
    SELECT (SELECT sum(rcnt)::BIGINT FROM rb) AS rtot,
           (SELECT coalesce(sum(tcnt), 0)::BIGINT FROM tb) AS ttot
),
dimw AS (
    SELECT rb.dim,
           ({_d_ilog("coalesce(tcnt, 0) + 1")}
            - {_d_ilog("rcnt + 1")}) AS dw
    FROM rb LEFT JOIN tb USING (dim)
),
sc AS (
    SELECT f.doc_id, sum(cnt)::BIGINT AS n_feat,
           sum(cnt * dw)::BIGINT AS s1
    FROM feat f JOIN dimw USING (dim) GROUP BY f.doc_id
)
SELECT d.doc_id, coalesce(sc.n_feat, 0)::BIGINT AS n_feat,
       coalesce(sc.s1 + sc.n_feat
                * ({_d_ilog(f"rtot + {_NB_DIMS}")}
                   - {_d_ilog(f"ttot + {_NB_DIMS}")}), 0)::BIGINT AS dsir_w
FROM documents d LEFT JOIN sc USING (doc_id), tot
"""


#: Classifier-steered mix: predicted-positive docs oversampled 9:1
#: over the rest (the GPT-3 curation recipe — "train mostly on what
#: the quality filter likes, keep a sampled slice of the rest").
_CMIX_WEIGHTS = {"kept": 9, "flagged": 1}


def _q_classifier_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition capstone — the classifier's END USE (GPT-3's
    curation step): NB predictions become the strata of a token-budget
    mix, kept oversampled 9:1, budget = half the corpus token mass.
    The 'kept' stratum's tiny token share (≈5%, the dup carriers)
    exercises the keep-everything rate CAP while 'flagged' exercises
    binding sampling — both branches live at every sf."""
    from servico_ocr_spark.operators import (
        hashed_features,
        nb_score,
        nb_train,
        token_budget_mix,
    )

    docs = _read(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        "text",
        F.array_contains(words_array(F.col("text")), F.lit("dup"))
        .cast("long")
        .alias("y"),
        F.when(
            F.pmod(
                h48(F.concat(F.lit("nbsplit:"),
                             F.col("doc_id").cast("string"))),
                F.lit(4),
            )
            == 0,
            F.lit("test"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    feats = cut(hashed_features(labeled, dims=_NB_DIMS))
    w = nb_train(
        labeled.where(F.col("split") == "train"),
        dims=_NB_DIMS,
        features=feats,
    )
    scored = nb_score(labeled, w, dims=_NB_DIMS, features=feats)
    total = (
        docs.agg(
            F.sum(F.size(words_array(F.col("text"))))
            .cast("long").alias("t")
        ).collect()[0]["t"]
    )
    staged = docs.select("doc_id", "text").join(
        scored.select(
            "doc_id",
            F.when(F.col("pred") == 1, F.lit("kept"))
            .otherwise(F.lit("flagged"))
            .alias("stratum"),
        ),
        "doc_id",
    )
    return token_budget_mix(
        staged,
        budget=int(total) // 2,
        weights=_CMIX_WEIGHTS,
        stratum_col="stratum",
        salt="cmix",
        rate_denom=_MIX_DENOM,
    ).orderBy("doc_id")


def _o_classifier_mix() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    h = _d_h48("('cmix:' || doc_id::VARCHAR)")
    D = _MIX_DENOM
    w_total = sum(_CMIX_WEIGHTS.values())
    w_case = " ".join(
        f"WHEN '{st}' THEN {w}"
        for st, w in sorted(_CMIX_WEIGHTS.items())
    )
    return f"""
WITH {_o_nb_score_cte()},
t AS (
    SELECT d.doc_id,
           CASE WHEN sc.score > 0 THEN 'kept' ELSE 'flagged' END
               AS stratum,
           len({words})::BIGINT AS n_tokens,
           {h} AS h,
           (CASE (CASE WHEN sc.score > 0 THEN 'kept' ELSE 'flagged' END)
                 {w_case} ELSE 0 END)::BIGINT AS w
    FROM documents d JOIN sc USING (doc_id)
),
b AS (SELECT (sum(n_tokens)::BIGINT // 2) AS budget FROM t),
st AS (
    SELECT stratum, sum(n_tokens)::BIGINT AS ts, min(w) AS w2
    FROM t GROUP BY stratum
),
r AS (
    SELECT stratum,
           (CASE WHEN ts = 0 THEN {D}
                 ELSE least({D},
                            ((SELECT budget FROM b) * w2 * {D})
                                // ({w_total} * ts))
            END)::BIGINT AS rate_pp
    FROM st
)
SELECT t.doc_id, t.stratum, t.n_tokens, r.rate_pp
FROM t JOIN r USING (stratum)
WHERE t.h * {D} < r.rate_pp * 281474976710656
ORDER BY t.doc_id
"""


#: Hard-negative mining constants: retrieve 20, exclude candidates whose
#: capped-word-set Jaccard with the query is ≥ 50% (measured live at
#: every sf: roughly half the top-20 are near-dups of their query on
#: this template corpus — both the exclude and keep branches bind),
#: keep the 10 best survivors.
_HN_CAND_K = 20
_HN_SIM_PCT = 50
_HN_K = 10


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives (operators/search.
    bm25_hard_negatives — the DPR mining recipe): BM25 retrieves each
    'dup'-query's top 20, exact capped-word-set Jaccard (the minhash
    dedup lens, derived ceil(9n/10) cap) knocks out true near-dups,
    the 10 best survivors are the negatives. Verification cost is
    bounded by the candidate list, not the corpus."""
    from servico_ocr_spark.operators import bm25_hard_negatives

    docs = _read(spark, sf_dir, "documents")
    return bm25_hard_negatives(
        docs,
        _mlt_queries(docs),
        k=_HN_K,
        cand_k=_HN_CAND_K,
        sim_threshold_pct=_HN_SIM_PCT,
        max_term_df=docs.count() // 2,
        max_word_df=_minhash_word_cap(spark, sf_dir),
    )


def _o_hard_negatives() -> str:
    return f"""
WITH {_o_mlt_cte()},
cand AS (SELECT query_id, doc_id, score FROM sp WHERE rank <= {_HN_CAND_K}),
base AS ({_d_words_cte()}),
wx0 AS (SELECT doc_id, unnest(list_distinct(words)) AS w FROM base),
cap AS (SELECT ((9 * count(*) + 9) // 10)::BIGINT AS v FROM documents),
wx AS (SELECT doc_id, w FROM (
           SELECT doc_id, w, count(*) OVER (PARTITION BY w) AS df FROM wx0)
       WHERE df <= (SELECT v FROM cap)),
sz AS (SELECT doc_id, count(*)::BIGINT AS nw FROM wx GROUP BY doc_id),
iv AS (
    SELECT c.query_id, c.doc_id, count(*)::BIGINT AS inter
    FROM cand c
    JOIN wx a ON a.doc_id = c.query_id
    JOIN wx b ON b.doc_id = c.doc_id AND b.w = a.w
    GROUP BY 1, 2
),
j AS (
    SELECT c.query_id, c.doc_id, c.score,
           coalesce(iv.inter, 0) AS i,
           coalesce(sa.nw, 0) AS na, coalesce(sb.nw, 0) AS nb
    FROM cand c
    LEFT JOIN iv ON iv.query_id = c.query_id AND iv.doc_id = c.doc_id
    LEFT JOIN sz sa ON sa.doc_id = c.query_id
    LEFT JOIN sz sb ON sb.doc_id = c.doc_id
),
jp AS (
    SELECT query_id, doc_id, score,
           CASE WHEN na + nb - i <= 0 THEN 0
                ELSE (i * 100) // (na + nb - i) END AS jaccard_pct
    FROM j
),
ng AS (
    SELECT query_id, doc_id, score, jaccard_pct,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS neg_rank
    FROM jp WHERE jaccard_pct < {_HN_SIM_PCT}
)
SELECT query_id, doc_id, score::BIGINT AS score,
       jaccard_pct::BIGINT AS jaccard_pct, neg_rank::BIGINT AS neg_rank
FROM ng WHERE neg_rank <= {_HN_K}
"""


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/search.rrf_fuse — Cormack et al.
    2009): reciprocal-rank fusion of the sparse more-like-this BM25
    list with the dense brute-force cosine list over the SAME id space
    (documents.doc_id ≡ embeddings.vec_id in the testdata). Documents
    in only one list carry a −1 sentinel rank and one contribution —
    both branches live at every sf (lexical and embedding neighbors
    disagree on this corpus)."""
    from servico_ocr_spark.operators import (
        bm25_by_example,
        rrf_fuse,
    )
    from servico_ocr_spark.operators.similarity import brute_force_topk

    docs = _read(spark, sf_dir, "documents")
    qids = _mlt_queries(docs)
    sparse = bm25_by_example(
        docs,
        qids,
        k=_MLT_K,
        max_term_df=docs.count() // 2,
    )
    emb = _read(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        emb,
        emb.join(qids, emb["vec_id"] == qids["doc_id"]).select(
            "vec_id", "embedding"
        ),
        k=_ANN_K,
    )
    return rrf_fuse(
        sparse.select("query_id", "doc_id", "rank"),
        dense.select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
        ),
        k=_MLT_K,
    )


def _o_rrf_fusion() -> str:
    return (
        "WITH " + _o_mlt_cte()
        + f""",
v AS (SELECT vec_id, {_O_INT_VEC} AS iv FROM embeddings),
nn AS (
    SELECT vec_id, iv,
           CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
    FROM v
),
q AS (SELECT vec_id AS query_id, iv AS qv, nrm AS qnorm FROM nn
      WHERE vec_id IN (SELECT doc_id FROM qids)),
dp AS (
    SELECT q.query_id, nn.vec_id AS doc_id,
           CAST(list_sum(list_transform(
               range(1, len(q.qv) + 1),
               i -> q.qv[i] * nn.iv[i])) AS BIGINT) AS dot,
           q.qnorm, nn.nrm
    FROM q JOIN nn ON nn.vec_id <> q.query_id
),
dsc AS (
    SELECT query_id, doc_id,
           floor(dot * 1000000 /
                 (sqrt(CAST(qnorm AS DOUBLE))
                  * sqrt(CAST(nrm AS DOUBLE))))::BIGINT AS cos_sim_e6
    FROM dp
),
de AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim_e6 DESC, doc_id)::BIGINT
               AS rank
    FROM dsc
),
dk AS (SELECT query_id, doc_id, rank FROM de WHERE rank <= {_ANN_K}),
sk AS (SELECT query_id, doc_id, rank FROM sp WHERE rank <= {_MLT_K}),
f AS (
    SELECT coalesce(sk.query_id, dk.query_id) AS query_id,
           coalesce(sk.doc_id, dk.doc_id) AS doc_id,
           coalesce(sk.rank, -1)::BIGINT AS rank_a,
           coalesce(dk.rank, -1)::BIGINT AS rank_b,
           (coalesce(1000000 // (60 + sk.rank), 0)
            + coalesce(1000000 // (60 + dk.rank), 0))::BIGINT AS rrf_x1e6
    FROM sk FULL OUTER JOIN dk
      ON sk.query_id = dk.query_id AND sk.doc_id = dk.doc_id
)
SELECT * FROM (
    SELECT query_id, doc_id, rank_a, rank_b, rrf_x1e6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf_x1e6 DESC, doc_id)::BIGINT
               AS rank
    FROM f
) z WHERE rank <= {_MLT_K}
"""
    )


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-iteration merge candidates
    (operators/textstats.bpe_merge_candidates): top-20 adjacent char
    pairs; global top-k via TakeOrderedAndProject, never a global sort."""
    from servico_ocr_spark.operators import bpe_merge_candidates

    return bpe_merge_candidates(_read(spark, sf_dir, "documents"), k=20)


_O_BPE_PAIRS = """
WITH w AS (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
    FROM documents
),
p AS (
    SELECT substr(word, CAST(i AS INT), 2) AS pair
    FROM (SELECT word, unnest(range(1, len(word))) AS i
          FROM w WHERE len(word) >= 2)
)
SELECT pair, count(*)::BIGINT AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


_BPE_MERGES = 16


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sequential BPE merge-learning loop (16 steps), each step
    re-counting pairs AFTER the previous merge applied — the iterative
    twin of the single-pass bpe_pairs (operators/textstats.bpe_learn).
    The oracle is the same greedy gaps-and-islands relational algebra,
    generated as nested CTEs per step (the _o_pagerank technique)."""
    from servico_ocr_spark.operators import bpe_learn

    return bpe_learn(
        _read(spark, sf_dir, "documents"), merges=_BPE_MERGES
    )


def _o_bpe_cte() -> str:
    """Shared CTE chain for the BPE oracles: word table → char symbol
    table → ``merges`` rounds of (pair count, top-1, greedy
    gaps-and-islands application), ending at ``sym{_BPE_MERGES}`` — the
    vocabulary's segmentation. ``_o_bpe_merges`` unions the per-step
    top-1s; ``_o_bpe_encode`` aggregates the final symbol table."""
    cte = ["""
wt AS (
    SELECT word, count(*)::BIGINT AS n FROM (
        SELECT unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS word
        FROM documents)
    GROUP BY word
),
sym0 AS (
    SELECT word, n,
           unnest(range(len(word)))::BIGINT AS pos,
           unnest(string_split(word, '')) AS s
    FROM wt
)"""]
    for i in range(1, _BPE_MERGES + 1):
        prev = f"sym{i - 1}"
        cte.append(f""",
p{i} AS MATERIALIZED (
    SELECT word, n, pos, s,
           lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM {prev}
),
t{i} AS MATERIALIZED (
    SELECT s AS a, nxt AS b, sum(n)::BIGINT AS weight
    FROM p{i} WHERE nxt IS NOT NULL
    GROUP BY s, nxt ORDER BY weight DESC, a, b LIMIT 1
),
z{i} AS MATERIALIZED (
    SELECT *, row_number() OVER (PARTITION BY word, match, isl
                                 ORDER BY pos) AS par
    FROM (
        SELECT *, pos - row_number() OVER (PARTITION BY word, match
                                           ORDER BY pos) AS isl
        FROM (
            SELECT p.word, p.n, p.pos, p.s, p.nxt,
                   (p.nxt IS NOT NULL AND p.s = t.a
                    AND p.nxt = t.b) AS match
            FROM p{i} p CROSS JOIN t{i} t))
),
m{i} AS MATERIALIZED (
    SELECT word, n, pos, s, nxt,
           (match AND par % 2 = 1) AS m,
           coalesce(lag(match AND par % 2 = 1)
                    OVER (PARTITION BY word ORDER BY pos),
                    false) AS pm
    FROM z{i}
),
sym{i} AS MATERIALIZED (
    SELECT word, n,
           (row_number() OVER (PARTITION BY word ORDER BY pos)
                - 1)::BIGINT AS pos,
           CASE WHEN m THEN s || nxt ELSE s END AS s
    FROM m{i} WHERE m OR NOT pm
)""")
    return "WITH " + "".join(cte)


def _o_bpe_merges() -> str:
    selects = " UNION ALL ".join(
        f"SELECT {i}::BIGINT AS step, a AS left_sym, b AS right_sym, "
        f"weight FROM t{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return _o_bpe_cte() + "\n" + selects


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (operators/textstats.bpe_encode): the BPE
    segmentation of every distinct corpus word after the same 3 learned
    merges — the shared merge loop's final symbol table plus one
    vocab-keyed aggregation. One row per distinct word; corpus size
    enters only through the word-count agg."""
    from servico_ocr_spark.operators import bpe_encode

    return bpe_encode(
        _read(spark, sf_dir, "documents"), merges=_BPE_MERGES
    )


def _o_bpe_encode() -> str:
    return _o_bpe_cte() + f"""
SELECT word, n, count(*)::BIGINT AS n_pieces,
       string_agg(s, ' ' ORDER BY pos) AS encoded
FROM sym{_BPE_MERGES} GROUP BY word, n
"""


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-equity metric (operators/textstats.
    tokenizer_fertility): BPE pieces per word ×10^4 per language,
    from the shared merge loop's vocabulary segmentation broadcast
    onto one per-(lang, word) count agg."""
    from servico_ocr_spark.operators import tokenizer_fertility

    return tokenizer_fertility(
        _read(spark, sf_dir, "documents"), merges=_BPE_MERGES
    ).withColumnRenamed("group", "lang")


def _o_tokenizer_fertility() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    return _o_bpe_cte() + f"""
SELECT g.lang, sum(g.cnt)::BIGINT AS n_words,
       sum(g.cnt * e.n_pieces)::BIGINT AS n_pieces,
       ((sum(g.cnt * e.n_pieces) * 10000) // sum(g.cnt))::BIGINT
           AS fertility_e4
FROM (SELECT lang, w AS word, count(*) AS cnt
      FROM (SELECT lang, unnest({words}) AS w FROM documents)
      GROUP BY 1, 2) g
JOIN (SELECT word, count(*) AS n_pieces FROM sym{_BPE_MERGES}
      GROUP BY word) e USING (word)
GROUP BY g.lang
"""


def _q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level word co-occurrence with an integer PMI surrogate
    (operators/textstats.word_cooccurrence). The df cap reuses the
    corpus-derived ceil(9n/10) bound (same rationale as minhash — see
    the comment at _minhash_word_cap); binding-cap evidence lives in
    the unit test. The division ORDER in `lift` is part of the
    contract (overflow-safe to 10^12 docs)."""
    from servico_ocr_spark.operators import word_cooccurrence

    return word_cooccurrence(
        _read(spark, sf_dir, "documents"),
        max_doc_freq=_minhash_word_cap(spark, sf_dir),
        min_pair_count=2,
    )


_O_WORD_PMI = """
WITH w0 AS (
    SELECT doc_id,
           unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS word
    FROM documents
),
cap AS (SELECT ((9 * count(*) + 9) // 10)::BIGINT AS v FROM documents),
dfreq AS (
    SELECT word, count(*) AS wdf FROM w0 GROUP BY word
    HAVING count(*) <= (SELECT v FROM cap)
),
w AS (SELECT w0.doc_id, w0.word FROM w0 JOIN dfreq USING (word)),
nd AS (SELECT count(*) AS n_docs FROM documents),
p AS (
    SELECT a.word AS w1, b.word AS w2, count(*) AS n_pair
    FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.word < b.word
    GROUP BY a.word, b.word HAVING count(*) >= 2
)
SELECT p.w1, p.w2, p.n_pair::BIGINT AS n_pair,
       d1.wdf::BIGINT AS n_w1, d2.wdf::BIGINT AS n_w2,
       (((1000000 * p.n_pair) // d1.wdf * (SELECT n_docs FROM nd))
            // d2.wdf)::BIGINT AS lift
FROM p
JOIN dfreq d1 ON d1.word = p.w1
JOIN dfreq d2 ON d2.word = p.w2
"""


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model with integer conditional
    probabilities (operators/lm.bigram_lm): one doc-keyed window builds
    the bigram stream, ONE combinable count by (w1, w2), context counts
    re-aggregated from the bounded model table — never a second corpus
    scan. p_x1e6 = c(w1,w2)·10^6 div c(w1·), the CCNet model half."""
    from servico_ocr_spark.operators import bigram_lm

    return bigram_lm(_read(spark, sf_dir, "documents"))


def _o_bigram_lm(tbl: str = "documents") -> str:
    return f"""
WITH base AS ({_d_words_cte(tbl)}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
bi AS (
    SELECT doc_id, w AS w1,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
c AS (
    SELECT w1, w2, count(*)::BIGINT AS n_bigram
    FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
),
ctx AS (SELECT w1, sum(n_bigram)::BIGINT AS n_ctx FROM c GROUP BY w1)
SELECT c.w1, c.w2, c.n_bigram, ctx.n_ctx,
       ((c.n_bigram * 1000000) // ctx.n_ctx)::BIGINT AS p_x1e6
FROM c JOIN ctx USING (w1)
"""


def _q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (operators/lm.lm_doc_scores +
    lm_quality_buckets): every document scored by its mean bigram
    probability under the corpus's own model, then bucketed head/
    middle/tail by CORPUS-RELATIVE position — the percentile boundary
    comes from a score-space-bounded histogram (≤ 10^6+1 rows at any
    corpus size), never a global sort. Zero-bigram docs restored with
    score 0 so the percentile sees every document."""
    from servico_ocr_spark.operators import lm_doc_scores, lm_quality_buckets

    return lm_quality_buckets(
        lm_doc_scores(_read(spark, sf_dir, "documents"))
    )


def _o_lm_quality(tbl: str = "documents") -> str:
    return f"""
WITH base AS ({_d_words_cte(tbl)}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
bi AS (
    SELECT doc_id, w AS w1,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
),
c AS (
    SELECT w1, w2, count(*) AS n_bigram
    FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
),
ctx AS (SELECT w1, sum(n_bigram) AS n_ctx FROM c GROUP BY w1),
model AS (
    SELECT c.w1, c.w2, (c.n_bigram * 1000000) // ctx.n_ctx AS p
    FROM c JOIN ctx USING (w1)
),
occ AS (
    SELECT doc_id, w1, w2, count(*) AS n_occ
    FROM bi WHERE w2 IS NOT NULL GROUP BY doc_id, w1, w2
),
sc0 AS (
    SELECT doc_id, sum(n_occ) AS nb,
           sum(n_occ * p) // sum(n_occ) AS s
    FROM occ JOIN model USING (w1, w2) GROUP BY doc_id
),
sc AS (
    SELECT d.doc_id, coalesce(nb, 0)::BIGINT AS n_bigrams,
           coalesce(s, 0)::BIGINT AS lm_score_x1e6
    FROM {tbl} d LEFT JOIN sc0 USING (doc_id)
),
hist AS (
    SELECT lm_score_x1e6, count(*) AS cc FROM sc GROUP BY lm_score_x1e6
),
hb AS (
    SELECT lm_score_x1e6,
           coalesce(sum(cc) OVER (ORDER BY lm_score_x1e6 DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS gt,
           sum(cc) OVER () AS n
    FROM hist
)
SELECT sc.doc_id, sc.n_bigrams, sc.lm_score_x1e6,
       CASE WHEN gt * 3 < n THEN 'head'
            WHEN gt * 3 < 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN hb USING (lm_score_x1e6)
"""


def _q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter confusion matrix: the CCNet LM buckets
    (lm_quality) crossed with the Gopher rule verdict (gopher_filter),
    one row per (bucket, keep) cell with document count and token
    mass — the curation dashboard that decides whether a cheap
    heuristic filter can replace the LM one (or must complement it).
    Both inputs are this contract's own graded queries, joined on
    doc_id; the rollup is bounded at 3×2 rows while the join runs at
    corpus volume."""
    lm = _q_lm_quality(spark, sf_dir).select("doc_id", "bucket")
    gf = _q_gopher_filter(spark, sf_dir).select(
        "doc_id", "keep", "n_words"
    )
    return (
        lm.join(gf, "doc_id")
        .groupBy("bucket", "keep")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
    )


def _o_filter_agreement() -> str:
    return f"""
WITH lmq AS ({_o_lm_quality()}),
gf AS ({_o_gopher_filter()})
SELECT lmq.bucket, gf.keep,
       count(*)::BIGINT AS n_docs,
       sum(gf.n_words)::BIGINT AS n_words
FROM lmq JOIN gf USING (doc_id)
GROUP BY lmq.bucket, gf.keep
"""


def _q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec skip-gram pair generation (operators/lm.skipgram_pairs):
    windowed (center, context) counts over the compacted post-subsample
    token stream, deterministic integer subsampling
    r²·f_ppm ≤ t_ppm·10^12 replaying word2vec's p=sqrt(t/f) keep rate
    bit-identically on both engines. t_ppm=10^4 BINDS at every sf: the
    31-word corpus vocabulary sits at f_ppm ≈ 3·10^4 per word, so keep
    rates are ~0.5-0.8 and both the kept and dropped branches are
    live."""
    from servico_ocr_spark.operators import skipgram_pairs

    return skipgram_pairs(_read(spark, sf_dir, "documents"))


def _o_skipgram_pairs(tbl: str = "documents") -> str:
    r = _d_h48("'sg:' || doc_id::VARCHAR || ':' || pos::VARCHAR || ':' || w")
    return f"""
WITH base AS ({_d_words_cte(tbl)}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos,
           unnest(words) AS w
    FROM base
),
freq AS (SELECT w, count(*)::BIGINT AS f FROM tok GROUP BY w),
tot AS (SELECT greatest(sum(f), 1)::BIGINT AS t FROM freq),
fp AS (SELECT w, (f * 1000000) // (SELECT t FROM tot) AS f_ppm FROM freq),
kept AS (
    SELECT doc_id, pos, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS cpos
    FROM (
        SELECT tok.doc_id, tok.pos, tok.w, fp.f_ppm,
               {r} % 1000000 AS r
        FROM tok JOIN fp USING (w)
    ) s
    WHERE r * r * f_ppm <= 10000000000000000
),
fwd AS MATERIALIZED (
    SELECT a.w AS center, b.w AS context, count(*)::BIGINT AS n
    FROM kept a JOIN kept b
      ON a.doc_id = b.doc_id
     AND b.cpos > a.cpos AND b.cpos <= a.cpos + 3
    GROUP BY a.w, b.w
)
SELECT center, context, sum(n)::BIGINT AS n_pairs
FROM (SELECT center, context, n FROM fwd
      UNION ALL
      SELECT context AS center, center AS context, n FROM fwd) u
GROUP BY center, context
"""


#: LM-quality mixing recipe: CCNet keeps the model-typical end of the
#: corpus — head oversampled 6:3:1 over middle:tail
_QMIX_WEIGHTS = {"head": 6, "middle": 3, "tail": 1}


def _q_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query — CCNet's END USE of the LM buckets: the
    head/middle/tail thirds become the strata of a token-budget mix
    (head oversampled 6:3:1), i.e. 'train mostly on model-typical
    text'. lm_quality_buckets ∘ token_budget_mix(stratum_col='bucket');
    the budget is half the corpus token mass, derived in integer
    arithmetic both engines reproduce (the documented eager-agg
    precedent from token_budget_mix). All three bucket rates bind at
    every sf (thirds by doc count ⇒ each stratum's token share is ~1/3,
    above its 0.6/0.3/0.1 budget share except head's, which the
    keep-everything cap handles if the corpus skews)."""
    from servico_ocr_spark.operators import (
        lm_doc_scores,
        lm_quality_buckets,
        token_budget_mix,
    )

    docs = _read(spark, sf_dir, "documents")
    total = (
        docs.agg(
            F.sum(F.size(words_array(F.col("text"))))
            .cast("long").alias("t")
        ).collect()[0]["t"]
    )
    staged = docs.select("doc_id", "text").join(
        lm_quality_buckets(lm_doc_scores(docs)).select("doc_id", "bucket"),
        "doc_id",
    )
    return token_budget_mix(
        staged,
        budget=int(total) // 2,
        weights=_QMIX_WEIGHTS,
        stratum_col="bucket",
        salt="qmix",
        rate_denom=_MIX_DENOM,
    ).orderBy("doc_id")


def _o_quality_mix() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    h = _d_h48("('qmix:' || doc_id::VARCHAR)")
    D = _MIX_DENOM
    w_total = sum(_QMIX_WEIGHTS.values())
    w_case = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(_QMIX_WEIGHTS.items())
    )
    return f"""
WITH lmq AS (
    SELECT doc_id, bucket FROM ({_o_lm_quality()})
),
t AS (
    SELECT d.doc_id, q.bucket AS stratum,
           len({words})::BIGINT AS n_tokens,
           {h} AS h,
           (CASE q.bucket {w_case} ELSE 0 END)::BIGINT AS w
    FROM documents d JOIN lmq q USING (doc_id)
),
b AS (SELECT (sum(n_tokens)::BIGINT // 2) AS budget FROM t),
s AS (
    SELECT stratum, sum(n_tokens)::BIGINT AS ts, min(w) AS w2
    FROM t GROUP BY stratum
),
r AS (
    SELECT stratum,
           (CASE WHEN ts = 0 THEN {D}
                 ELSE least({D},
                            ((SELECT budget FROM b) * w2 * {D})
                                // ({w_total} * ts))
            END)::BIGINT AS rate_pp
    FROM s
)
SELECT t.doc_id, t.stratum, t.n_tokens, r.rate_pp
FROM t JOIN r USING (stratum)
WHERE t.h * {D} < r.rate_pp * 281474976710656
ORDER BY t.doc_id
"""


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import inverted_index

    # salt_buckets=4 exercises the two-stage hot-term path in the graded
    # plan (equality with the one-stage plan is unit-tested); on this
    # corpus EVERY term is hot (31-word vocabulary, df ≈ 0.8n)
    return inverted_index(
        _read(spark, sf_dir, "documents"), k=3, salt_buckets=4
    )


def _o_inverted_index() -> str:
    return f"""
WITH base AS ({_d_words_cte()}),
tf AS (
    SELECT doc_id, w AS word, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, unnest(words) AS w FROM base)
    GROUP BY doc_id, w
),
stats AS (
    SELECT word, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
           max(tf)::BIGINT AS max_tf
    FROM tf GROUP BY word
),
topk AS (
    SELECT word, doc_id, tf
    FROM tf
    QUALIFY row_number() OVER (PARTITION BY word
                               ORDER BY tf DESC, doc_id) <= 3
),
posts AS (
    SELECT word,
           string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ','
                      ORDER BY tf DESC, doc_id) AS top_docs
    FROM topk GROUP BY word
)
SELECT s.word, s.df, s.total_tf, s.max_tf, p.top_docs
FROM stats s JOIN posts p ON s.word = p.word
"""


def _o_fingerprint() -> str:
    gram_hash = _d_h48("(w || ' ' || w1 || ' ' || w2 || ' ' || w3)")
    return f"""
WITH base AS (
    SELECT doc_id, {_D_NORM} AS norm,
           {_D_WORDS.format(norm=_D_NORM)} AS words
    FROM documents
),
tok AS (
    SELECT doc_id,
           generate_subscripts(words, 1) AS pos,
           unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
           lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
    FROM tok
),
sk AS (
    SELECT doc_id,
           min(CASE WHEN w3 IS NOT NULL THEN {gram_hash} END) AS winnow_min,
           max(CASE WHEN w3 IS NOT NULL THEN {gram_hash} END) AS winnow_max
    FROM led GROUP BY doc_id
)
SELECT b.doc_id, md5(b.norm) AS content_md5, sk.winnow_min, sk.winnow_max
FROM base b LEFT JOIN sk ON sk.doc_id = b.doc_id
"""


def _q_length_repetition_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Spearman rank correlation per source
    (operators/stats.rank_correlation) between document length and the
    Gopher dup-word rate — the corpus-diagnostics question "do longer
    documents repeat more" answered with zero floats: deterministic
    doc_id tie-broken ranks + the truncating 10^4 rho surrogate
    (div-toward-zero agreement, the kmeans rule). Composes the
    table-parameterized repetition oracle fragment. Plan: the metric
    join, ONE source-keyed exchange feeding both rank sorts, one
    combinable agg; exact to ~96k docs/source (documented bound —
    beyond that feed a stratified_sample)."""
    from servico_ocr_spark.operators import (
        rank_correlation,
        repetition_stats,
    )

    docs = _read(spark, sf_dir, "documents")
    j = docs.select("doc_id", "source", "n_chars").join(
        repetition_stats(docs).select("doc_id", "dup_word_ppm"),
        "doc_id",
    )
    return rank_correlation(
        j, "source", "n_chars", "dup_word_ppm", "doc_id"
    ).withColumnRenamed("group", "source")


def _o_length_repetition_corr() -> str:
    return f"""
WITH rep AS ({_o_repetition_stats()}),
j AS (
    SELECT d.source, d.n_chars, r.dup_word_ppm, d.doc_id
    FROM documents d JOIN rep r ON d.doc_id = r.doc_id
),
rk AS (
    SELECT source,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS rx,
           row_number() OVER (PARTITION BY source
                              ORDER BY dup_word_ppm, doc_id) AS ry
    FROM j
),
a AS (
    SELECT source, count(*)::BIGINT AS n,
           sum((rx - ry) * (rx - ry))::BIGINT AS sum_d2
    FROM rk GROUP BY source
)
SELECT source, n, sum_d2,
       (CASE WHEN n >= 2
             THEN (10000 * (n * (n * n - 1) - 6 * sum_d2))
                  // (n * (n * n - 1))
             ELSE 0 END)::BIGINT AS rho_pp10k
FROM a
"""


#: seeded keyword → topic dictionary for topic tagging, interpolated
#: into BOTH engines (the PII shared-constant rule); deliberately
#: sparse — single keywords per topic — so the no-keyword 'none'
#: branch stays live at every sf (measured 35/30/395 docs)
TOPIC_KEYWORDS = {
    "join": "joins",
    "sort": "ordering",
    "dup": "dedup",
}


def _q_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-seeded topic tagging: broadcast the keyword→topic
    table onto the token stream and take each document's majority
    topic via the generic distributed MODE
    (operators/stats.majority_label — ONE combinable (doc,topic)
    count, argmax over a label-cardinality window, label-asc tie rule
    binding often at these small counts). Documents with no keyword
    hits are restored as 'none' through a left join from the id spine
    (zero-token-doc discipline). Plan: explode → BroadcastHashJoin on
    the 3-row dictionary → the majority_label shape → one restoring
    join."""
    from servico_ocr_spark.operators import majority_label
    from servico_ocr_spark.operators.common import words_array

    docs = _read(spark, sf_dir, "documents")
    kw = spark.createDataFrame(
        [(w, t) for w, t in sorted(TOPIC_KEYWORDS.items())],
        "word string, topic string",
    )
    toks = docs.select(
        "doc_id", F.explode(words_array(F.col("text"))).alias("word")
    )
    hits = toks.join(F.broadcast(kw), "word").select("doc_id", "topic")
    maj = majority_label(hits, group_col="doc_id", label_col="topic")
    return docs.select("doc_id").join(
        maj, docs["doc_id"] == maj["group"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("label"), F.lit("none")).alias("topic"),
        F.coalesce(F.col("n_label"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.col("n_group"), F.lit(0)).cast("long")
        .alias("n_keyword_tokens"),
    )


def _o_topic_tags() -> str:
    vals = ", ".join(
        f"('{w}', '{t}')" for w, t in sorted(TOPIC_KEYWORDS.items())
    )
    return f"""
WITH w AS ({_d_words_cte()}),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
kw(word, topic) AS (VALUES {vals}),
cnt AS (
    SELECT t.doc_id, k.topic, count(*)::BIGINT AS n_label
    FROM tok t JOIN kw k ON t.word = k.word
    GROUP BY t.doc_id, k.topic
),
tot AS (
    SELECT doc_id, sum(n_label)::BIGINT AS n_group FROM cnt GROUP BY doc_id
),
top AS (
    SELECT doc_id, topic, n_label,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_label DESC, topic ASC) AS rk
    FROM cnt
)
SELECT d.doc_id,
       coalesce(t.topic, 'none') AS topic,
       coalesce(t.n_label, 0)::BIGINT AS n_hits,
       coalesce(g.n_group, 0)::BIGINT AS n_keyword_tokens
FROM documents d
LEFT JOIN (SELECT * FROM top WHERE rk = 1) t ON d.doc_id = t.doc_id
LEFT JOIN tot g ON d.doc_id = g.doc_id
"""


def _q_word_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics for the word key space
    (operators/stats.key_skew_summary): the one-row report a scale
    engineer reads BEFORE shuffling 100 TB on a key — key cardinality,
    hottest-key mass, top-1%-of-keys share, exact p50/p99 key masses
    (rank arithmetic). On this corpus it quantifies exactly why the
    dedup joins carry df caps: ~31 keys each holding ~3% of all
    tokens. ONE combinable key agg collapses the corpus; the sort
    window runs over key-cardinality rows."""
    from servico_ocr_spark.operators import key_skew_summary
    from servico_ocr_spark.operators.common import words_array

    toks = _read(spark, sf_dir, "documents").select(
        F.explode(words_array(F.col("text"))).alias("word")
    )
    return key_skew_summary(toks, "word")


def _o_word_key_skew() -> str:
    return f"""
WITH w AS ({_d_words_cte()}),
tok AS (SELECT unnest(words) AS word FROM w),
m AS (SELECT word, count(*)::BIGINT AS mass FROM tok GROUP BY word),
r AS (
    SELECT mass,
           row_number() OVER (ORDER BY mass ASC, word ASC) AS rn,
           count(*) OVER () AS nk
    FROM m
),
a AS (
    SELECT max(nk)::BIGINT AS n_keys,
           sum(mass)::BIGINT AS n_rows,
           max(mass)::BIGINT AS max_mass,
           sum(CASE WHEN rn > nk - ((nk + 99) // 100)
                    THEN mass ELSE 0 END)::BIGINT AS top1,
           max(CASE WHEN rn = (nk * 50 + 99) // 100
                    THEN mass END)::BIGINT AS p50_mass,
           max(CASE WHEN rn = (nk * 99 + 99) // 100
                    THEN mass END)::BIGINT AS p99_mass
    FROM r
)
SELECT n_keys, n_rows, max_mass,
       ((top1 * 10000) // n_rows)::BIGINT AS top1pct_share_pp10k,
       p50_mass, p99_mass
FROM a
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_read(spark, sf_dir, "documents"))


def _o_repetition_stats(tbl: str = "documents") -> str:
    def ppm(num, denom):
        return (
            f"(CASE WHEN coalesce(m.{denom}, 0) > 0 THEN "
            f"floor({num} * 1000000 / m.{denom}) ELSE 0 END)::BIGINT"
        )

    return f"""
WITH base AS ({_d_words_cte(tbl)}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
    FROM base
),
led AS (
    SELECT doc_id, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM tok
),
kx AS (
    SELECT doc_id, 0 AS kind, w AS key FROM led
    UNION ALL
    SELECT doc_id, 1 AS kind, w || ' ' || w1 AS key FROM led
    WHERE w1 IS NOT NULL
),
counts AS (
    SELECT doc_id, kind, key, count(*) AS c FROM kx GROUP BY 1, 2, 3
),
m AS (
    SELECT doc_id,
           sum(CASE WHEN kind = 0 THEN c END)::BIGINT AS n_words,
           count(CASE WHEN kind = 0 THEN 1 END)::BIGINT AS d_words,
           max(CASE WHEN kind = 0 THEN c END)::BIGINT AS top_w,
           sum(CASE WHEN kind = 1 THEN c END)::BIGINT AS n_grams,
           count(CASE WHEN kind = 1 THEN 1 END)::BIGINT AS d_grams,
           max(CASE WHEN kind = 1 THEN c END)::BIGINT AS top_g
    FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(m.n_words, 0)::BIGINT AS n_words,
       {ppm("(m.n_words - m.d_words)", "n_words")} AS dup_word_ppm,
       {ppm("m.top_w", "n_words")} AS top_word_ppm,
       {ppm("(m.n_grams - m.d_grams)", "n_grams")} AS dup_2gram_ppm,
       {ppm("m.top_g", "n_grams")} AS top_2gram_ppm
FROM {tbl} d LEFT JOIN m ON m.doc_id = d.doc_id
"""


def _q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_page_clean(
        c4_text_from_documents(_read(spark, sf_dir, "documents"))
    )


def _o_c4_clean(tbl: str = "documents") -> str:
    """Mirror of corpus.c4_text_from_documents + textstats.c4_page_clean:
    rebuild the punctuated multi-line pages from the same doc_id
    arithmetic, then re-apply the C4 line/page rules on the page string —
    the oracle runs the full synthesize → split → filter path, exactly
    like the Spark side. ``tbl`` lets the curation-pipeline oracle run
    the same fragment over a filtered (doc_id, text) CTE."""
    w = _C4_LINE_WORDS
    return f"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS ws
    FROM {tbl}
),
lx AS (
    SELECT doc_id,
           list_concat(
             CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(
                    generate_series(0, (len(ws) - 1) // {w}),
                    i -> array_to_string(ws[i * {w} + 1 : i * {w} + {w}], ' ')
                      || CASE WHEN (doc_id + i) % 11 = 5
                              THEN ' javascript' ELSE '' END
                      || (['.', '!', '?', ''])[(doc_id + i) % 4 + 1]) END,
             list_concat(
               CASE WHEN doc_id % 19 = 5 THEN ['{C4_LOREM_LINE}']
                    ELSE CAST([] AS VARCHAR[]) END,
               CASE WHEN doc_id % 23 = 7 THEN ['{C4_BRACE_LINE}']
                    ELSE CAST([] AS VARCHAR[]) END)
           ) AS built
    FROM base
),
pg AS (
    SELECT doc_id, array_to_string(built, chr(10)) AS page FROM lx
),
k AS (
    SELECT doc_id, page,
           string_split(page, chr(10)) AS lines,
           list_filter(string_split(page, chr(10)),
             x -> right(x, 1) IN ('.', '!', '?', '"')
               AND len(list_filter(string_split(x, ' '), y -> y <> ''))
                   >= {C4_MIN_LINE_WORDS}
               AND strpos(lower(x), 'javascript') = 0) AS kept
    FROM pg
),
f AS (
    SELECT doc_id, lines, kept,
           (strpos(page, chr(123)) = 0
            AND strpos(lower(page), 'lorem ipsum') = 0
            AND len(kept) >= {C4_MIN_KEPT_LINES}) AS pk
    FROM k
)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept,
       (CASE WHEN pk THEN 1 ELSE 0 END)::BIGINT AS page_kept,
       CASE WHEN pk THEN array_to_string(kept, chr(10)) END AS clean_text
FROM f
"""


# ===========================================================================
# Relational operator coverage (joins, aggs, windows, sessionization)
# ===========================================================================

def _cents(col):
    """floor(x*100 + 0.5) — deterministic double→cents, engine-portable."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_cents"),
            F.sum(_cents(charge)).alias("sum_charge_cents"),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty_cents",
            F.floor(F.col("sum_qty_cents") / F.col("count_order")).cast("long"),
        )
    )


_O_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       sum(floor(l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS sum_qty_cents,
       sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT AS sum_base_cents,
       sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT
           AS sum_disc_cents,
       sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)::BIGINT)::BIGINT
           AS sum_charge_cents,
       count(*) AS count_order,
       floor(sum(floor(l_quantity * 100 + 0.5)::BIGINT) / count(*))::BIGINT
           AS avg_qty_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    revenue = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(revenue).alias("revenue_cents"))
    )
    return (
        joined.orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "revenue_cents",
        )
    )


_O_TOP_REVENUE_ORDERS = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT
           AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue_cents DESC, o_orderkey ASC
LIMIT 10
"""


def _q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog (order-priority checking): orders placed in
    1996Q1 that have AT LEAST ONE lineitem shipping more than 60 days
    after the order date, counted per priority. The reference Q4's
    EXISTS subquery is a LEFT SEMI join in Spark — the probe never
    duplicates an order no matter how many late lineitems it has, and
    the quarter predicate pushes to the orders parquet scan (both
    plan-locked). The semi join carries the cross-table date predicate
    as a join condition, so lineitems are filtered during the join,
    not materialized per order. Both branches live at every sf
    (measured: 58/62 quarter orders pass the EXISTS at sf0.001)."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > F.expr("o_orderdate + INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders")
    )


_O_LATE_ORDERS = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o_orderkey
                AND l.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (operators/textstats.corpus_datasheet):
    totals, lang/source cardinalities, empty docs, 5-word-prefix dup
    mass (the exact_duplicates fixture notion — live at every sf),
    integer mean tokens. Two combinable aggs, zero joins/windows."""
    from servico_ocr_spark.operators import corpus_datasheet

    return corpus_datasheet(_read(spark, sf_dir, "documents"))


def _o_corpus_report() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    return f"""
WITH base AS (
    SELECT lang, source,
           len({words})::BIGINT AS n_tok,
           length(text)::BIGINT AS n_chr,
           md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS ph
    FROM documents
),
m AS (
    SELECT count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           sum(n_chr)::BIGINT AS n_chars,
           count(DISTINCT lang)::BIGINT AS n_langs,
           count(DISTINCT source)::BIGINT AS n_sources,
           sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_empty_docs
    FROM base
),
d AS (
    SELECT coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT
               AS n_prefix_dup_docs
    FROM (SELECT ph, count(*) AS c FROM base GROUP BY ph)
)
SELECT m.*, d.n_prefix_dup_docs,
       (m.n_tokens // m.n_docs)::BIGINT AS mean_tokens
FROM m, d
"""


def _q_never_returned_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style NOT IN: parts never appearing in a discounted
    returned lineitem, counted per brand. Written as SQL NOT IN so
    Catalyst plans the NULL-AWARE anti join (broadcast NAAJ — the
    subquery result must be checked for nulls before plain anti-join
    semantics are sound; a DataFrame left_anti would silently change
    semantics if the key column ever carried nulls). Both branches
    live at every sf (17/163/1644 of 200/2000/20000 parts qualify)."""
    _read(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    _read(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT p_brand, count(*) AS n_parts
        FROM v_part
        WHERE p_partkey NOT IN (
            SELECT l_partkey FROM v_lineitem
            WHERE l_returnflag = 'R' AND l_discount > 0.07
        )
        GROUP BY p_brand
        """
    ).select("p_brand", F.col("n_parts").cast("long").alias("n_parts"))


_O_NEVER_RETURNED_PARTS = """
SELECT p_brand, count(*)::BIGINT AS n_parts
FROM part
WHERE p_partkey NOT IN (
    SELECT l_partkey FROM lineitem
    WHERE l_returnflag = 'R' AND l_discount > 0.07
)
GROUP BY p_brand
"""


def _q_customer_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog (customer distribution): customers bucketed by
    how many URGENT/HIGH orders they placed — the two-level aggregation
    over a LEFT OUTER join whose right-side predicate must live in the
    ON clause (in WHERE it silently turns the join inner and the
    zero-order bucket vanishes — the classic outer-join bug; the zero
    bucket is live at every sf: 3/28/292 customers)."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("o_custkey") == F.col("c_custkey"))
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


_O_CUSTOMER_ENGAGEMENT = """
SELECT c_count, count(*)::BIGINT AS custdist FROM (
    SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1)
GROUP BY c_count
"""


def _q_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (suppliers-who-kept-orders-waiting shape):
    suppliers in even-keyed nations who were the SOLE returned-line
    ('R') supplier in a multi-supplier order, counted and top-20 by
    (numwait desc, s_name). Q21's correlated EXISTS / NOT EXISTS pair
    compiles to one LEFT SEMI plus one LEFT ANTI join, both on the
    l_orderkey equi key with the supplier-inequality carried as a join
    condition (never a per-order fan-out materialized); supplier and
    the filtered nation dim broadcast; top-k is TakeOrderedAndProject
    with a total-order tie-break. Live tri-scale: 5/45/499 suppliers
    reach the output."""
    l = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = l.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = l.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    multi = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2"))
        & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    l3 = l.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sole = multi.join(
        l3,
        (F.col("l_orderkey") == F.col("o3"))
        & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    sup = (
        _read(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _read(spark, sf_dir, "nation").where(
                    F.col("n_nationkey") % 2 == 0
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        sole.join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_O_BLAME_SUPPLIERS = """
WITH l1 AS (
    SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
),
multi AS (
    SELECT l1.l_orderkey, l1.l_suppkey FROM l1
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
),
sole AS (
    SELECT m.* FROM multi m
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = m.l_orderkey
                        AND l3.l_suppkey <> m.l_suppkey
                        AND l3.l_returnflag = 'R')
)
SELECT s.s_name, count(*)::BIGINT AS numwait
FROM sole
JOIN supplier s ON s.s_suppkey = sole.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_nationkey % 2 = 0
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


def _q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog (large-volume customer): orders whose total
    lineitem quantity exceeds 300, joined back to order and customer
    detail — the group→HAVING→join-back shape. Plan intent at 100 TB:
    ONE map-side-combinable quantity agg on l_orderkey; the HAVING
    filter collapses it to ~0.3% of orders, so the REDUCED aggregate is
    the broadcast side of both detail joins (orders and customer scans
    are never shuffled — an orderkey-partitioned shuffle join of two
    corpus-scale tables would dwarf the query). Threshold 300 is
    TPC-H's own and binds at every sf (p99.5 of the per-order sum)."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    orders = _read(spark, sf_dir, "orders")
    detail = orders.join(
        F.broadcast(big), orders.o_orderkey == big.l_orderkey
    )
    cust = _read(spark, sf_dir, "customer")
    return cust.join(
        F.broadcast(detail), detail.o_custkey == cust.c_custkey
    ).select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
        _cents(F.col("o_totalprice")).alias("totalprice_cents"),
        F.col("total_qty").cast("long").alias("total_qty"),
    )


_O_BIG_ORDERS = """
WITH big AS (
    SELECT l_orderkey, sum(l_quantity::BIGINT)::BIGINT AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity::BIGINT) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       floor(o_totalprice * 100 + 0.5)::BIGINT AS totalprice_cents,
       total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def _q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog (local-supplier volume): six-table star join —
    lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with the
    customer-nation ≡ supplier-nation predicate — revenue per nation in
    deterministic cents. Plan intent: region/nation are EXPLICIT
    broadcasts (constant-size dims — no reason to let a statistics
    misestimate shuffle them); the date filter lands on the orders scan
    (PushedFilters) so the orders⋈lineitem shuffle carries only the
    two-year window; customer/supplier joins are AQE's call (both
    corpus-scaled — broadcastable at sf, shuffled at 100 TB, and the
    declarative plan lets Catalyst flip per scale)."""
    p = sf_dir
    region = _read(spark, p, "region").where(F.col("r_name") == "ASIA")
    nation = _read(spark, p, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    orders = _read(spark, p, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _read(spark, p, "lineitem")
    cust = _read(spark, p, "customer")
    sup = _read(spark, p, "supplier")
    revenue = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(revenue).cast("long").alias("revenue_cents"),
        )
    )


_O_REGIONAL_VOLUME = """
SELECT n_name, count(*)::BIGINT AS n_items,
       sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT
           AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def _q_first_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_orders", F.count("*").over(Window.partitionBy("o_custkey"))
        )
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").cast("date").cast("string").alias("first_orderdate"),
            "n_orders",
        )
    )


_O_FIRST_ORDERS = """
WITH r AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
)
SELECT o_custkey, o_orderkey AS first_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS first_orderdate,
       n_orders
FROM r WHERE rn = 1
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("session_start", starts)
        .groupBy("user_id")
        .agg(
            F.sum("session_start").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


_O_SESSIONIZE = """
WITH g AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) > 1800
                THEN 1 ELSE 0 END AS session_start
    FROM events
)
SELECT user_id, sum(session_start)::BIGINT AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


_FUNNEL_STEPS = ("view", "click", "purchase")


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered first-touch funnel over the events table
    (operators/events.funnel_counts): users whose first click follows
    their first view, whose first purchase follows THAT click. Every
    intermediate frame is bounded by |users| (one row per user), all
    shuffles keyed on user_id; unreached steps still emit a 0 row via
    the literal step dimension. The oracle builds the same chain as
    sequential CTEs (each referenced once — no MATERIALIZED needed,
    the pagerank/hits distinction)."""
    from servico_ocr_spark.operators import funnel_counts

    return funnel_counts(_read(spark, sf_dir, "events"), _FUNNEL_STEPS)


def _o_funnel_steps(steps: tuple = _FUNNEL_STEPS) -> str:
    """Sequential-CTE funnel: s{i} = first step-i event strictly after
    the user's s{i-1} timestamp. Aggregates without GROUP BY always
    yield one row, so an unreached step reads count 0 — matching the
    Spark side's right join against the step dimension."""
    in_list = ", ".join(f"'{s}'" for s in steps)
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t FROM f\n"
        f"        WHERE event_type = '{steps[0]}' GROUP BY user_id)"
    ]
    for i, s in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT f.user_id, min(f.ts) AS t FROM f\n"
            f"        JOIN s{i - 1} p ON f.user_id = p.user_id\n"
            f"        WHERE f.event_type = '{s}' AND f.ts > p.t\n"
            f"        GROUP BY f.user_id)"
        )
    selects = [
        f"SELECT {i}::BIGINT AS step, '{s}' AS step_name,\n"
        f"       count(*)::BIGINT AS n_users FROM s{i}"
        for i, s in enumerate(steps, start=1)
    ]
    return (
        "\nWITH f AS (\n"
        "    SELECT user_id, ts, event_type FROM events\n"
        f"    WHERE event_type IN ({in_list})\n"
        "),\n" + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects) + "\n"
    )


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention matrix over the events table
    (operators/events.cohort_retention): one shuffle collapses events
    to a per-user active-day set (bounded by the corpus's calendar
    span, not event count), a second map-side-combinable agg produces
    the (cohort_day, offset_days) cells. The oracle takes the textbook
    distinct+join route — two genuinely different plans, same cells."""
    from servico_ocr_spark.operators import cohort_retention

    return cohort_retention(_read(spark, sf_dir, "events"))


_O_COHORT_RETENTION = """
WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
       (d.day - c.cohort)::BIGINT AS offset_days,
       count(*)::BIGINT AS n_users
FROM d JOIN c ON d.user_id = c.user_id
GROUP BY 1, 2
"""


def _q_activity_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill (operators/events.activity_gapfill): one row
    per user per day between the user's first and last event, gap days
    zero-filled — the timeseries resample primitive. Raw events
    collapse map-side in one (user, day) count; the calendar expansion
    runs on the per-user span relation (explode(sequence(d0, d1))), so
    state is bounded by users × calendar span, not event count."""
    from servico_ocr_spark.operators import activity_gapfill

    return activity_gapfill(_read(spark, sf_dir, "events"))


_O_ACTIVITY_GAPFILL = """
WITH daily AS (
    SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS n_events
    FROM events GROUP BY user_id, ts::DATE
),
span AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1
    FROM daily GROUP BY user_id
),
cal AS (
    SELECT user_id,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM span
)
SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
       coalesce(d.n_events, 0)::BIGINT AS n_events
FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
"""


def _q_rolling_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling event counts per event type
    (operators/events.rolling_daily_counts): the traffic-trend
    primitive, computed with a RANGE frame over the integer epoch-day
    so calendar gaps are bridged correctly (a ROWS frame would reach
    across missing days — the classic moving-average bug). Plan: ONE
    combinable (key, day) count, then a window over the bounded
    aggregate."""
    from servico_ocr_spark.operators import rolling_daily_counts

    return rolling_daily_counts(_read(spark, sf_dir, "events"))


_O_ROLLING_ACTIVITY = """
WITH daily AS (
    SELECT event_type AS key, ts::DATE AS d, count(*)::BIGINT AS n_day
    FROM events GROUP BY 1, 2
)
SELECT key, strftime(d, '%Y-%m-%d') AS day, n_day,
       sum(n_day) OVER (
           PARTITION BY key
           ORDER BY (d - DATE '1970-01-01')
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       )::BIGINT AS n_roll
FROM daily
"""


def _q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-rate anomaly flags (operators/events.rate_anomalies):
    exact integer Poisson z-test per (event_type, day) over the
    zero-filled span. The fixture injects both anomaly branches from
    the data itself (the decontaminate injection rule): day-3 clicks
    are TRIPLED (two extra copies per event) and day-5 views removed
    entirely — so spike, drop AND normal statuses are live at every
    sf. z=2, not the operator's z=3 default, because at sf0.001 the
    view key averages ~6 events/day and even a zero day is only
    ~2.3σ under Poisson — a measured small-scale bound, not a tuning
    fudge; organic ~2σ boundary days flag identically on both engines
    (exact integer test)."""
    from servico_ocr_spark.operators import rate_anomalies

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    dropped = ev.where(
        ~(
            (F.col("event_type") == "view")
            & (F.to_date("ts") == F.lit("2024-01-05").cast("date"))
        )
    )
    extra = (
        ev.where(
            (F.col("event_type") == "click")
            & (F.to_date("ts") == F.lit("2024-01-03").cast("date"))
        )
        .crossJoin(spark.range(2).select(F.col("id").alias("_r")))
        .select("event_id", "ts", "event_type")
    )
    return rate_anomalies(dropped.unionByName(extra), z=2)


def _o_rate_anomalies() -> str:
    return f"""
WITH ev AS (
    SELECT event_id, ts, event_type FROM events
    WHERE NOT (event_type = 'view' AND ts::DATE = DATE '2024-01-05')
    UNION ALL
    SELECT e.event_id, e.ts, e.event_type
    FROM events e CROSS JOIN (SELECT unnest([1, 2]) AS r) t
    WHERE e.event_type = 'click' AND e.ts::DATE = DATE '2024-01-03'
),
daily AS (
    SELECT event_type AS key, ts::DATE AS day, count(*)::BIGINT AS n
    FROM ev GROUP BY 1, 2
),
base AS (
    SELECT key, min(day) AS d0, max(day) AS d1,
           sum(n)::BIGINT AS base_total,
           (max(day) - min(day) + 1)::BIGINT AS base_days
    FROM daily GROUP BY key
),
cal AS (
    SELECT key, base_total, base_days,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM base
),
f AS (
    SELECT c.key, c.day, coalesce(d.n, 0)::BIGINT AS n_events,
           c.base_total, c.base_days
    FROM cal c LEFT JOIN daily d ON d.key = c.key AND d.day = c.day
)
SELECT key, strftime(day, '%Y-%m-%d') AS day, n_events,
       base_total, base_days,
       CASE WHEN (n_events * base_days - base_total)
                 * (n_events * base_days - base_total)
                 > 4 * base_total * base_days
            THEN CASE WHEN n_events * base_days > base_total
                      THEN 'spike' ELSE 'drop' END
            ELSE 'normal' END AS status
FROM f
"""


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over the events table
    (operators/events.event_transitions): consecutive event-type pairs
    per user stream, ordered by the sessionize tie-break (ts, event_id)
    so simultaneous events have a stable successor. ONE user-keyed
    window shuffle + one map-side-combinable count; output is bounded
    by |types|², never event count. The user-flow / Sankey source and
    next-event prior — the path-free complement to funnel_steps."""
    from servico_ocr_spark.operators import event_transitions

    return event_transitions(_read(spark, sf_dir, "events"))


_O_EVENT_TRANSITIONS = """
WITH s AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type, next_type, count(*)::BIGINT AS n_transitions
FROM s WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


def _q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 Markov path counts
    (operators/events.event_path_ngrams, n=3): every 3-step
    consecutive event-type path per user stream — the sequence-mining
    depth event_transitions' pair matrix lacks. Same one-window
    contract ((ts, event_id) order, both leads in the same pass),
    output bounded by |types|³."""
    from servico_ocr_spark.operators import event_path_ngrams

    return event_path_ngrams(_read(spark, sf_dir, "events"), n=3)


_O_EVENT_TRIGRAMS = """
WITH s AS (
    SELECT event_type AS step1,
           lead(event_type, 1) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS step2,
           lead(event_type, 2) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS step3
    FROM events
)
SELECT step1, step2, step3, count(*)::BIGINT AS n_paths
FROM s WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
"""


def _q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: for each purchase event, the same
    user's latest click at-or-before it (backward inclusive as-of).
    Spark side is operators/temporal.asof_join — the union-and-window
    shape (ONE shuffle, no join operator, no per-key row amplification);
    the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``, so the two
    engines reach the same rows through genuinely different plans.
    Lag is integer microseconds (wall-clock timestampdiff ↔ epoch_us difference), -1 sentinel
    for unattributed purchases (crawl_delta's null convention)."""
    from servico_ocr_spark.operators import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        probe_ts="ts",
        build_ts="ts",
        value_cols=["event_id", "ts"],
        tie_break="event_id",
        prefix="click_",
    )
    return j.select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.coalesce(F.col("click_event_id"), F.lit(-1))
        .cast("long")
        .alias("click_id"),
        F.coalesce(
            # NTZ-safe wall-clock difference (unix_micros rejects
            # TIMESTAMP_NTZ; a tz-conversion round-trip is avoidable)
            F.expr("timestampdiff(MICROSECOND, click_ts, ts)"),
            F.lit(-1),
        )
        .cast("long")
        .alias("lag_us"),
    )


_O_ASOF_ATTRIBUTION = """
WITH clicks AS (
    SELECT user_id, ts, max(event_id) AS event_id
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (
    SELECT user_id, ts, event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id::BIGINT AS purchase_id,
       p.user_id::BIGINT AS user_id,
       COALESCE(c.event_id, -1)::BIGINT AS click_id,
       COALESCE(epoch_us(p.ts) - epoch_us(c.ts), -1)::BIGINT AS lag_us
FROM p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion latency, p50/p90/p95 per purchase day —
    the composition of the as-of attribution lags
    (operators/temporal.asof_join) with exact rank-arithmetic quantiles
    (operators/stats.exact_group_quantiles): the funnel-health dashboard
    statistic, integer microseconds end to end (no percentile
    interpolation, so both engines agree bit-for-bit). Unattributed
    purchases are excluded (latency of a conversion that never started
    is undefined, not zero). Plan: the asof union-window (one shuffle)
    → day-keyed quantile window over the bounded attributed set."""
    from servico_ocr_spark.operators import (
        asof_join,
        exact_group_quantiles,
    )

    ev = _read(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        probe_ts="ts",
        build_ts="ts",
        value_cols=["event_id", "ts"],
        tie_break="event_id",
        prefix="click_",
    )
    lat = j.where(F.col("click_ts").isNotNull()).select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.expr("timestampdiff(MICROSECOND, click_ts, ts)")
        .cast("long")
        .alias("lag_us"),
    )
    return exact_group_quantiles(
        lat, group_col="day", value_col="lag_us", qs=(50, 90, 95)
    ).withColumnRenamed("group", "day")


_O_CONVERSION_LATENCY = """
WITH clicks AS (
    SELECT user_id, ts, max(event_id) AS event_id
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (
    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
),
att AS (
    SELECT p.ts AS pts,
           (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS lag_us
    FROM p ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
),
r AS (
    SELECT strftime(pts::DATE, '%Y-%m-%d') AS day, lag_us,
           row_number() OVER (PARTITION BY pts::DATE
                              ORDER BY lag_us) AS rn,
           count(*) OVER (PARTITION BY pts::DATE) AS n
    FROM att
)
SELECT day,
       max(n)::BIGINT AS n,
       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN lag_us END)::BIGINT
           AS p50,
       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN lag_us END)::BIGINT
           AS p90,
       max(CASE WHEN rn = (n * 95 + 99) // 100 THEN lag_us END)::BIGINT
           AS p95
FROM r GROUP BY day
"""


def _q_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: ALL clicks within 30 minutes before
    each purchase (streaming/joins.interval_attribution run in batch
    mode — the same function is the stream-stream interval join, so
    this oracle anchors the streaming semantics). Contrast with
    asof_attribution, which keeps only the LATEST click."""
    from servico_ocr_spark.streaming.joins import interval_attribution

    return interval_attribution(_read(spark, sf_dir, "events"))


_O_ATTRIBUTION_WINDOW = """
WITH p AS (
    SELECT user_id, ts, event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts, event_id AS click_id
    FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id::BIGINT AS purchase_id,
       p.user_id::BIGINT AS user_id,
       c.click_id::BIGINT AS click_id,
       (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS lag_us
FROM p JOIN c ON p.user_id = c.user_id
  AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
"""


def _q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog register sketch of distinct users per event
    type (operators/stats.hll_register_sketch), PLUS the merged 'ALL'
    sketch computed by elementwise max over the per-type register
    tables — the query itself exercises the sketch's defining merge
    property (rolling per-group state up to the global sketch without
    re-touching the data). Every bit derives from the portable h48, so
    the register table hash-matches DuckDB exactly — unlike engine HLL
    built-ins whose state is implementation-defined. Plan: projection →
    ONE combinable max/count agg (≤ types·64 rows), then a 64-row
    rollup."""
    from servico_ocr_spark.operators import hll_register_sketch

    per = hll_register_sketch(
        _read(spark, sf_dir, "events").select(
            F.col("event_type").alias("key"), "user_id"
        ),
        value_col="user_id",
        group_col="key",
        p=6,
    ).withColumnRenamed("group", "key")
    merged = per.groupBy("bucket").agg(
        F.max("register").cast("long").alias("register"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    ).select(F.lit("ALL").alias("key"), "bucket", "register", "n_rows")
    return per.unionByName(merged)


_O_DISTINCT_SKETCH = f"""
WITH h AS (
    SELECT event_type AS key,
           {_d_h48("user_id::VARCHAR")} AS hv
    FROM events
),
r AS (
    SELECT key,
           (hv // {1 << 42})::BIGINT AS bucket,
           CASE WHEN hv % {1 << 42} > 0
                THEN 42 - (length(bin(hv % {1 << 42})) - 1)
                ELSE 43 END AS rho
    FROM h
),
per AS (
    SELECT key, bucket, max(rho)::BIGINT AS register,
           count(*)::BIGINT AS n_rows
    FROM r GROUP BY key, bucket
),
allr AS (
    SELECT 'ALL' AS key, bucket, max(register)::BIGINT AS register,
           sum(n_rows)::BIGINT AS n_rows
    FROM per GROUP BY bucket
)
SELECT * FROM per UNION ALL SELECT * FROM allr
"""


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation over the corpus word
    stream (operators/stats.cms_sketch + cms_estimate): a 4×16 sketch —
    deliberately narrower than the vocabulary, so hash collisions bind
    and the one-sided overestimate branch is live at every sf — probed
    for every distinct word against its exact count. The sketch is the
    fixed-size mergeable frequency state that replaces a vocabulary-
    sized exact table at 10^12 tokens; every cell derives from the
    portable h48, so the estimates hash-match DuckDB bit-for-bit.
    Plan: one token scan feeds BOTH the ×4 bounded fan-out into ONE
    combinable 64-row sum agg and the exact word agg; the probe
    broadcasts the 64-row sketch — the original data is never
    re-shuffled."""
    from servico_ocr_spark.operators import cms_estimate, cms_sketch
    from servico_ocr_spark.operators.common import words_array

    toks = _read(spark, sf_dir, "documents").select(
        F.explode(words_array(F.col("text"))).alias("word")
    )
    sk = cms_sketch(toks, "word", depth=4, width=16)
    exact = toks.groupBy("word").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    est = cms_estimate(sk, exact, "word", depth=4, width=16)
    return exact.join(est, exact["word"] == est["value"]).select(
        "word",
        "n_exact",
        F.col("est").cast("long").alias("n_est"),
        (F.col("est") - F.col("n_exact")).cast("long").alias("overcount"),
    )


def _o_cms_heavy_hitters() -> str:
    cell_tok = _d_h48("('cms' || d.d::VARCHAR || ':' || word)") + " % 16"
    cell_probe = _d_h48("('cms' || d.d::VARCHAR || ':' || e.word)") + " % 16"
    return f"""
WITH w AS ({_d_words_cte()}),
tok AS (SELECT unnest(words) AS word FROM w),
dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
    SELECT d.d, {cell_tok} AS col, count(*)::BIGINT AS cms
    FROM tok CROSS JOIN dd d
    GROUP BY 1, 2
),
exact AS (
    SELECT word, count(*)::BIGINT AS n_exact FROM tok GROUP BY word
)
SELECT e.word AS word, e.n_exact AS n_exact,
       min(coalesce(c.cms, 0))::BIGINT AS n_est,
       (min(coalesce(c.cms, 0)) - e.n_exact)::BIGINT AS overcount
FROM exact e
CROSS JOIN dd d
LEFT JOIN cells c ON c.d = d.d AND c.col = {cell_probe}
GROUP BY e.word, e.n_exact
"""


def _q_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p99 winsorization telemetry
    (operators/stats.winsorize_summary): event values in deterministic
    cents, clipped at the exact discrete 99th percentile (rank
    arithmetic, no interpolation), reporting the mass the clip moved —
    the outlier-robust cleaning step before any money/latency mean.
    One window sort computes rank, count AND the cap; one combinable
    agg after."""
    from servico_ocr_spark.operators import winsorize_summary

    ev = _read(spark, sf_dir, "events").select(
        "event_type", _cents(F.col("value")).alias("cents")
    )
    return winsorize_summary(
        ev, group_col="event_type", value_col="cents", q=99
    ).withColumnRenamed("group", "event_type")


_O_VALUE_WINSORIZE = """
WITH v AS (
    SELECT event_type AS grp,
           floor(value * 100 + 0.5)::BIGINT AS value
    FROM events
),
r AS (
    SELECT grp, value,
           row_number() OVER (PARTITION BY grp ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM v
),
c AS (
    SELECT grp, value, n,
           max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END)
               OVER (PARTITION BY grp) AS cap
    FROM r
)
SELECT grp AS event_type,
       max(n)::BIGINT AS n,
       max(cap)::BIGINT AS cap,
       sum(value)::BIGINT AS sum_raw,
       sum(least(value, cap))::BIGINT AS sum_win,
       sum(CASE WHEN value > cap THEN 1 ELSE 0 END)::BIGINT AS n_clipped
FROM c GROUP BY grp
"""


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles by rank arithmetic
    (operators/stats.exact_group_quantiles): discrete value at
    ceil(q*n/100), integer end-to-end — no percentile interpolation,
    so Spark and DuckDB agree bit-for-bit."""
    from servico_ocr_spark.operators import exact_group_quantiles

    return exact_group_quantiles(
        _read(spark, sf_dir, "documents"),
        group_col="lang",
        value_col="n_chars",
        qs=(25, 50, 75, 95),
    ).withColumnRenamed("group", "lang")


def _q_approx_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state quantile sketch (operators/stats.
    log_histogram_quantiles): HdrHistogram-style log buckets (k=8 per
    octave), est = bucket lower bound at rank ceil(q·n/100) —
    guaranteed ≤ ~12.5% relative error, O(buckets) group state instead
    of exact rank's full sort. The float log2 is integer-self-corrected
    so both engines agree bit-for-bit."""
    from servico_ocr_spark.operators import log_histogram_quantiles

    return log_histogram_quantiles(
        _read(spark, sf_dir, "documents"),
        group_col="source",
        value_col="n_chars",
        qs=(50, 90, 99),
        k=8,
    ).withColumnRenamed("group", "source")


_O_APPROX_LENGTH_QUANTILES = """
WITH base AS (
    SELECT source AS grp, greatest(n_chars, 1)::BIGINT AS v FROM documents
),
e0x AS (SELECT grp, v, floor(log2(v))::BIGINT AS e0 FROM base),
ec AS (
    SELECT grp, v,
           CASE WHEN v < (1::BIGINT << e0::INT) THEN e0 - 1
                WHEN v >= 2 * (1::BIGINT << e0::INT) THEN e0 + 1
                ELSE e0 END AS e
    FROM e0x
),
bk AS (
    SELECT grp,
           (e * 8 + ((v - (1::BIGINT << e::INT)) * 8)
               // (1::BIGINT << e::INT)) AS bucket
    FROM ec
),
c AS (SELECT grp, bucket, count(*)::BIGINT AS cnt FROM bk GROUP BY 1, 2),
cm AS (
    SELECT grp, bucket,
           sum(cnt) OVER (PARTITION BY grp ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY grp) AS n
    FROM c
),
x AS (
    SELECT grp, bucket, cum, n, q_pct
    FROM cm CROSS JOIN (SELECT unnest([50, 90, 99]) AS q_pct)
    WHERE cum >= (n * q_pct + 99) // 100
),
s AS (
    SELECT grp, q_pct, max(n) AS n, min(bucket) AS bucket
    FROM x GROUP BY 1, 2
)
SELECT grp AS source, q_pct::BIGINT AS q_pct, n::BIGINT AS n,
       ((1::BIGINT << (bucket // 8)::INT)
        + ((bucket % 8) * (1::BIGINT << (bucket // 8)::INT) + 7) // 8
       )::BIGINT AS est
FROM s
"""


_O_LENGTH_QUANTILES = """
WITH r AS (
    SELECT lang AS grp, n_chars AS value,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
)
SELECT grp AS lang,
       max(n)::BIGINT AS n,
       max(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END)::BIGINT AS p25,
       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END)::BIGINT AS p50,
       max(CASE WHEN rn = (n * 75 + 99) // 100 THEN value END)::BIGINT AS p75,
       max(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END)::BIGINT AS p95
FROM r GROUP BY grp
"""


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def _q_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT archetype: the source × language character-mass matrix —
    one row per source, one column per language (the corpus-mix report
    every multilingual curation pipeline prints). Spark's
    ``pivot(values=...)`` with explicit values keeps the plan a single
    map-side-combinable aggregation (no distinct-value pre-scan, fixed
    output schema); the DuckDB twin is the equivalent conditional-sum
    spread. Unknown languages are deliberately absent from the matrix
    (explicit-values contract) — add a column, not a scan, to widen."""
    docs = _read(spark, sf_dir, "documents")
    agg = (
        docs.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)
        .agg(F.sum("n_chars"))
    )
    return agg.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0))
            .cast("long")
            .alias(f"chars_{lang}")
            for lang in _PIVOT_LANGS
        ],
    )


_O_LANG_MATRIX = "SELECT source, " + ", ".join(
    f"coalesce(sum(CASE WHEN lang = '{lang}' THEN n_chars END), 0)::BIGINT"
    f" AS chars_{lang}"
    for lang in _PIVOT_LANGS
) + " FROM documents GROUP BY source"


def _q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage (SURVEY §2.4 notes the reference has none —
    this is engine surface beyond it): per-(source, lang) corpus counts
    with ROLLUP subtotals, subtotal rows labeled via grouping()."""
    docs = _read(spark, sf_dir, "documents")
    # grouping() is only valid among the aggregate expressions
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars_sum"),
            F.grouping("source").alias("g_src"),
            F.grouping("lang").alias("g_lang"),
        )
        .select(
            F.when(F.col("g_src") == 1, F.lit("(all)"))
            .otherwise(F.col("source")).alias("source"),
            F.when(F.col("g_lang") == 1, F.lit("(all)"))
            .otherwise(F.col("lang")).alias("lang"),
            "n_docs", "chars_sum",
        )
    )


_O_SOURCE_ROLLUP = """
SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
       CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS chars_sum
FROM documents
GROUP BY ROLLUP (source, lang)
"""


def _q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window rollup (streaming twin:
    streaming.windowed.windowed_event_counts over readStream)."""
    from servico_ocr_spark.streaming.windowed import windowed_event_counts

    return windowed_event_counts(_read(spark, sf_dir, "events"))


_O_WINDOWED_EVENTS = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n_events,
       sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS value_cents
FROM events
GROUP BY 1, 2
"""


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/X-JSON coverage: extract the k field from the props JSON string,
    aggregate per event_type. value_cents avoids float-sum hashing."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("k_sum"),
            F.max(k).alias("k_max"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
    )


_O_EVENTS_JSON = """
SELECT event_type,
       count(*) AS n_events,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS value_cents
FROM events
GROUP BY event_type
"""


# ===========================================================================
# A1/F1/W3 mirror — order-sensitive box assembly over a deterministic
# token stream derived from documents.text
# ===========================================================================

def _q_token_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    conf = (
        h48(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                     F.col("pos").cast("string")))
        % 101
    )
    kept = tokens.where(conf >= 30).withColumn(
        "block", F.floor(F.col("pos") / 40).cast("int")
    )
    grouped = kept.groupBy("doc_id", "block").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("texto"),
        F.count("*").alias("n_tokens"),
    )
    w = Window.partitionBy("doc_id").orderBy("block")
    return grouped.withColumn(
        "box", (F.row_number().over(w) - 1).cast("int")
    )


def _o_token_boxes() -> str:
    conf = _d_h48("(doc_id::VARCHAR || ':' || pos::VARCHAR)")
    return f"""
WITH t AS (
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
),
kept AS (
    SELECT doc_id, pos, word, (pos // 40)::INT AS block
    FROM t WHERE word <> '' AND ({conf} % 101) >= 30
),
g AS (
    SELECT doc_id, block,
           string_agg(word, ' ' ORDER BY pos) AS texto,
           count(*) AS n_tokens
    FROM kept GROUP BY doc_id, block
)
SELECT doc_id, block, texto, n_tokens,
       (row_number() OVER (PARTITION BY doc_id ORDER BY block) - 1)::INT AS box
FROM g
"""


# ===========================================================================
# J2/SO1 mirror — repetition pairs by geometry-ish closeness + word-set
# symmetric difference
# ===========================================================================

def _q_repeat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/SO1 at corpus scale. The join key is (source, size band), not
    source alone: a qualifying pair has min(n_chars) ≥ 0.9·max(n_chars),
    so with log-bands of width ln(1/0.9) any such pair lands in the same
    or an adjacent band — the left side probes band−1..band+1 and the
    per-source O(n²) pair space shrinks to same-size-band candidates.
    Banding only prunes candidates; the exact closeness and symdiff
    filters below decide membership, so results are oracle-identical."""
    import math

    docs = _read(spark, sf_dir, "documents")
    band_w = math.log(1.0 / 0.9)
    band = F.floor(F.log(F.col("n_chars").cast("double")) / F.lit(band_w))
    meta = docs.select(
        "doc_id", "source", "n_chars", band.cast("int").alias("band")
    )
    probes = meta.withColumn(
        "probe", F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
    )
    a, b = probes.alias("a"), meta.alias("b")
    close = (
        100 * F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
        / F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
    ) <= 10
    cand = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.probe") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(close)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    # symdiff = na + nb − 2·inter via word equi-joins — array_except over
    # the candidate pairs runs interpreted per element and was ~10× the
    # cost of everything else; the equi-join shape stays in codegen. Left
    # join: zero-overlap pairs still qualify when na + nb ≤ threshold.
    # sizes is computed per row (NOT via the exploded table): a doc whose
    # text normalizes to zero tokens emits no exploded rows, and an
    # explode-derived inner join would silently drop its candidate pairs
    # while the oracle keeps them.
    wx = docs.select(
        "doc_id", F.explode(F.array_distinct(words_array(F.col("text")))).alias("w")
    )
    sizes = docs.select(
        "doc_id",
        F.size(F.array_distinct(words_array(F.col("text")))).cast("long").alias("nw"),
    )
    inter = (
        cand.join(wx.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(wx.withColumnRenamed("doc_id", "id_b"), ["id_b", "w"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    symdiff = (
        F.col("na") + F.col("nb") - 2 * F.coalesce(F.col("inter"), F.lit(0))
    ).cast("int")
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a")
              .withColumnRenamed("nw", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("nw", "nb"), "id_b")
        .select("id_a", "id_b", symdiff.alias("symdiff"))
        .where(F.col("symdiff") <= 60)
    )


def _o_repeat_pairs() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    return f"""
WITH ws AS (
    SELECT doc_id, source, n_chars,
           list_distinct({words}) AS ws
    FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (len(list_filter(a.ws, x -> NOT list_contains(b.ws, x)))
        + len(list_filter(b.ws, x -> NOT list_contains(a.ws, x))))::INT
           AS symdiff
FROM ws a JOIN ws b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE 100 * abs(a.n_chars - b.n_chars)
          / greatest(a.n_chars, b.n_chars) <= 10
  AND (len(list_filter(a.ws, x -> NOT list_contains(b.ws, x)))
       + len(list_filter(b.ws, x -> NOT list_contains(a.ws, x)))) <= 60
"""


# ===========================================================================
# Multimodal plumbing (binary payload → feature vectors; rows-only check)
# ===========================================================================

def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media_table(_read(spark, sf_dir, "documents"))
    return extract_media_features(media).select(
        "media_id", "media_type", "n_bytes", F.size("feature").alias("dim")
    )


def _q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-stride sampling (operators/multimodal.
    sample_frames): one-row-in / ≤4-frames-out fan-out (an array column
    from ``boundary.map_documents``, ``inline`` in the JVM) over the
    video third of the synthetic media table; decode stubbed
    deterministically (frame count from payload length, frame digest
    from payload‖idx) so the SQL oracle replays it exactly while the
    Spark side runs the real Arrow plumbing."""
    from servico_ocr_spark.operators import sample_frames, synth_media_table

    media = synth_media_table(_read(spark, sf_dir, "documents"))
    return sample_frames(media, target_frames=4)


def _o_frame_samples() -> str:
    h = _d_h48("(text || ':f' || frame_idx::VARCHAR)")
    return f"""
WITH v AS (
    SELECT 'm-' || doc_id::VARCHAR AS media_id, text,
           (octet_length(encode(text)) % 50 + 10)::BIGINT AS n_frames
    FROM documents WHERE doc_id % 3 = 2
),
f AS (
    SELECT media_id, text, n_frames,
           unnest(range(0, n_frames,
                        (n_frames + 3) // 4))::BIGINT AS frame_idx
    FROM v
)
SELECT media_id, n_frames, frame_idx, {h} AS fr_h48
FROM f
"""


_O_MEDIA_FEATURES = """
SELECT 'm-' || doc_id::VARCHAR AS media_id,
       CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       8 AS dim
FROM documents
"""


# ===========================================================================
# URL canonicalization / url-dedup / domain stats (operators/urls)
# ===========================================================================
#
# Fixture: a deterministic crawl-shaped url per doc, derived from doc_id
# arithmetic only (same technique as _chain_corpus/_zipf_corpus). Every
# canonical-identity-relevant piece (scheme, site, kept port, path, kept
# params) derives from d2 = doc_id div 2, every NOISE piece (host case,
# default ports, tracking params, param order, fragments) from doc_id —
# so each {2k, 2k+1} pair is url-identity-duplicate by construction and
# the canonicalizer must strip exactly the noise to find it. The DuckDB
# twin re-implements BOTH the fixture arithmetic and the
# canonicalization spec independently in SQL.

_URL_SITES = 23
_URL_SCHEME = "CASE WHEN d2 % 3 = 0 THEN 'https' ELSE 'http' END"


def _url_corpus(
    spark: SparkSession, sf_dir: str, with_text: bool = False
) -> DataFrame:
    cols = ["doc_id", "text"] if with_text else ["doc_id"]
    docs = _read(spark, sf_dir, "documents").select(*cols)
    return (
        docs.withColumn("d2", F.expr("doc_id div 2"))
        .withColumn(
            "site",
            F.expr(
                "cast(conv(substr(md5(concat(cast(d2 as string), 'u')), "
                f"1, 12), 16, 10) as bigint) % {_URL_SITES}"
            ),
        )
        .withColumn("scheme", F.expr(_URL_SCHEME))
        .withColumn(
            "host_c",
            F.expr(
                "concat(CASE WHEN d2 % 4 = 0 THEN 'www.' ELSE '' END, "
                "'site', cast(site as string), '.', "
                "CASE site % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' "
                "ELSE 'net' END)"
            ),
        )
        .withColumn(
            "port",
            F.expr(
                "CASE WHEN d2 % 11 = 0 THEN ':8080' "
                "WHEN doc_id % 6 = 0 THEN "
                "(CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END) "
                "ELSE '' END"
            ),
        )
        .withColumn(
            "path",
            F.expr(
                "CASE WHEN d2 % 19 = 0 THEN '' ELSE "
                "concat('/a/', cast(d2 % 97 as string), "
                "CASE WHEN d2 % 7 = 0 THEN '/Mixed' ELSE '' END) END"
            ),
        )
        .withColumn(
            "qstr",
            F.expr(
                "CASE WHEN doc_id % 2 = 0 THEN concat_ws('&', "
                "concat('id=', cast(d2 % 13 as string)), "
                "CASE WHEN d2 % 5 = 0 THEN 'q=x' END, "
                "CASE WHEN doc_id % 3 = 0 THEN "
                "concat('utm_source=s', cast(doc_id % 4 as string)) END, "
                "CASE WHEN doc_id % 7 = 0 THEN "
                "concat('fbclid=F', cast(doc_id % 9 as string)) END) "
                "ELSE concat_ws('&', "
                "CASE WHEN doc_id % 3 = 0 THEN "
                "concat('utm_source=s', cast(doc_id % 4 as string)) END, "
                "CASE WHEN doc_id % 7 = 0 THEN "
                "concat('fbclid=F', cast(doc_id % 9 as string)) END, "
                "CASE WHEN d2 % 5 = 0 THEN 'q=x' END, "
                "concat('id=', cast(d2 % 13 as string))) END"
            ),
        )
        .withColumn(
            "url",
            F.expr(
                "CASE WHEN doc_id % 101 = 100 THEN "
                "concat('urn:doc:', cast(doc_id as string)) ELSE concat("
                "scheme, '://', "
                "CASE WHEN doc_id % 5 = 0 THEN upper(host_c) ELSE host_c END, "
                "port, path, "
                "CASE WHEN qstr = '' THEN '' ELSE concat('?', qstr) END, "
                "CASE WHEN doc_id % 2 = 1 THEN "
                "concat('#sec', cast(doc_id % 3 as string)) ELSE '' END) END"
            ),
        )
        # deterministic crawl timestamp (input_hint's warc_ts column):
        # url-identity families {2k, 2k+1} usually differ in hour
        # (doc_id % 23) so latest_crawl picks a real max; every 4th
        # family has a FIXED hour so the doc_id tiebreak is exercised
        .withColumn(
            "warc_ts",
            F.expr(
                "timestamp'2024-03-01 00:00:00' + make_interval(0, 0, 0, 0, "
                "cast((d2 % 28) * 24 + (CASE WHEN d2 % 4 = 0 THEN 7 "
                "ELSE doc_id % 23 END) as int), 0, 0)"
            ),
        )
        .select("doc_id", "url", "warc_ts", *(["text"] if with_text else []))
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import canonicalize_urls

    return canonicalize_urls(_url_corpus(spark, sf_dir)).select(
        "doc_id", "canonical_url", "host", "registered_domain"
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import url_dedup

    return url_dedup(_url_corpus(spark, sf_dir))


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import domain_stats

    return domain_stats(_url_corpus(spark, sf_dir))


def _q_url_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host path-prefix subtree rollup
    (operators/urls.path_prefix_rollup): page and distinct-url mass for
    every directory prefix up to depth 2 — the crawl-analytics "which
    site sections carry the corpus" view. The fixture's /a/<n>/Mixed
    paths (~14% of urls) are DEEPER than the cap, so the fold-into-
    ancestor branch binds at every sf; root-only (d2 % 19 = 0) and
    urn: pathless ids exercise the no-segment exclusion. Plan: pure
    projection → bounded ×2 fan-out (explode after the size ≥ 1
    filter) → ONE combinable agg keyed by prefix text."""
    from servico_ocr_spark.operators import (
        canonicalize_urls,
        path_prefix_rollup,
    )

    return path_prefix_rollup(
        canonicalize_urls(_url_corpus(spark, sf_dir)), max_depth=2
    )


def _o_url_tree() -> str:
    return f"""
WITH {_o_url_canon_cte()},
pp AS (
    SELECT host, canonical_url,
           list_filter(string_split(
               regexp_extract(canonical_url,
                              '^[a-z]+://[^/]+(/[^?]*)', 1), '/'),
               x -> x <> '') AS segs
    FROM canon
),
e AS (
    SELECT host, canonical_url, t.k AS depth,
           '/' || array_to_string(list_slice(segs, 1, t.k), '/') AS prefix
    FROM pp CROSS JOIN
         unnest(generate_series(1, least(len(segs), 2))) AS t(k)
    WHERE len(segs) >= 1
)
SELECT host, prefix, depth::BIGINT AS depth,
       count(*)::BIGINT AS n_pages,
       count(DISTINCT canonical_url)::BIGINT AS n_urls
FROM e GROUP BY host, prefix, depth
"""


def _q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact largest-remainder (Hamilton) apportionment of a crawl
    budget over hosts (operators/urls.apportion_budget): budget =
    total pages div 3, derived from the data in integer arithmetic so
    the floors AND the remainder-ranked extra slots both bind at every
    sf (a budget divisible by the host masses would kill the remainder
    branch). Σ quota = budget exactly — the property float shares
    cannot give. The budget scalar is an eager 1-row count at plan
    construction (the embedding_neardups precedent, documented there);
    hostless urn: ids are excluded. Plan: ONE host agg (bounded by
    host cardinality) + two 1-row broadcasts + one window over host
    rows."""
    from servico_ocr_spark.operators import (
        apportion_budget,
        canonicalize_urls,
    )

    c = canonicalize_urls(_url_corpus(spark, sf_dir)).where(
        F.col("host") != ""
    )
    masses = c.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages")
    )
    budget = c.count() // 3
    return apportion_budget(
        masses, budget, group_col="host", mass_col="n_pages"
    ).select(
        F.col("group").alias("host"),
        F.col("mass").alias("n_pages"),
        "floor_q",
        "quota",
    )


def _o_crawl_budget() -> str:
    return f"""
WITH {_o_url_canon_cte()},
m AS (
    SELECT host, count(*)::BIGINT AS mass
    FROM canon WHERE host <> '' GROUP BY host
),
tot AS (
    SELECT sum(mass)::BIGINT AS total,
           (sum(mass) // 3)::BIGINT AS b
    FROM m
),
q AS (
    SELECT host, mass,
           ((t.b * mass) // t.total)::BIGINT AS floor_q,
           ((t.b * mass) % t.total)::BIGINT AS rem,
           t.b AS b
    FROM m, tot t
),
s AS (SELECT sum(floor_q)::BIGINT AS spent FROM q),
r AS (
    SELECT host, mass, floor_q, b,
           row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
    FROM q
)
SELECT host, mass AS n_pages, floor_q,
       (floor_q + CASE WHEN rk <= b - s.spent THEN 1 ELSE 0 END)::BIGINT
           AS quota
FROM r, s
"""


def _q_host_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed per-host freshness mass
    (operators/urls.freshness_scores): each page contributes
    ``2^20 >> (age_days div 7)`` relative to the corpus max crawl date
    — an exact integer stepwise surrogate of 2^(-age/half_life), no
    exp, no floats. The fixture's warc_ts spans 28 days, so 4-5
    distinct weight levels bind at every sf. Plan: one 1-row max
    broadcast + ONE combinable host agg."""
    from servico_ocr_spark.operators import (
        canonicalize_urls,
        freshness_scores,
    )

    c = canonicalize_urls(_url_corpus(spark, sf_dir)).where(
        F.col("host") != ""
    )
    return freshness_scores(c, group_col="host", half_life_days=7).select(
        F.col("group").alias("host"),
        "n_pages",
        "freshest_age_days",
        "score",
    )


def _o_host_freshness() -> str:
    return f"""
WITH {_o_url_canon_cte()},
j AS (
    SELECT host,
           TIMESTAMP '2024-03-01 00:00:00' + to_hours(CAST(
               ((doc_id // 2) % 28) * 24 +
               (CASE WHEN (doc_id // 2) % 4 = 0 THEN 7
                     ELSE doc_id % 23 END) AS BIGINT)) AS warc_ts
    FROM canon WHERE host <> ''
),
nowt AS (SELECT max(warc_ts::DATE) AS nw FROM j),
aged AS (
    SELECT host,
           date_diff('day', warc_ts::DATE, n.nw)::BIGINT AS age
    FROM j, nowt n
)
SELECT host, count(*)::BIGINT AS n_pages,
       min(age)::BIGINT AS freshest_age_days,
       sum((1::BIGINT << 20) >> least(age // 7, 62)::INT)::BIGINT AS score
FROM aged GROUP BY host
"""


def _q_bloom_crawl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter "have we crawled this" gate
    (operators/stats.bloom_bits + bloom_probe), completing the
    portable-sketch trio (HLL distinct / CMS frequency / Bloom
    membership): the frontier's new urls are probed against a filter
    built from the history side of the crawl_delta carve (old =
    doc_id % 3 ≠ 0, new = ≡ 0). ``m`` is the power of two ≥ 4·|old|
    (derived from an eager count — the embedding_neardups precedent —
    and re-derived by the oracle in SQL bit arithmetic), a fill ratio
    that keeps FALSE POSITIVES live at every sf (measured 1/1/3)
    while the no-false-negative guarantee holds by construction
    (every present url flags; hash-checked). Plan: one distinct per
    side, ≤ m-row bit table broadcast into the probe, exact
    membership via one left join for the telemetry columns."""
    from servico_ocr_spark.operators import (
        bloom_bits,
        bloom_probe,
        canonicalize_urls,
    )

    c = canonicalize_urls(_url_corpus(spark, sf_dir)).select(
        "doc_id", "canonical_url"
    )
    old = c.where(F.col("doc_id") % 3 != 0).select(
        "canonical_url"
    ).distinct()
    new = c.where(F.col("doc_id") % 3 == 0).select(
        "canonical_url"
    ).distinct()
    n_old = old.count()
    m = 1 << (4 * n_old - 1).bit_length()
    bits = bloom_bits(old, "canonical_url", k=2, m=m)
    fl = bloom_probe(bits, new, "canonical_url", k=2, m=m)
    present = new.join(
        old.select(F.col("canonical_url").alias("_o")),
        new["canonical_url"] == F.col("_o"),
        "left",
    ).select(
        "canonical_url",
        F.when(F.col("_o").isNull(), 0).otherwise(1)
        .cast("long")
        .alias("present"),
    )
    return present.join(
        fl, present["canonical_url"] == fl["value"]
    ).select("canonical_url", "flagged", "present")


def _o_bloom_crawl_filter() -> str:
    hb = "(('0x' || substr(md5('bloom' || d.d::VARCHAR || ':' || v), 1, 12))::BIGINT)"
    return f"""
WITH {_o_url_canon_cte()},
old AS (SELECT DISTINCT canonical_url AS v FROM canon
        WHERE doc_id % 3 <> 0),
new AS (SELECT DISTINCT canonical_url AS v FROM canon
        WHERE doc_id % 3 = 0),
nn AS (SELECT count(*)::BIGINT AS n FROM old),
mm AS (SELECT (1::BIGINT << length(bin(4 * n - 1))) AS m FROM nn),
bits AS (
    SELECT DISTINCT {hb} % m.m AS bit
    FROM old CROSS JOIN (SELECT unnest([0, 1]) AS d) d CROSS JOIN mm m
),
probe AS (
    SELECT v, d.d, {hb} % m.m AS bit
    FROM new CROSS JOIN (SELECT unnest([0, 1]) AS d) d CROSS JOIN mm m
),
fl AS (
    SELECT p.v, CASE WHEN count(b.bit) = 2 THEN 1 ELSE 0 END AS flagged
    FROM probe p LEFT JOIN bits b ON p.bit = b.bit
    GROUP BY p.v
),
ex AS (
    SELECT n2.v, CASE WHEN o.v IS NULL THEN 0 ELSE 1 END AS present
    FROM new n2 LEFT JOIN old o ON n2.v = o.v
)
SELECT f.v AS canonical_url, f.flagged::BIGINT AS flagged,
       e.present::BIGINT AS present
FROM fl f JOIN ex e ON f.v = e.v
"""


def _q_latest_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import latest_crawl

    return latest_crawl(_url_corpus(spark, sf_dir)).select(
        "canonical_url",
        "keep_id",
        F.date_format("last_crawl_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "last_crawl"
        ),
        "n_crawls",
    )


def _q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two snapshots carved from the url corpus by doc_id residue:
    old = id % 3 != 0, new = id % 3 != 1 (so ids ≡ 0 mod 3 are crawl
    additions, ids ≡ 1 mod 3 removals, ids ≡ 2 both-side); content
    drifts on id % 5 == 0 rows in the new crawl, exercising 'changed'.
    All four statuses occur at every sf."""
    from servico_ocr_spark.operators import crawl_delta

    base = _url_corpus(spark, sf_dir, with_text=True)
    old = base.where("doc_id % 3 != 0").select(
        "doc_id", "url", F.col("text").alias("content")
    )
    new = base.where("doc_id % 3 != 1").select(
        "doc_id",
        "url",
        F.expr(
            "concat(text, CASE WHEN doc_id % 5 = 0 THEN ' rev' ELSE '' END)"
        ).alias("content"),
    )
    return crawl_delta(old, new)


def _q_crawl_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 recrawl history (operators/urls.scd2_intervals): gaps-and-
    islands collapse of consecutive same-content snapshots into
    validity intervals with valid_to = next change (open intervals get
    the '9999-12-31' sentinel string). Fixture: 5 snapshots per url on
    consecutive days, content version steps at slots 2 and 4 (islands
    [0,1],[2,3],[4]), so every url carries exactly 3 intervals — and
    both the multi-snap collapse and the open-interval branch are live
    at every sf. Content is reported as its h48 (the lineage digest a
    production history table would store)."""
    from servico_ocr_spark.operators import scd2_intervals

    snaps = _read(spark, sf_dir, "documents").select(
        F.expr("concat('https://hist.test/', cast(doc_id div 5 as string))")
        .alias("url"),
        F.expr(
            "timestampadd(DAY, cast(doc_id % 5 as int), "
            "timestamp'2024-03-01 06:00:00')"
        ).alias("ts"),
        F.expr(
            "concat(cast(doc_id div 5 as string), ':v', "
            "CASE WHEN doc_id % 5 < 2 THEN '0' "
            "WHEN doc_id % 5 < 4 THEN '1' ELSE '2' END)"
        ).alias("content"),
    )
    out = scd2_intervals(snaps)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        "url",
        h48(F.col("content")).alias("content_h48"),
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", fmt), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        "n_snaps",
    )


_O_CRAWL_HISTORY = f"""
WITH snaps AS (
    SELECT 'https://hist.test/' || (doc_id // 5)::VARCHAR AS url,
           TIMESTAMP '2024-03-01 06:00:00'
               + (doc_id % 5) * INTERVAL 1 DAY AS ts,
           (doc_id // 5)::VARCHAR || ':v' ||
               (CASE WHEN doc_id % 5 < 2 THEN '0'
                     WHEN doc_id % 5 < 4 THEN '1' ELSE '2' END)
               AS content
    FROM documents
),
m AS (
    SELECT url, ts, content,
           CASE WHEN lag(content) OVER (PARTITION BY url ORDER BY ts)
                     IS DISTINCT FROM content THEN 1 ELSE 0 END AS chg
    FROM snaps
),
isl AS (
    SELECT url, ts, content,
           sum(chg) OVER (PARTITION BY url ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS isl
    FROM m
),
grp AS (
    SELECT url, isl, min(content) AS content,
           min(ts) AS valid_from, count(*)::BIGINT AS n_snaps
    FROM isl GROUP BY url, isl
)
SELECT url,
       {_d_h48("content")} AS content_h48,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(
           strftime(lead(valid_from) OVER (PARTITION BY url ORDER BY isl),
                    '%Y-%m-%d %H:%M:%S'),
           '9999-12-31 00:00:00') AS valid_to,
       n_snaps
FROM grp
"""


_DICT_BUCKETS = 16


def _q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-prioritization signal — quality × url faces composed: per
    registered domain, the Gopher keep rate (×10^4 integer) and token
    mass. This is the table a recrawl scheduler ranks by ("spend
    budget where the quality filter keeps things"). One projection
    join on doc_id + ONE combinable agg over domain groups."""
    from servico_ocr_spark.operators import canonicalize_urls, gopher_filter

    hosts = canonicalize_urls(_url_corpus(spark, sf_dir)).select(
        "doc_id", "registered_domain"
    )
    # the SAME injected corpus + thresholds the gopher_filter driver
    # query grades (keeps the keep-rate semantics identical)
    gdocs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_GOPHER_INJECT).alias("text")
    )
    gf = gopher_filter(gdocs, **_GOPHER_THRESHOLDS).select(
        "doc_id", "keep", "n_words"
    )
    return (
        hosts.join(gf, "doc_id")
        .groupBy("registered_domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.expr("(sum(keep) * 10000) div count(*)")
            .cast("long")
            .alias("keep_pp"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
    )


def _o_host_reputation() -> str:
    return f"""
WITH {_o_url_canon_cte()},
gf AS ({_o_gopher_filter()})
SELECT c.registered_domain,
       count(*)::BIGINT AS n_docs,
       sum(gf.keep)::BIGINT AS n_kept,
       ((sum(gf.keep) * 10000) // count(*))::BIGINT AS keep_pp,
       sum(gf.n_words)::BIGINT AS n_words
FROM canon c JOIN gf USING (doc_id)
GROUP BY 1
"""


def _q_url_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-id dictionary over the distinct canonical urls — the
    portable two-stage zipWithIndex (bucket rank + cumulative offsets),
    never a digest id and never a global sort."""
    from servico_ocr_spark.operators import (
        canonicalize_urls,
        dictionary_encode,
    )

    c = canonicalize_urls(_url_corpus(spark, sf_dir)).select(
        "canonical_url"
    )
    return dictionary_encode(
        c, value_col="canonical_url", buckets=_DICT_BUCKETS
    )


def _o_url_dictionary() -> str:
    h = _d_h48("value")
    return f"""
WITH {_o_url_canon_cte()},
vals AS (SELECT DISTINCT canonical_url AS value FROM canon),
b AS (SELECT value, {h} % {_DICT_BUCKETS} AS _b FROM vals),
r AS (
    SELECT value, _b,
           row_number() OVER (PARTITION BY _b ORDER BY value) AS rn
    FROM b
),
c AS (SELECT _b, count(*) AS c FROM b GROUP BY _b),
o AS (
    SELECT _b,
           coalesce(sum(c) OVER (ORDER BY _b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
    FROM c
)
SELECT r.value, (o.off + r.rn - 1)::BIGINT AS id
FROM r JOIN o USING (_b)
"""


#: Resize demonstrated by the driver query: 8 → 9 shards. Small counts
#: keep the greatest-chain width (and the oracle SQL) readable; the
#: minimal-churn property is count-independent.
_RV_OLD, _RV_NEW = 8, 9


def _q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HRW (rendezvous) placement resize matrix
    (operators/encode.shard_churn): every doc_id scored against 8 and
    9 shards by codegen'd md5 argmax; off-diagonal mass lands ONLY on
    the added shard (minimal-churn guarantee, property-tested). One
    scan, one count agg, zero joins/explodes."""
    from servico_ocr_spark.operators import shard_churn

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key")
    )
    return shard_churn(docs, "key", _RV_OLD, _RV_NEW)


def _o_rv_shard(key_expr: str, n: int) -> str:
    from servico_ocr_spark.operators.encode import RENDEZVOUS_SEED

    terms = []
    for s in range(n):
        seeded = f"('{RENDEZVOUS_SEED}' || {key_expr} || '#{s}')"
        terms.append(f"({_d_h48(seeded)} * {n} + {s})")
    folded = terms[0] if n == 1 else f"greatest({', '.join(terms)})"
    return f"(({folded}) % {n})"


def _o_rendezvous_shards() -> str:
    return f"""
SELECT {_o_rv_shard("key", _RV_OLD)}::BIGINT AS shard_old,
       {_o_rv_shard("key", _RV_NEW)}::BIGINT AS shard_new,
       count(*)::BIGINT AS n_keys
FROM (SELECT doc_id::VARCHAR AS key FROM documents)
GROUP BY 1, 2
"""


_DOMAIN_CAP_K = 3


def _q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import domain_cap

    # salt_buckets=4 exercises the two-stage skew-bounded plan in the
    # graded path (equality with the one-stage plan is unit-tested)
    return domain_cap(
        _url_corpus(spark, sf_dir), k=_DOMAIN_CAP_K, salt_buckets=4
    ).select("doc_id", "registered_domain", "canonical_url")


# PII fixture: documents.text with deterministically injected emails /
# phones / IPv4 (the natural corpus has none). Same arithmetic in the
# DuckDB CTE below; doc_id % 9 == 0 rows get a SECOND email so the
# global-replace and count > 1 paths are exercised.
_PII_INJECT_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' Contact user',"
    "   cast(doc_id % 50 as string), '@mail',"
    "   cast(doc_id % 7 as string), '.com for details.') ELSE '' END,"
    " CASE WHEN doc_id % 9 = 0 THEN concat(' cc admin',"
    "   cast(doc_id % 5 as string), '@example.org') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 1 THEN concat(' tel +',"
    "   cast(doc_id % 90 + 10 as string), ' ',"
    "   lpad(cast(doc_id * 7 % 10000 as string), 4, '0'), '-',"
    "   lpad(cast(doc_id * 13 % 10000 as string), 4, '0'), '.')"
    "   ELSE '' END,"
    " CASE WHEN doc_id % 5 = 2 THEN concat(' from ',"
    "   cast(doc_id % 256 as string), '.',"
    "   cast(doc_id * 3 % 256 as string), '.',"
    "   cast(doc_id * 5 % 256 as string), '.',"
    "   cast(doc_id % 100 as string), ' via proxy') ELSE '' END)"
)

_PII_INJECT_DUCK = """
    text ||
    (CASE WHEN doc_id % 3 = 0 THEN ' Contact user' ||
        (doc_id % 50)::VARCHAR || '@mail' ||
        (doc_id % 7)::VARCHAR || '.com for details.' ELSE '' END) ||
    (CASE WHEN doc_id % 9 = 0 THEN ' cc admin' ||
        (doc_id % 5)::VARCHAR || '@example.org' ELSE '' END) ||
    (CASE WHEN doc_id % 4 = 1 THEN ' tel +' ||
        (doc_id % 90 + 10)::VARCHAR || ' ' ||
        lpad((doc_id * 7 % 10000)::VARCHAR, 4, '0') || '-' ||
        lpad((doc_id * 13 % 10000)::VARCHAR, 4, '0') || '.'
        ELSE '' END) ||
    (CASE WHEN doc_id % 5 = 2 THEN ' from ' ||
        (doc_id % 256)::VARCHAR || '.' ||
        (doc_id * 3 % 256)::VARCHAR || '.' ||
        (doc_id * 5 % 256)::VARCHAR || '.' ||
        (doc_id % 100)::VARCHAR || ' via proxy' ELSE '' END)
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import scrub_pii
    from servico_ocr_spark.operators.common import h48

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text", F.expr(_PII_INJECT_SPARK)
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ipv4",
        F.length("scrubbed_text").cast("long").alias("scrub_len"),
        h48(F.col("scrubbed_text")).alias("scrub_h48"),
    )


def _o_pii_scrub() -> str:
    from servico_ocr_spark.operators.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    # DuckDB single-quoted literals do no backslash processing, so the
    # Java-regex strings interpolate verbatim; the patterns are
    # restricted to the Java==RE2 common subset (operators/pii docstring)
    return f"""
WITH injected AS (
    SELECT doc_id, {_PII_INJECT_DUCK} AS text FROM documents
),
scrubbed AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}'))::BIGINT AS n_phones,
           len(regexp_extract_all(text, '{IPV4_RE}'))::BIGINT AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
               '{PHONE_RE}', '{PHONE_TOKEN}', 'g'),
               '{IPV4_RE}', '{IPV4_TOKEN}', 'g') AS s
    FROM injected
)
SELECT doc_id, n_emails, n_phones, n_ipv4,
       length(s)::BIGINT AS scrub_len,
       {_d_h48('s')} AS scrub_h48
FROM scrubbed
"""


_DECON_N = 5  # word-shingle width
# Synthetic eval sentence (10 words -> 6 distinct 5-grams), disjoint from
# the corpus vocabulary. Injected into doc_id % 17 == 3 docs AFTER which
# the benchmark is (injected docs % 41 == 0) ∪ {the eval sentence} — so
# the gate proves cross-document shingle hits (6 per injected doc), not
# just benchmark self-identity. (The natural corpus's near-dups share
# word SETS, not word ORDER, so raw docs produce no cross hits.)
_DECON_EVAL = "the quick brown fox jumps over the lazy sleeping dog"

#: shared token run for the CDC dedup fixture (doc_id % 17 == 3 docs) —
#: long enough (24 tokens, expected boundary every 8) that several cut
#: points fall INSIDE the run, so the re-synchronized chunks between
#: them are identical across every carrier document regardless of the
#: differing prefixes (the CDC shift-invariance property)
_CDC_RUN = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
)


def _q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking storage-dedup ledger
    (operators/dedup.cdc_chunks → cdc_dedup_stats): boundaries are a
    function of token content (h48 of the 2-gram, expected chunk = 8
    tokens), so identical runs chunk identically no matter what
    precedes them — the property fixed windows lack. The natural
    corpus has exact-dup texts only at sf0.1 (measured), so the
    ``_CDC_RUN`` token run is injected into doc_id % 17 == 3 docs (the
    decontaminate fixture rule): its interior chunks re-synchronize
    across every carrier and form cross-document families at every sf.
    Only n_occ ≥ 2 families are emitted (the ledger — distinct chunks
    are corpus-sized and belong in a sink, not a result set). Plan:
    posexplode → one doc window pass (lag boundary + running sum) →
    one (doc,chunk) agg with chunk-length-bounded buffers → ONE
    combinable family agg keyed by chunk text."""
    from servico_ocr_spark.operators import cdc_chunks, cdc_dedup_stats

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 3,
            F.concat("text", F.lit(" " + _CDC_RUN)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cdc_dedup_stats(cdc_chunks(docs, modulus=8)).where(
        F.col("n_occ") >= 2
    )


def _o_cdc_dedup() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    bnd = _d_h48("(prev || ' ' || word)")
    return f"""
WITH injected AS (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 3 THEN text || ' {_CDC_RUN}'
                ELSE text END AS text
    FROM documents
),
w AS (SELECT doc_id, {words} AS words FROM injected),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos,
           unnest(words) AS word
    FROM w
),
lg AS (
    SELECT doc_id, pos, word,
           lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM tok
),
b AS (
    SELECT doc_id, pos, word,
           CASE WHEN prev IS NOT NULL AND {bnd} % 8 = 0
                THEN 1 ELSE 0 END AS bd
    FROM lg
),
c AS (
    SELECT doc_id, pos, word,
           sum(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
    FROM b
),
ch AS (
    SELECT doc_id, chunk, count(*)::BIGINT AS n_tokens,
           string_agg(word, ' ' ORDER BY pos) AS chunk_text
    FROM c GROUP BY doc_id, chunk
)
SELECT chunk_text, max(n_tokens)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_occ,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       ((count(*) - 1) * max(n_tokens))::BIGINT AS tokens_saved
FROM ch GROUP BY chunk_text HAVING count(*) >= 2
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import decontaminate

    docs = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 3,
                F.concat("text", F.lit(" " + _DECON_EVAL)),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    benchmark = docs.where(F.col("doc_id") % 41 == 0).unionByName(
        spark.createDataFrame(
            [(-1, _DECON_EVAL)], "doc_id long, text string"
        )
    )
    return decontaminate(docs, benchmark, n=_DECON_N)


def _o_decontaminate() -> str:
    gram = _d_h48("(w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4)")
    words = _D_WORDS.format(norm=_D_NORM)
    return f"""
WITH injected AS (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 3 THEN text || ' {_DECON_EVAL}'
                ELSE text END AS text
    FROM documents
),
corpus AS (SELECT doc_id, {words} AS words FROM injected),
bsrc AS (
    SELECT doc_id, {words} AS words FROM injected WHERE doc_id % 41 = 0
    UNION ALL
    SELECT -1 AS doc_id,
           {_D_WORDS.format(norm="lower('" + _DECON_EVAL + "')")} AS words
),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
    FROM corpus
),
led AS (
    SELECT doc_id, w,
           lead(w, 1) OVER win AS w1,
           lead(w, 2) OVER win AS w2,
           lead(w, 3) OVER win AS w3,
           lead(w, 4) OVER win AS w4
    FROM tok
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
gx AS (
    SELECT DISTINCT doc_id, {gram} AS g
    FROM led WHERE w4 IS NOT NULL
),
btok AS (
    SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
    FROM bsrc
),
bled AS (
    SELECT doc_id, w,
           lead(w, 1) OVER bwin AS w1,
           lead(w, 2) OVER bwin AS w2,
           lead(w, 3) OVER bwin AS w3,
           lead(w, 4) OVER bwin AS w4
    FROM btok
    WINDOW bwin AS (PARTITION BY doc_id ORDER BY pos)
),
bg AS (
    SELECT DISTINCT {gram} AS g FROM bled WHERE w4 IS NOT NULL
),
hits AS (
    SELECT gx.doc_id, count(*) AS n_hits
    FROM gx JOIN bg USING (g)
    GROUP BY gx.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) > 0)::BIGINT AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


_PACK_CAPACITY = 256
_PACK_SHARDS = 8


_CHUNK_SIZE = 32
_CHUNK_OVERLAP = 8  # stride 24: the 10-99-word corpus yields 1-4 chunks
#                     per doc — single-chunk, multi-chunk, and short-tail
#                     cases all live at every sf


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import chunk_documents

    return chunk_documents(
        _read(spark, sf_dir, "documents"),
        chunk_size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
    )


def _o_chunk_documents(tbl: str = "documents") -> str:
    cs, st = _CHUNK_SIZE, _CHUNK_SIZE - _CHUNK_OVERLAP
    piece = f"list_slice(words, chunk_idx * {st} + 1, chunk_idx * {st} + {cs})"
    return f"""
WITH base AS ({_d_words_cte(tbl)}),
c AS (
    SELECT doc_id, words,
           CASE WHEN len(words) <= 0 THEN 0
                WHEN len(words) <= {cs} THEN 1
                ELSE (len(words) - {cs} + {st - 1}) // {st} + 1 END
               AS n_chunks
    FROM base
),
x AS (
    SELECT doc_id, words,
           unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
    FROM c WHERE n_chunks > 0
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       (chunk_idx * {st})::BIGINT AS start_token,
       len({piece})::BIGINT AS n_tokens,
       {_d_h48(f"array_to_string({piece}, ' ')")} AS chunk_h48
FROM x
"""


def _q_assign_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import assign_split

    return assign_split(_read(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


def _o_assign_split(
    tbl: str = "documents", train: int = 98, val: int = 1
) -> str:
    b = _d_h48("('split:' || doc_id::VARCHAR)")
    return f"""
SELECT doc_id,
       CASE WHEN {b} % 100 < {train} THEN 'train'
            WHEN {b} % 100 < {train + val} THEN 'val'
            ELSE 'test' END AS split
FROM {tbl}
"""


def _q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit (operators/packing.pack_efficiency —
    the telemetry twin of pack_sequences, same shard hash and token
    count): per-shard docs/tokens/packs, tail waste (< capacity by
    the concat-and-chunk invariant), fill ppm. One combinable agg."""
    from servico_ocr_spark.operators import pack_efficiency

    return pack_efficiency(
        _read(spark, sf_dir, "documents"),
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
    )


def _o_pack_efficiency() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    shard = _d_h48("('pack:' || doc_id::VARCHAR)")
    cap = _PACK_CAPACITY
    return f"""
WITH t AS (
    SELECT ({shard} % {_PACK_SHARDS})::BIGINT AS shard,
           len({words})::BIGINT AS nt
    FROM documents
),
s AS (
    SELECT shard, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
    FROM t GROUP BY shard
)
SELECT shard, n_docs, n_tokens,
       ((n_tokens + {cap - 1}) // {cap})::BIGINT AS n_packs,
       (((n_tokens + {cap - 1}) // {cap}) * {cap} - n_tokens)::BIGINT
           AS waste_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE (n_tokens * 1000000)
                 // (((n_tokens + {cap - 1}) // {cap}) * {cap})
       END::BIGINT AS fill_ppm
FROM s
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import pack_sequences

    return pack_sequences(
        _read(spark, sf_dir, "documents"),
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
    )


def _o_pack_sequences() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    shard = _d_h48("('pack:' || doc_id::VARCHAR)")
    return f"""
WITH t AS (
    SELECT doc_id,
           len({words})::BIGINT AS n_tokens,
           ({shard} % {_PACK_SHARDS})::BIGINT AS shard
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM t
)
SELECT doc_id, shard,
       (cb // {_PACK_CAPACITY})::BIGINT AS pack_seq,
       (cb % {_PACK_CAPACITY})::BIGINT AS pack_offset,
       n_tokens
FROM c
"""


# data-mix recipe: src0 over-weighted 4x, src1 2x, src2-src9 1x, and
# src10-src19 OUT of the recipe (allowlist semantics exercised live).
# With the budget derived as half the allowlisted token mass, src0's
# target exceeds its supply (rate caps at keep-all) while src1 and
# src2-9 sample at two distinct binding rates — cap and both rate
# regimes exercised at every sf (the derived-constant discipline of
# minhash_neardups' word-df cap).
_MIX_WEIGHTS = {"src0": 4, "src1": 2, **{f"src{i}": 1 for i in range(2, 10)}}
_MIX_W_TOTAL = sum(_MIX_WEIGHTS.values())
_MIX_DENOM = 10_000


def _q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication mixing (operators/packing.epoch_upsample): src0 at
    2.5 epochs (every doc twice, a hash-selected half a third time),
    src1 at exactly 1.0, everything else at 0.4 — the three regimes
    (multi-copy, identity, fractional-drop) all live at every sf.
    Zero-shuffle: CASE rates + hash projection + bounded explode."""
    from servico_ocr_spark.operators import epoch_upsample

    return epoch_upsample(
        _read(spark, sf_dir, "documents"),
        rates_pp10k={"src0": 25_000, "src1": 10_000},
        default_pp10k=4_000,
    )


def _o_epoch_mix() -> str:
    h = _d_h48("('ep:' || doc_id::VARCHAR)")
    return f"""
WITH r AS (
    SELECT doc_id, source AS stratum,
           CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 10000
                ELSE 4000 END AS rate,
           {h} % 10000 AS frac
    FROM documents
),
c AS (
    SELECT doc_id, stratum,
           (rate // 10000
            + CASE WHEN frac < rate % 10000 THEN 1 ELSE 0 END)::BIGINT
               AS n_copies
    FROM r
)
SELECT doc_id, stratum, n_copies,
       unnest(range(1, n_copies + 1))::BIGINT AS epoch_ix
FROM c WHERE n_copies >= 1
"""


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising pair generation (operators/packing.span_corruption):
    15% deterministic token masking, consecutive masks merged to
    sentinel spans (gaps-and-islands), input/target in T5's
    <extra_id_k> format. Single-token and multi-token spans, unmasked
    docs, and fully-streamed sentinel numbering are all live at every
    sf (15% i.i.d. over 20-60-token docs)."""
    from servico_ocr_spark.operators import span_corruption

    return span_corruption(_read(spark, sf_dir, "documents"))


def _o_span_corruption() -> str:
    h = _d_h48("('t5:' || doc_id::VARCHAR || ':' || pos::VARCHAR)")
    return f"""
WITH base AS ({_d_words_cte()}),
tok AS (
    SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos,
           unnest(words) AS w
    FROM base
),
f AS (
    SELECT doc_id, pos, w, ({h} % 100) < 15 AS m
    FROM tok
),
g AS (
    SELECT doc_id, pos, w, m,
           (m AND NOT coalesce(
               lag(m) OVER (PARTITION BY doc_id ORDER BY pos),
               false)) AS st
    FROM f
),
hh AS (
    SELECT doc_id, pos, w, m, st,
           (sum(CASE WHEN st THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - 1)::BIGINT AS k
    FROM g
),
a AS (
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN m THEN 1 ELSE 0 END)::BIGINT AS n_masked,
           sum(CASE WHEN st THEN 1 ELSE 0 END)::BIGINT AS n_spans,
           string_agg(CASE WHEN NOT m THEN w
                           WHEN st THEN '<extra_id_' || k::VARCHAR || '>'
                      END, ' ' ORDER BY pos) AS input_text,
           string_agg(CASE WHEN m AND st
                           THEN '<extra_id_' || k::VARCHAR || '> ' || w
                           WHEN m THEN w
                      END, ' ' ORDER BY pos) AS target_text
    FROM hh GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.n_masked, 0)::BIGINT AS n_masked,
       coalesce(a.n_spans, 0)::BIGINT AS n_spans,
       coalesce(a.input_text, '') AS input_text,
       coalesce(a.target_text, '') AS target_text
FROM documents d LEFT JOIN a USING (doc_id)
"""


def _q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from servico_ocr_spark.operators import token_budget_mix

    docs = _read(spark, sf_dir, "documents")
    # the budget is derived from the corpus in integer arithmetic both
    # engines reproduce exactly (sum of allowlisted tokens, halved); the
    # small driver-side agg is a documented eager step, same precedent
    # as embedding_neardups' plane count
    total = (
        docs.where(F.col("source").isin(list(_MIX_WEIGHTS)))
        .agg(F.sum(F.size(words_array(F.col("text")))).cast("long").alias("t"))
        .collect()[0]["t"]
    )
    return token_budget_mix(
        docs,
        budget=int(total) // 2,
        weights=_MIX_WEIGHTS,
        rate_denom=_MIX_DENOM,
    ).orderBy("doc_id")


def _o_token_budget_mix() -> str:
    words = _D_WORDS.format(norm=_D_NORM)
    h = _d_h48("('mix:' || doc_id::VARCHAR)")
    w_case = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    D = _MIX_DENOM
    return f"""
WITH t AS (
    SELECT doc_id, source AS stratum,
           len({words})::BIGINT AS n_tokens,
           {h} AS h,
           (CASE source {w_case} ELSE 0 END)::BIGINT AS w
    FROM documents
),
a AS (SELECT * FROM t WHERE w > 0),
b AS (SELECT (sum(n_tokens)::BIGINT // 2) AS budget FROM a),
s AS (
    SELECT stratum, sum(n_tokens)::BIGINT AS ts, min(w) AS w2
    FROM a GROUP BY stratum
),
r AS (
    SELECT stratum,
           (CASE WHEN ts = 0 THEN {D}
                 ELSE least({D},
                            ((SELECT budget FROM b) * w2 * {D})
                                // ({_MIX_W_TOTAL} * ts))
            END)::BIGINT AS rate_pp
    FROM s
)
SELECT a.doc_id, a.stratum, a.n_tokens, r.rate_pp
FROM a JOIN r USING (stratum)
WHERE a.h * {D} < r.rate_pp * 281474976710656
ORDER BY a.doc_id
"""


_NEG_M = 3
_NEG_BUCKETS = 256


def _q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives
    (operators/packing.negative_sampling ∘ encode.dictionary_encode —
    the backlog's integer-encoding composition): ring-shift over the
    dense rank space, offset in [1, n-1] so negative ≠ anchor by
    construction; corpus count is a 1-row broadcast, rank→id resolution
    one equi-join."""
    from servico_ocr_spark.operators import negative_sampling

    return negative_sampling(
        _read(spark, sf_dir, "documents"), m=_NEG_M, buckets=_NEG_BUCKETS
    )


def _o_contrastive_negatives() -> str:
    h = _d_h48("value")
    hneg = _d_h48("('neg:' || j::VARCHAR || ':' || d.value)")
    return f"""
WITH vals AS (SELECT DISTINCT doc_id::VARCHAR AS value FROM documents),
b AS (SELECT value, {h} % {_NEG_BUCKETS} AS _b FROM vals),
r AS (
    SELECT value, _b,
           row_number() OVER (PARTITION BY _b ORDER BY value) AS rn
    FROM b
),
c AS (SELECT _b, count(*) AS c FROM b GROUP BY _b),
o AS (
    SELECT _b,
           coalesce(sum(c) OVER (ORDER BY _b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
    FROM c
),
d AS MATERIALIZED (
    SELECT r.value, (o.off + r.rn - 1)::BIGINT AS rk
    FROM r JOIN o USING (_b)
),
nn AS (SELECT count(*)::BIGINT AS n FROM d),
s AS (
    SELECT d.value AS anchor, j::BIGINT AS j,
           (d.rk + 1 + {hneg} % ((SELECT n FROM nn) - 1))
               % (SELECT n FROM nn) AS nrk
    FROM d CROSS JOIN (SELECT unnest(range(1, {_NEG_M} + 1)) AS j) z
    WHERE (SELECT n FROM nn) > 1
)
SELECT s.anchor, s.j, d2.value AS negative
FROM s JOIN d d2 ON d2.rk = s.nrk
"""


_STRAT_K = 16


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source eval sample
    (operators/packing.stratified_sample): exactly min(k, |stratum|)
    docs per source, ordered by the portable 48-bit hash (id
    tie-break), rank included so nested smaller samples are prefixes.
    Per-stratum top-k runs under WindowGroupLimit (per-partition k-heap
    before the exchange)."""
    from servico_ocr_spark.operators import stratified_sample

    return stratified_sample(
        _read(spark, sf_dir, "documents"), k=_STRAT_K
    )


def _o_stratified_sample() -> str:
    h = _d_h48("('strat:' || doc_id::VARCHAR)")
    return f"""
WITH t AS (
    SELECT source::VARCHAR AS stratum, doc_id, {h} AS h
    FROM documents
),
r AS (
    SELECT stratum, doc_id,
           row_number() OVER (PARTITION BY stratum
                              ORDER BY h, doc_id)::BIGINT AS rk
    FROM t
)
SELECT stratum, doc_id, rk FROM r WHERE rk <= {_STRAT_K}
"""


_WSAMP_K = 16


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased per-source sample
    (operators/packing.weighted_sample): priority = h48(salt:id) div
    weight, k smallest win — longer documents (weight = n_chars) are
    monotonically more likely to be drawn, and the draw replays
    bit-identically on any engine/partitioning (documented trade vs
    exact Efraimidis–Spirakis in the operator docstring). Same
    WindowGroupLimit top-k shape as stratified_sample."""
    from servico_ocr_spark.operators import weighted_sample

    return weighted_sample(
        _read(spark, sf_dir, "documents"),
        k=_WSAMP_K,
        weight_col="n_chars",
    )


def _o_weighted_sample() -> str:
    h = _d_h48("('wsamp:' || doc_id::VARCHAR)")
    return f"""
WITH t AS (
    SELECT source::VARCHAR AS stratum, doc_id,
           greatest(n_chars, 1)::BIGINT AS weight, {h} AS h
    FROM documents
),
r AS (
    SELECT stratum, doc_id, weight,
           row_number() OVER (PARTITION BY stratum
                              ORDER BY h // weight, doc_id)::BIGINT AS rk
    FROM t
)
SELECT stratum, doc_id, weight, rk FROM r WHERE rk <= {_WSAMP_K}
"""


def _o_url_canon_cte() -> str:
    """Shared CTE chain: fixture urls -> canonical parts (independent SQL
    re-implementation of operators/urls' documented canonical form)."""
    return f"""
u0 AS (SELECT doc_id, doc_id // 2 AS d2 FROM documents),
u1 AS (
    SELECT doc_id, d2,
           (('0x' || substr(md5(d2::VARCHAR || 'u'), 1, 12))::BIGINT)
               % {_URL_SITES} AS site,
           {_URL_SCHEME} AS scheme
    FROM u0
),
u2 AS (
    SELECT doc_id, d2, scheme,
           (CASE WHEN d2 % 4 = 0 THEN 'www.' ELSE '' END) || 'site' ||
               site::VARCHAR || '.' ||
               (CASE site % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                     ELSE 'net' END) AS host_c,
           CASE WHEN d2 % 11 = 0 THEN ':8080'
                WHEN doc_id % 6 = 0 THEN
                    (CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END)
                ELSE '' END AS port,
           CASE WHEN d2 % 19 = 0 THEN '' ELSE
               '/a/' || (d2 % 97)::VARCHAR ||
               (CASE WHEN d2 % 7 = 0 THEN '/Mixed' ELSE '' END) END AS path,
           CASE WHEN doc_id % 2 = 0 THEN concat_ws('&',
               'id=' || (d2 % 13)::VARCHAR,
               CASE WHEN d2 % 5 = 0 THEN 'q=x' END,
               CASE WHEN doc_id % 3 = 0 THEN
                   'utm_source=s' || (doc_id % 4)::VARCHAR END,
               CASE WHEN doc_id % 7 = 0 THEN
                   'fbclid=F' || (doc_id % 9)::VARCHAR END)
           ELSE concat_ws('&',
               CASE WHEN doc_id % 3 = 0 THEN
                   'utm_source=s' || (doc_id % 4)::VARCHAR END,
               CASE WHEN doc_id % 7 = 0 THEN
                   'fbclid=F' || (doc_id % 9)::VARCHAR END,
               CASE WHEN d2 % 5 = 0 THEN 'q=x' END,
               'id=' || (d2 % 13)::VARCHAR) END AS qstr
    FROM u1
),
urls AS (
    SELECT doc_id,
           CASE WHEN doc_id % 101 = 100 THEN 'urn:doc:' || doc_id::VARCHAR
           ELSE scheme || '://' ||
               (CASE WHEN doc_id % 5 = 0 THEN upper(host_c)
                     ELSE host_c END) ||
               port || path ||
               (CASE WHEN qstr = '' THEN '' ELSE '?' || qstr END) ||
               (CASE WHEN doc_id % 2 = 1 THEN
                   '#sec' || (doc_id % 3)::VARCHAR ELSE '' END) END AS url
    FROM u2
),
c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM urls),
p1 AS (
    SELECT doc_id, u,
           lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
           lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1))
               AS hostport,
           regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS rest
    FROM c0
),
p2 AS (
    SELECT doc_id, u, scheme,
           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN
                    regexp_replace(hostport, ':443$', '')
                ELSE hostport END AS host,
           CASE WHEN split_part(rest, '?', 1) = '' THEN '/'
                ELSE split_part(rest, '?', 1) END AS path,
           regexp_extract(rest, '\\?(.*)', 1) AS query
    FROM p1
),
p3 AS (
    SELECT doc_id, u, scheme, host, path,
           array_to_string(list_sort(list_filter(str_split(query, '&'),
               p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&')
               AS cq
    FROM p2
),
canon AS (
    SELECT doc_id,
           CASE WHEN scheme = '' THEN u
                ELSE scheme || '://' || host || path ||
                    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) END
               AS canonical_url,
           host,
           regexp_extract(regexp_replace(host, ':[0-9]+$', ''),
                          '([^.]+\\.[^.]+)$', 1) AS registered_domain
    FROM p3
)"""


def _o_url_canonical() -> str:
    return f"""
WITH {_o_url_canon_cte()}
SELECT doc_id, canonical_url, host, registered_domain FROM canon
"""


def _o_url_dedup() -> str:
    return f"""
WITH {_o_url_canon_cte()}
SELECT canonical_url, min(doc_id)::BIGINT AS keep_id,
       count(*)::BIGINT AS n_dups
FROM canon GROUP BY canonical_url
"""


def _o_domain_cap() -> str:
    return f"""
WITH {_o_url_canon_cte()}
SELECT doc_id, registered_domain, canonical_url FROM canon
QUALIFY row_number() OVER (PARTITION BY registered_domain
                           ORDER BY doc_id) <= {_DOMAIN_CAP_K}
"""


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Disallow gate (operators/urls.robots_disallow):
    prefix rules broadcast, one host equi-join, per-page match agg.
    Fixture rules derive from the corpus's own hosts (every host
    disallows '/a/1'; .com hosts also '/a/9') so multi-rule hosts,
    blocked (~15%) and clean pages are all live at every sf. Both the
    rules and the probe read ONE cut canonicalization (robots_paths):
    uncut, the url synthesis + regex chain inlined into the per-page
    aggregate and the host distinct, and the stage fell back from
    whole-stage codegen (locked by test_entry_contract's
    test_robots_filter_compiles_without_codegen_fallback)."""
    from servico_ocr_spark.operators import robots_match, robots_paths

    paths = robots_paths(_url_corpus(spark, sf_dir))
    hosts = paths.select("host").where(F.col("host") != "").distinct()
    rules = hosts.select(
        "host", F.lit("/a/1").alias("prefix")
    ).unionByName(
        hosts.where(F.col("host").endswith(".com")).select(
            "host", F.lit("/a/9").alias("prefix")
        )
    )
    return robots_match(paths, rules)


def _o_robots_filter() -> str:
    return f"""
WITH {_o_url_canon_cte()},
cp AS (
    SELECT doc_id, host,
           regexp_extract(canonical_url, '^[a-z]+://[^/]+(/[^?]*)', 1)
               AS path
    FROM canon
),
hosts AS (SELECT DISTINCT host FROM canon WHERE host <> ''),
rules AS (
    SELECT host, '/a/1' AS prefix FROM hosts
    UNION ALL
    SELECT host, '/a/9' AS prefix FROM hosts WHERE host LIKE '%.com'
),
m AS (
    SELECT cp.doc_id, cp.host, cp.path,
           sum(CASE WHEN r.prefix IS NOT NULL
                     AND starts_with(cp.path, r.prefix)
                    THEN 1 ELSE 0 END)::BIGINT AS n_rules_matched
    FROM cp LEFT JOIN rules r ON r.host = cp.host
    GROUP BY 1, 2, 3
)
SELECT doc_id, host, path, n_rules_matched,
       (CASE WHEN n_rules_matched > 0 THEN 1 ELSE 0 END)::BIGINT
           AS blocked
FROM m
"""


_SCHED_RATE = 4


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduling (operators/urls.crawl_schedule):
    each host's frontier enumerated in portable-hash order, wave = slot
    div rate. The Spark side runs the two-stage bucket-offset
    enumeration (no whole-host single-task sort — straggler bound
    ~host/16); the oracle is the naive single per-host window — two
    genuinely different plans, same assignment (equality also
    unit-tested Spark-vs-Spark)."""
    from servico_ocr_spark.operators import crawl_schedule

    return crawl_schedule(
        _url_corpus(spark, sf_dir), rate_per_wave=_SCHED_RATE
    )


def _q_frontier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl face composed end-to-end into a budget-capped fetch
    list: canonicalize → robots.txt Disallow gate (the robots_filter
    rules) → per-host politeness schedule (hash-order slots/waves) →
    exact Hamilton budget (total allowed div 4) → keep each host's
    first ``quota`` slots. This is the row set a polite, budgeted
    crawler actually fetches next pass — the composition the
    individual operators exist for. Every stage's binding branch stays
    live: ~15% robots-blocked pages are gone before scheduling,
    hostless ids are unschedulable, the budget floors AND
    remainder-extras bind (budget not divisible), and ``slot < quota``
    truncates every host (budget is a quarter of the allowed mass).
    Plan: the robots gate's agg feeds a semi join; schedule +
    apportionment as plan-locked in their own queries; one final
    broadcast-able quota join (host-cardinality side). ``pages`` and
    ``allowed`` are cut: three operators re-derive the regex
    canonicalization from them, and uncut the synthesized-url +
    canonicalization chains stacked inside single join spans — four
    "Code grows beyond 64 KB" codegen fallbacks (interpreted stages)
    and re-executed synthesis; the cuts restored compiled spans
    (7.5 → 2.3 s benched at sf0.1, the host_pagerank lesson)."""
    from servico_ocr_spark.operators import (
        apportion_budget,
        canonicalize_urls,
        crawl_schedule,
        robots_disallow,
    )

    pages = cut(_url_corpus(spark, sf_dir))
    hosts = (
        canonicalize_urls(pages)
        .select("host")
        .where(F.col("host") != "")
        .distinct()
    )
    rules = hosts.select(
        "host", F.lit("/a/1").alias("prefix")
    ).unionByName(
        hosts.where(F.col("host").endswith(".com")).select(
            "host", F.lit("/a/9").alias("prefix")
        )
    )
    gate = robots_disallow(pages, rules)
    allowed_ids = gate.where(
        (F.col("blocked") == 0) & (F.col("host") != "")
    ).select("doc_id")
    allowed = cut(pages.join(allowed_ids, "doc_id", "left_semi"))
    sched = crawl_schedule(allowed, rate_per_wave=_SCHED_RATE)
    n_allowed = allowed_ids.count()
    budget = n_allowed // 4
    masses = sched.groupBy("host").agg(
        F.count("*").cast("long").alias("mass")
    )
    quota = apportion_budget(
        masses, budget, group_col="host", mass_col="mass"
    ).select(F.col("group").alias("host"), "quota")
    return (
        sched.join(F.broadcast(quota), "host")
        .where(F.col("slot") < F.col("quota"))
        .select("host", "doc_id", "slot", "wave", "quota")
    )


def _o_frontier_pipeline() -> str:
    h = _d_h48("('sched:' || a.doc_id::VARCHAR)")
    return f"""
WITH {_o_url_canon_cte()},
cp AS (
    SELECT doc_id, host,
           regexp_extract(canonical_url, '^[a-z]+://[^/]+(/[^?]*)', 1)
               AS path
    FROM canon
),
hosts AS (SELECT DISTINCT host FROM canon WHERE host <> ''),
rules AS (
    SELECT host, '/a/1' AS prefix FROM hosts
    UNION ALL
    SELECT host, '/a/9' AS prefix FROM hosts WHERE host LIKE '%.com'
),
m AS (
    SELECT cp.doc_id, cp.host,
           sum(CASE WHEN r.prefix IS NOT NULL
                     AND starts_with(cp.path, r.prefix)
                    THEN 1 ELSE 0 END) AS n_rules_matched
    FROM cp LEFT JOIN rules r ON r.host = cp.host
    GROUP BY 1, 2
),
allowed AS (
    SELECT doc_id, host FROM m
    WHERE n_rules_matched = 0 AND host <> ''
),
sched AS (
    SELECT host, a.doc_id,
           (row_number() OVER (PARTITION BY host
                               ORDER BY {h}, a.doc_id) - 1)::BIGINT
               AS slot
    FROM allowed a
),
bt AS (SELECT (count(*) // 4)::BIGINT AS b FROM allowed),
mass AS (SELECT host, count(*)::BIGINT AS mass FROM allowed GROUP BY host),
tt AS (SELECT sum(mass)::BIGINT AS total FROM mass),
q AS (
    SELECT host, mass,
           ((bt.b * mass) // tt.total)::BIGINT AS floor_q,
           ((bt.b * mass) % tt.total)::BIGINT AS rem,
           bt.b AS b
    FROM mass, bt, tt
),
s AS (SELECT sum(floor_q)::BIGINT AS spent FROM q),
r AS (
    SELECT host, floor_q, b,
           row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
    FROM q
),
quota AS (
    SELECT host,
           (floor_q + CASE WHEN rk <= b - s.spent THEN 1 ELSE 0 END)
               ::BIGINT AS quota
    FROM r, s
)
SELECT sc.host, sc.doc_id, sc.slot,
       (sc.slot // {_SCHED_RATE})::BIGINT AS wave, qu.quota
FROM sched sc JOIN quota qu ON sc.host = qu.host
WHERE sc.slot < qu.quota
"""


def _o_crawl_schedule() -> str:
    h = _d_h48("('sched:' || doc_id::VARCHAR)")
    return f"""
WITH {_o_url_canon_cte()},
t AS (
    SELECT host, doc_id, {h} AS h
    FROM canon WHERE host <> ''
),
r AS (
    SELECT host, doc_id,
           (row_number() OVER (PARTITION BY host ORDER BY h, doc_id)
                - 1)::BIGINT AS slot
    FROM t
)
SELECT host, doc_id, slot, (slot // {_SCHED_RATE})::BIGINT AS wave
FROM r
"""


def _o_latest_crawl() -> str:
    # warc_ts is a pure function of doc_id (same arithmetic as the Spark
    # fixture), so the oracle re-derives it instead of threading it
    # through the canon CTE
    return f"""
WITH {_o_url_canon_cte()},
ts AS (
    SELECT doc_id, canonical_url,
           TIMESTAMP '2024-03-01 00:00:00' + to_hours(CAST(
               ((doc_id // 2) % 28) * 24 +
               (CASE WHEN (doc_id // 2) % 4 = 0 THEN 7
                     ELSE doc_id % 23 END) AS BIGINT)) AS warc_ts
    FROM canon
),
r AS (
    SELECT canonical_url, doc_id, warc_ts,
           row_number() OVER (PARTITION BY canonical_url
                              ORDER BY warc_ts DESC, doc_id) AS rn,
           count(*) OVER (PARTITION BY canonical_url) AS n_crawls
    FROM ts
)
SELECT canonical_url, doc_id AS keep_id,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS last_crawl,
       n_crawls::BIGINT AS n_crawls
FROM r WHERE rn = 1
"""


def _o_crawl_delta() -> str:
    # same snapshot carve + content drift arithmetic as _q_crawl_delta;
    # arg_min = Spark min_by (representative's FULL md5 as change detector)
    return f"""
WITH {_o_url_canon_cte()},
txt AS (
    SELECT c.doc_id, c.canonical_url, d.text
    FROM canon c JOIN documents d ON c.doc_id = d.doc_id
),
olds AS (
    SELECT canonical_url, min(doc_id)::BIGINT AS old_id,
           arg_min(md5(text), doc_id) AS old_h
    FROM txt WHERE doc_id % 3 <> 0 GROUP BY canonical_url
),
news AS (
    SELECT canonical_url, min(doc_id)::BIGINT AS new_id,
           arg_min(md5(text ||
               CASE WHEN doc_id % 5 = 0 THEN ' rev' ELSE '' END),
               doc_id) AS new_h
    FROM txt WHERE doc_id % 3 <> 1 GROUP BY canonical_url
)
SELECT COALESCE(o.canonical_url, n.canonical_url) AS canonical_url,
       CASE WHEN o.old_id IS NULL THEN 'added'
            WHEN n.new_id IS NULL THEN 'removed'
            WHEN o.old_h <> n.new_h THEN 'changed'
            ELSE 'unchanged' END AS status,
       COALESCE(o.old_id, -1)::BIGINT AS old_id,
       COALESCE(n.new_id, -1)::BIGINT AS new_id
FROM olds o FULL OUTER JOIN news n ON o.canonical_url = n.canonical_url
"""


def _o_domain_stats() -> str:
    return f"""
WITH {_o_url_canon_cte()}
SELECT registered_domain,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       count(DISTINCT canonical_url)::BIGINT AS n_canonical,
       floor((count(*) - count(DISTINCT canonical_url)) * 1000000
             / count(*))::BIGINT AS dup_ppm
FROM canon GROUP BY registered_domain
"""


# ===========================================================================
# Link graph (operators/links): parse → edges → degrees/anchors → PageRank
# ===========================================================================
#
# Fixture: corpus.linked_pages_from_documents — REAL html pages whose <a>
# anchors are pure doc_id arithmetic (div-parent DAG + three in-degree-n
# nav hubs + adversarial href-form/nofollow/duplicate/self-loop/mailto
# subsets; docstring there lists every branch). The Spark side PARSES the
# html (JVM regex, zero-shuffle); the DuckDB twin below reconstructs the
# expected parse from the arithmetic alone — the hash check proves the
# whole regex-parse → href-form → URL-resolution path without the oracle
# ever seeing a byte of html. PageRank is fixed-point integer arithmetic
# (truncating division both engines), so the 5-round unrolled-CTE oracle
# matches bit-for-bit with no float anywhere.

_PR_ITERS = 5
_PR_SCALE = 1_000_000
_PR_DAMP = 85

_O_LINKS_CTE = """
pages AS (
    SELECT doc_id, 'https://graph.test/d/' || doc_id AS src FROM documents
),
links AS (
    SELECT src, 'https://graph.test/' AS dst, 'home' AS anchor,
           0::BIGINT AS nofollow FROM pages
    UNION ALL SELECT src, 'https://graph.test/t', 'tags', 0 FROM pages
    UNION ALL SELECT src, 'https://graph.test/s', 'search', 0 FROM pages
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 2),
                     'via ' || (doc_id % 7), 0 FROM pages
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 3),
                     'also ' || (doc_id % 5), 0 FROM pages
    UNION ALL SELECT src, 'https://partner.example/p/' || (doc_id % 5),
                     'partner', 0 FROM pages WHERE doc_id % 7 = 4
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 5),
                     'sponsored', 1 FROM pages WHERE doc_id % 11 = 9
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 2),
                     'again', 0 FROM pages WHERE doc_id % 13 = 6
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 7),
                     'plain', 0 FROM pages WHERE doc_id % 23 = 11
    UNION ALL SELECT src, 'https://graph.test/d/e' || (doc_id % 3),
                     'rel', 0 FROM pages WHERE doc_id % 29 = 17
    UNION ALL SELECT src, 'https://graph.test/d/' || (doc_id // 11),
                     'proto', 0 FROM pages WHERE doc_id % 31 = 19
    UNION ALL SELECT src, 'mailto:ed@graph.test', 'mail', 0
        FROM pages WHERE doc_id % 37 = 21
),
edges AS (
    SELECT DISTINCT src, dst FROM links
    WHERE nofollow = 0 AND dst <> src
      AND (dst LIKE 'http://%' OR dst LIKE 'https://%')
)
"""


def _linked_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linked_pages_from_documents(_read(spark, sf_dir, "documents"))


def _q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_links(_linked_pages(spark, sf_dir))


def _o_link_extract() -> str:
    return f"WITH {_O_LINKS_CTE} " \
           "SELECT src, dst, anchor, nofollow FROM links"


def _q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_edges(extract_links(_linked_pages(spark, sf_dir)))


def _o_link_graph() -> str:
    return f"WITH {_O_LINKS_CTE} SELECT src, dst FROM edges"


def _q_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_degrees(
        link_edges(extract_links(_linked_pages(spark, sf_dir)))
    )


def _o_link_degrees() -> str:
    return f"""
WITH {_O_LINKS_CTE}
SELECT node, SUM(o)::BIGINT AS out_deg, SUM(i)::BIGINT AS in_deg
FROM (SELECT src AS node, 1 AS o, 0 AS i FROM edges
      UNION ALL SELECT dst, 0, 1 FROM edges) u
GROUP BY node
"""


def _q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anchor_text_agg(extract_links(_linked_pages(spark, sf_dir)))


def _o_anchor_stats() -> str:
    return f"""
WITH {_O_LINKS_CTE}
SELECT dst, COUNT(*)::BIGINT AS n_links,
       COUNT(DISTINCT anchor)::BIGINT AS n_anchors,
       string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
FROM links
WHERE nofollow = 0 AND dst <> src
  AND (dst LIKE 'http://%' OR dst LIKE 'https://%')
  AND anchor <> ''
GROUP BY dst
"""


def _q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyad reciprocity over the link graph
    (operators/links.digraph_reciprocity): per unordered page pair, the
    edge mass in each direction and the integer reciprocity ratio. The
    parsed link fixture is a pure DAG (div-parent edges — zero mutual
    pairs, measured at every sf), so the query blends in a
    deterministic BACKLINK subset — edges whose h48('rcp:'src>'dst)
    lands ≡ 0 mod 5 are reflected — making both branches (mutual ≈ 20%
    and one-way) live at every sf. The reflection is derived from the
    PARSED edges on the Spark side and from the arithmetic edge CTE on
    the oracle side, so the hash check still proves the whole
    parse→resolve path. Plan: the canonical (least,greatest) fold turns
    reciprocity into ONE combinable agg — no reversed-key self-join, no
    second edge shuffle."""
    from servico_ocr_spark.operators import digraph_reciprocity
    from servico_ocr_spark.operators.common import h48

    e = link_edges(extract_links(_linked_pages(spark, sf_dir)))
    pick = h48(
        F.concat(F.lit("rcp:"), F.col("src"), F.lit(">"), F.col("dst"))
    ) % 5 == 0
    rev = e.where(pick).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return digraph_reciprocity(e.unionByName(rev))


def _o_link_reciprocity() -> str:
    h = _d_h48("('rcp:' || src || '>' || dst)")
    return f"""
WITH {_O_LINKS_CTE},
rev AS (
    SELECT dst AS src, src AS dst FROM edges WHERE {h} % 5 = 0
),
u AS (
    SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM rev
),
folded AS (
    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
           CASE WHEN src < dst THEN 1 ELSE 0 END AS fwd,
           CASE WHEN src > dst THEN 1 ELSE 0 END AS rv
    FROM u WHERE src <> dst
)
SELECT a, b, sum(fwd)::BIGINT AS w_ab, sum(rv)::BIGINT AS w_ba,
       ((2 * least(sum(fwd), sum(rv)) * 10000)
            // (sum(fwd) + sum(rv)))::BIGINT AS recip_pp10k
FROM folded GROUP BY a, b
"""


def _q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph degree distribution — ``(kind, degree, n_nodes)`` for
    out- and in-degrees of the link graph: the power-law histogram
    every web-graph paper opens with, and the operational check behind
    hub-skew decisions (triangles' degree orientation, pagerank's
    dangling mass). Composes link_degrees (one agg) with one more
    combinable count over the node table — output bounded by distinct
    degree values."""
    degs = link_degrees(
        link_edges(extract_links(_linked_pages(spark, sf_dir)))
    )
    both = degs.select(
        F.lit("out").alias("kind"), F.col("out_deg").alias("degree")
    ).unionAll(
        degs.select(F.lit("in"), F.col("in_deg"))
    )
    return both.groupBy("kind", "degree").agg(
        F.count("*").cast("long").alias("n_nodes")
    )


def _o_degree_distribution() -> str:
    return f"""
WITH {_O_LINKS_CTE},
degs AS (
    SELECT node, SUM(o)::BIGINT AS out_deg, SUM(i)::BIGINT AS in_deg
    FROM (SELECT src AS node, 1 AS o, 0 AS i FROM edges
          UNION ALL SELECT dst, 0, 1 FROM edges) u
    GROUP BY node
),
bd AS (
    SELECT 'out' AS kind, out_deg AS degree FROM degs
    UNION ALL SELECT 'in', in_deg FROM degs
)
SELECT kind, degree, count(*)::BIGINT AS n_nodes
FROM bd GROUP BY kind, degree
"""


#: walk depth for the random-walk corpus (fixed, data-independent —
#: what lets the unrolled oracle mirror the loop exactly)
_RW_DEPTH = 3


def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style deterministic walk corpus (operators/links.
    random_walks): one depth-3 walk per node over the link graph, coin
    flips replaced by h48(salt:start:step) mod outdeg — hub-proof
    (two 1:1 equi-joins per step, never a deg-wide fan-out). Dead ends
    truncate walks, so later steps have fewer rows — both branches
    (continuation and truncation) are live on this graph (the mailto/
    partner leaf urls have no out-edges)."""
    from servico_ocr_spark.operators import random_walks

    return random_walks(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        depth=_RW_DEPTH,
    )


def _o_random_walks(
    prelude: str = _O_LINKS_CTE, depth: int = _RW_DEPTH
) -> str:
    cte = [
        f"WITH {prelude},",
        """
ranked AS MATERIALIZED (
    SELECT src, dst,
           (row_number() OVER (PARTITION BY src ORDER BY dst) - 1)::BIGINT
               AS idx
    FROM edges
),
degs AS MATERIALIZED (
    SELECT src, count(*)::BIGINT AS deg FROM ranked GROUP BY src
),
s0 AS MATERIALIZED (
    SELECT node AS start, node FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
)""",
    ]
    for t in range(1, depth + 1):
        h = _d_h48(f"('rw:' || s.start || ':{t}')")
        cte.append(f""",
s{t} AS MATERIALIZED (
    SELECT s.start, r.dst AS node
    FROM s{t - 1} s
    JOIN degs d ON d.src = s.node
    JOIN ranked r ON r.src = s.node AND r.idx = {h} % d.deg
)""")
    selects = "\nUNION ALL ".join(
        f"SELECT start, {t}::BIGINT AS step, node FROM s{t}"
        for t in range(depth + 1)
    )
    return "".join(cte) + "\n" + selects


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        iterations=_PR_ITERS,
        scale=_PR_SCALE,
        damping_pct=_PR_DAMP,
    )


def _o_pagerank(
    prelude: str = _O_LINKS_CTE,
    iters: int = _PR_ITERS,
    scale: int = _PR_SCALE,
    damp: int = _PR_DAMP,
    seed_sql: str | None = None,
) -> str:
    """Unrolled-CTE integer PageRank over any ``prelude`` that defines
    an ``edges(src, dst)`` CTE. ``seed_sql`` (a subquery yielding seed
    nodes) switches to the personalized variant: base term and initial
    mass land only on seeds — mirroring links.pagerank(seeds=...)."""
    base = scale * (100 - damp) // 100
    if seed_sql is None:
        n_cols = f"node, {base}::BIGINT AS b, {scale}::BIGINT AS r0v"
    else:
        n_cols = (
            f"node,\n"
            f"    (CASE WHEN node IN ({seed_sql}) THEN {base} ELSE 0 "
            f"END)::BIGINT AS b,\n"
            f"    (CASE WHEN node IN ({seed_sql}) THEN {scale} ELSE 0 "
            f"END)::BIGINT AS r0v"
        )
    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(f""",
r{i} AS (
    SELECT n.node,
           (n.b + ({damp} * COALESCE(s.c, 0)) // 100)::BIGINT
               AS rank
    FROM n LEFT JOIN (
        SELECT ed.dst AS node, SUM(r.rank // ed.out_deg) AS c
        FROM ed JOIN {prev} r ON r.node = ed.src
        GROUP BY ed.dst) s ON s.node = n.node
)""")
        prev = f"r{i}"
    return f"""
WITH {prelude},
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.od AS out_deg
       FROM edges e JOIN deg d ON d.src = e.src),
n AS (SELECT {n_cols} FROM (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges) u) nn),
r0 AS (SELECT node, r0v AS rank FROM n){''.join(its)}
SELECT node, rank FROM {prev}
"""


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOST-level PageRank — the standard web-graph compression: the
    page graph collapses onto its ~10⁴× smaller host graph (distinct
    host→host edges) BEFORE the iteration, so every pagerank round
    shuffles host-count state instead of page-count state. Composition:
    canonicalize_urls (host extraction) → d2-lineage citation edges
    (doc i's host links its doc-i÷2 parent's host — the url corpus's
    deterministic cross-host structure) → links.pagerank, whose
    unconditional edge cut matters most here: the host-edge table
    is a DERIVED relation (regex canonicalization → self-join →
    distinct) that pagerank references from out-degrees, the node
    universe and every round's join — uncut, the executed plan re-ran
    that upstream 44× (19.5 s vs 3.3 s for page pagerank at sf0.1); the
    cut bounds it to one execution (plan-locked, with the other three
    pagerank queries, in
    test_plans.test_pagerank_checkpoint_bounds_upstream).
    Oracle: the SAME unrolled-CTE pagerank over the canon-CTE host
    edges (the _o_pagerank prelude parameterization)."""
    from servico_ocr_spark.operators import canonicalize_urls

    # canon is ALSO cut: the self-join otherwise inlines the regex
    # canonicalization chain into BOTH join inputs of one whole-stage
    # span — measured "Code grows beyond 64 KB" codegen fallback (the
    # stage ran interpreted) and the regex chain executed twice.
    canon = cut(
        canonicalize_urls(_url_corpus(spark, sf_dir)).select("doc_id", "host")
    )
    parent = canon.select(
        F.col("doc_id").alias("p_id"), F.col("host").alias("p_host")
    )
    edges = (
        canon.join(parent, F.expr("doc_id div 2") == F.col("p_id"))
        .where(
            (F.col("host") != F.col("p_host"))
            & (F.col("host") != "")
            & (F.col("p_host") != "")
        )
        .select(F.col("host").alias("src"), F.col("p_host").alias("dst"))
        .distinct()
    )
    return pagerank(
        edges,
        iterations=_PR_ITERS,
        scale=_PR_SCALE,
        damping_pct=_PR_DAMP,
    )


def _o_host_pagerank() -> str:
    prelude = _o_url_canon_cte() + """,
edges AS (
    SELECT DISTINCT a.host AS src, p.host AS dst
    FROM canon a JOIN canon p ON p.doc_id = a.doc_id // 2
    WHERE a.host <> p.host AND a.host <> '' AND p.host <> ''
)"""
    return _o_pagerank(prelude=prelude)


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node undirected triangle counts over the link graph
    (operators/links.triangle_counts): DEGREE-ORIENTED wedge join —
    every node's oriented out-degree is O(√m), so the join is bounded
    at O(m^1.5) regardless of hub skew. Oracle mirrors the same
    orientation arithmetic in SQL."""
    from servico_ocr_spark.operators import triangle_counts

    return triangle_counts(
        link_edges(extract_links(_linked_pages(spark, sf_dir)))
    )


def _o_triangles() -> str:
    return f"""
WITH {_O_LINKS_CTE},
und AS (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM edges WHERE src <> dst
),
deg AS (
    SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und) x
    GROUP BY node
),
o AS (
    SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
           CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b
    FROM und
    JOIN deg d1 ON d1.node = und.u
    JOIN deg d2 ON d2.node = und.v,
    LATERAL (SELECT d1.deg AS du, d2.deg AS dv) t
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM o e1 JOIN o e2 ON e1.b = e2.a
    JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
    SELECT node, count(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) q
    GROUP BY node
)
SELECT deg.node, COALESCE(per_node.n_triangles, 0)::BIGINT AS n_triangles
FROM deg LEFT JOIN per_node ON per_node.node = deg.node
"""


_BFS_SEED_MOD, _BFS_SEED_RES = 97, 13  # 5 seeds at every sf (ids 0-499)
_BFS_HOPS = 12


def _q_crawl_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS crawl-frontier depths over the link graph
    (operators/links.bfs_depths): frontier iteration — each round joins
    only the last-settled layer against the edge table, distinct before
    the shuffle (hub fan-in collapses map-side), anti-join against the
    settled set, one cut per layer. The hop cap is a budget:
    the empty-frontier early exit fires well before 12 on this graph.
    Oracle is a DuckDB recursive CTE enumerating (node, depth<=cap)
    pairs; min(depth) per node is the BFS distance."""
    from servico_ocr_spark.operators import bfs_depths

    return bfs_depths(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        _crawl_seeds(spark, sf_dir),
        max_hops=_BFS_HOPS,
    )


def _crawl_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _BFS_SEED_MOD == _BFS_SEED_RES)
        .select(
            F.concat(
                F.lit("https://graph.test/d/"), F.col("doc_id")
            ).alias("node")
        )
    )


_CRAWL_SEED_SQL = (
    "SELECT 'https://graph.test/d/' || doc_id FROM documents "
    f"WHERE doc_id % {_BFS_SEED_MOD} = {_BFS_SEED_RES}"
)


def _q_seeded_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the crawl seed list
    (operators/links.pagerank with seeds=...): teleport mass lands only
    on the seeds, so ranks measure seed-biased relevance — the crawl
    prioritization twin of crawl_depths over the SAME seed set. The
    per-node base rides the static nodes frame: identical per-round
    plan to global pagerank, zero extra shuffles."""
    return pagerank(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        iterations=_PR_ITERS,
        scale=_PR_SCALE,
        damping_pct=_PR_DAMP,
        seeds=_crawl_seeds(spark, sf_dir),
    )


def _o_seeded_pagerank() -> str:
    return _o_pagerank(seed_sql=_CRAWL_SEED_SQL)


_TEXTRANK_K = 20

_O_WORD_GRAPH_CTE = """
wtok AS (
    SELECT doc_id,
           unnest(range(len(ws)))::BIGINT AS pos,
           unnest(ws) AS w
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents) t
),
bi AS (
    SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM wtok
),
edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT w AS src, w1 AS dst FROM bi
        WHERE w1 IS NOT NULL AND w <> w1
        UNION ALL
        SELECT w1 AS src, w AS dst FROM bi
        WHERE w1 IS NOT NULL AND w <> w1) u
)"""


def _q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords: the word-adjacency graph
    (operators/textstats.word_adjacency_edges — posexplode + lead,
    codegen, symmetrized distinct) fed to the SAME fixed-point integer
    pagerank the link face uses, top-k by rank. The oracle composes the
    parameterized pagerank CTE over a word-graph prelude — one operator
    implementation, two graph faces, both hash-proven."""
    from servico_ocr_spark.operators import word_adjacency_edges

    return (
        pagerank(
            word_adjacency_edges(_read(spark, sf_dir, "documents")),
            iterations=_PR_ITERS,
            scale=_PR_SCALE,
            damping_pct=_PR_DAMP,
        )
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(_TEXTRANK_K)
    )


def _o_textrank_keywords() -> str:
    return (
        _o_pagerank(prelude=_O_WORD_GRAPH_CTE).rstrip()
        + f"\nORDER BY rank DESC, node LIMIT {_TEXTRANK_K}\n"
    )


_HITS_ITERS = 3


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer HITS hubs/authorities over the link graph
    (operators/links.hits_scores): the directional complement to
    pagerank — link DIRECTORIES (hubs) vs link TARGETS (authorities).
    Integer max-normalization per half round keeps every value an exact
    BIGINT on both engines; the oracle unrolls the K synchronous rounds
    as nested CTEs (the pagerank/kmeans technique) with the max carried
    by a scalar subquery mirroring Spark's 1-row broadcast."""
    from servico_ocr_spark.operators import hits_scores

    return hits_scores(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        iterations=_HITS_ITERS,
        scale=_PR_SCALE,
    )


def _o_hits(
    prelude: str = _O_LINKS_CTE,
    iters: int = _HITS_ITERS,
    scale: int = _PR_SCALE,
) -> str:
    """Unrolled-CTE integer HITS over any ``prelude`` defining an
    ``edges(src, dst)`` CTE. Each half round: equi-join + sum, then
    ``raw // greatest(max(raw) // scale, 1)`` — the exact integer
    max-normalization of links.hits_scores (all values nonnegative, so
    DuckDB ``//`` ≡ Spark ``div`` here). The generated CTEs are
    ``MATERIALIZED``: each half round references its predecessor twice
    (scalar-subquery max + the division), so DuckDB's default CTE
    inlining would re-expand the chain exponentially across 2·K half
    rounds — measured as a hang at sf0.01 before the annotation."""
    half = (
        ",\n{o}{i}r AS MATERIALIZED (\n"
        "    SELECT e.{out} AS node, sum(f.s)::BIGINT AS raw\n"
        "    FROM edges e JOIN {frm} f ON f.node = e.{key}\n"
        "    GROUP BY e.{out}\n"
        "),\n{o}{i} AS MATERIALIZED (\n"
        "    SELECT node,\n"
        "           (raw // greatest(\n"
        "               (SELECT COALESCE(MAX(raw), 0) FROM {o}{i}r)"
        f" // {scale}, 1))::BIGINT AS s\n"
        "    FROM {o}{i}r\n"
        ")"
    )
    its = []
    for i in range(1, iters + 1):
        its.append(half.format(o="a", i=i, out="dst", key="src",
                               frm=f"h{i - 1}"))
        its.append(half.format(o="h", i=i, out="src", key="dst",
                               frm=f"a{i}"))
    return f"""
WITH {prelude},
hn AS MATERIALIZED (SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst FROM edges) u),
h0 AS MATERIALIZED (SELECT node, {scale}::BIGINT AS s FROM hn){''.join(its)}
SELECT hn.node,
       COALESCE(h{iters}.s, 0)::BIGINT AS hub,
       COALESCE(a{iters}.s, 0)::BIGINT AS auth
FROM hn
LEFT JOIN h{iters} ON h{iters}.node = hn.node
LEFT JOIN a{iters} ON a{iters}.node = hn.node
"""


def _o_crawl_depths() -> str:
    return f"""
WITH RECURSIVE {_O_LINKS_CTE},
seeds AS (
    SELECT DISTINCT 'https://graph.test/d/' || doc_id AS node
    FROM documents
    WHERE doc_id % {_BFS_SEED_MOD} = {_BFS_SEED_RES}
),
walk AS (
    SELECT node, 0 AS depth FROM seeds
    UNION
    SELECT e.dst AS node, w.depth + 1 AS depth
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.depth < {_BFS_HOPS}
)
SELECT node, min(depth)::BIGINT AS depth FROM walk GROUP BY node
"""


_LPA_ITERS = 4


_KCORE_K = 8
_KCORE_ROUNDS = 12
_KCORE_CLIQUE = 17


def _kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Organic link graph ∪ an injected 17-node clique over docs
    0..16 (present at every sf). The organic graph's degrees sit at
    5-11 for ~all nodes, so k=8 peeling cascades it to EMPTY in ≤ 9
    rounds (measured at sf0.001 and sf0.1) — the clique (internal
    degree 16) is the surviving core that makes the fixture
    demonstrative (the decontaminate inject-to-bind lesson)."""
    docs = _read(spark, sf_dir, "documents")
    organic = link_edges(extract_links(_linked_pages(spark, sf_dir)))
    small = docs.where(F.col("doc_id") < _KCORE_CLIQUE).select(
        F.concat(
            F.lit("https://graph.test/d/"), F.col("doc_id").cast("string")
        ).alias("n"),
        "doc_id",
    )
    clique = (
        small.alias("a")
        .join(small.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.n").alias("src"), F.col("b.n").alias("dst"))
    )
    return organic.unionByName(clique)


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling fixpoint (operators/links.kcore, k=8): per round
    one combinable degree agg + two keep-joins, one cut per round,
    the surviving-edge count is both the single action
    and the convergence signal. Early exit ≡ running all rounds
    (post-fixpoint rounds are no-ops), so the fixed-depth unrolled
    oracle reproduces the data-dependent iteration exactly."""
    from servico_ocr_spark.operators import kcore

    return kcore(
        _kcore_edges(spark, sf_dir), k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    )


def _o_kcore() -> str:
    # every e{i} is referenced three times by round i+1 (degree agg ×2
    # endpoints + the keep join) and k{i} twice — MATERIALIZED, or
    # DuckDB inline-re-expands the chain exponentially (the hits lesson)
    cte = [f"""{_O_LINKS_CTE},
cl AS (
    SELECT 'https://graph.test/d/' || a.doc_id AS src,
           'https://graph.test/d/' || b.doc_id AS dst
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < {_KCORE_CLIQUE} AND b.doc_id < {_KCORE_CLIQUE}
),
e0 AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM (SELECT src, dst FROM edges
          UNION ALL SELECT src, dst FROM cl) z
    WHERE src <> dst
)"""]
    for i in range(1, _KCORE_ROUNDS + 1):
        p = f"e{i - 1}"
        cte.append(f""",
k{i} AS MATERIALIZED (
    SELECT node FROM (
        SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p}) x
    GROUP BY node HAVING count(*) >= {_KCORE_K}
),
e{i} AS MATERIALIZED (
    SELECT e.u, e.v FROM {p} e
    JOIN k{i} a ON e.u = a.node
    JOIN k{i} b ON e.v = b.node
)""")
    last = f"e{_KCORE_ROUNDS}"
    return (
        "WITH " + "".join(cte) + f"""
SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last}) x
GROUP BY node
"""
    )


def _q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the link graph
    (operators/links.label_propagation): direction collapsed, each node
    starts as its own label, new label = most frequent neighbor label
    with MIN tie-break — fully deterministic (no visit order, no
    randomness), so the unrolled-CTE oracle reproduces it bit-for-bit.
    The neighbor table is cut once (joined every round); each
    round is join + count + window-max + min-agg, all keyed on node."""
    from servico_ocr_spark.operators import label_propagation

    return label_propagation(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        iterations=_LPA_ITERS,
    )


def _o_communities(
    prelude: str = _O_LINKS_CTE, iters: int = _LPA_ITERS
) -> str:
    """Unrolled-CTE synchronous LPA over any ``prelude`` defining an
    ``edges(src, dst)`` CTE. ``nbr`` is MATERIALIZED (referenced once
    per round — default inlining would re-expand the full links CTE
    K+1 times); the round CTEs form a single-reference chain, the
    pagerank case, so they stay plain."""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(f""",
c{i} AS (
    SELECT n.node, l.label, count(*) AS cnt
    FROM nbr n JOIN l{i - 1} l ON l.node = n.nbr
    GROUP BY n.node, l.label
),
l{i} AS (
    SELECT node, min(label) AS label
    FROM (SELECT node, label, cnt,
                 max(cnt) OVER (PARTITION BY node) AS mx
          FROM c{i}) t
    WHERE cnt = mx GROUP BY node
)""")
    return f"""
WITH {prelude},
und AS (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM edges WHERE src <> dst
),
nbr AS MATERIALIZED (
    SELECT u AS node, v AS nbr FROM und
    UNION ALL SELECT v, u FROM und
),
l0 AS (SELECT DISTINCT node, node AS label FROM nbr){''.join(rounds)}
SELECT node, label FROM l{iters}
"""


#: binds at every sf: the three nav hubs have in-degree n (≥ 500);
#: at sf0.1 the partner.example targets (~143) and the e-hubs (~57)
#: cross it too — the everyone-links-here targets carry no relatedness
#: signal (idf intuition), and C(d,2) pair blowup is the scale hazard.
_COCITE_CAP = 25


def _q_related_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation related-page pairs over the link graph
    (operators/links.cocitation_pairs): pages sharing ≥1 outlink
    target after dropping targets with in-degree > cap, with an
    integer milli-Jaccard over the capped outlink sets. The cap is the
    O(d²) guard AND the signal filter; it binds at every sf via the
    in-degree-n nav hubs."""
    from servico_ocr_spark.operators import cocitation_pairs

    return cocitation_pairs(
        link_edges(extract_links(_linked_pages(spark, sf_dir))),
        max_in_degree=_COCITE_CAP,
    )


def _o_related_pages() -> str:
    return f"""
WITH {_O_LINKS_CTE},
ind AS (SELECT dst FROM edges GROUP BY dst
        HAVING count(*) <= {_COCITE_CAP}),
kept AS (SELECT e.src, e.dst FROM edges e JOIN ind USING (dst)),
outd AS (SELECT src, count(*)::BIGINT AS deg FROM kept GROUP BY src),
pairs AS (
    SELECT e1.src AS a, e2.src AS b, count(*)::BIGINT AS n_common
    FROM kept e1 JOIN kept e2
      ON e1.dst = e2.dst AND e1.src < e2.src
    GROUP BY e1.src, e2.src
)
SELECT p.a, p.b, p.n_common, da.deg AS deg_a, db.deg AS deg_b,
       ((p.n_common * 1000) // (da.deg + db.deg - p.n_common))::BIGINT
           AS jaccard_x1000
FROM pairs p
JOIN outd da ON da.src = p.a
JOIN outd db ON db.src = p.b
"""


# ===========================================================================
# Composed curation pipeline: the faces chained end-to-end
# ===========================================================================


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four faces composed into the C4/RefinedWeb curation chain:
    crawl-identity collapse (latest_crawl over the url fixture, keeping
    one freshest doc per canonical url) → C4 page cleaning over the kept
    docs' punctuated pages → token counting on the CLEAN text →
    deterministic split assignment. Each stage is individually
    oracle-checked elsewhere; this query hash-checks the composition.

    Scale shape: one agg (latest_crawl) + one semi join on doc_id (the
    standard identity-collapse join — bucketable/bloomable at 10^12
    docs; the kept set is O(n), so broadcasting would be wrong) + pure
    projections after that. token_counts and assign_split compose as
    column adds, NOT a self-join of two derivations of the same frame.
    """
    from servico_ocr_spark.operators import assign_split, latest_crawl

    kept = latest_crawl(_url_corpus(spark, sf_dir)).select(
        F.col("keep_id").alias("doc_id")
    )
    docs = _read(spark, sf_dir, "documents").join(
        kept, "doc_id", "left_semi"
    )
    clean = (
        c4_page_clean(c4_text_from_documents(docs))
        .where("page_kept = 1")
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    return assign_split(token_counts(clean)).select(
        "doc_id", "ws_tokens", "bpe_ish_tokens", "n_chars_raw", "split"
    )


def _o_curation_pipeline() -> str:
    """The same chain as nested CTEs, each reusing the standalone
    oracle fragment (parameterized on its input table)."""
    return f"""
WITH kept AS (
    SELECT keep_id AS doc_id FROM ({_o_latest_crawl()}) lc
),
docs AS (
    SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)
),
c4 AS (
    SELECT * FROM ({_o_c4_clean(tbl="docs")}) c
),
clean AS (
    SELECT doc_id, clean_text AS text FROM c4 WHERE page_kept = 1
),
tok AS ({_o_token_counts(tbl="clean")}),
sp AS ({_o_assign_split(tbl="clean")})
SELECT tok.doc_id, tok.ws_tokens, tok.bpe_ish_tokens, tok.n_chars_raw,
       sp.split
FROM tok JOIN sp USING (doc_id)
"""


def _q_chunking_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-set prep over the NEW faces: Gopher quality gate
    -> context-window chunking -> hash split -> per-split rollup (doc /
    chunk / unique-chunk / token counts). The split is a pure function of
    doc_id, so it attaches to the chunk rows as a projection — no join
    anywhere after the keep-filter semi join."""
    from servico_ocr_spark.operators import (
        assign_split,
        chunk_documents,
        gopher_filter,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_GOPHER_INJECT).alias("text")
    )
    keep_ids = (
        gopher_filter(docs, **_GOPHER_THRESHOLDS)
        .where("keep = 1")
        .select("doc_id")
    )
    kept = docs.join(keep_ids, "doc_id", "left_semi")
    chunks = chunk_documents(
        kept, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )
    return (
        # 80/10/10 (vs the standalone query's 98/1/1) so all three
        # splits materialize at every sf
        assign_split(
            chunks, splits=[("train", 80), ("val", 10), ("test", 10)]
        )
        .groupBy("split")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_chunks"),
            F.count_distinct("chunk_h48")
            .cast("long")
            .alias("n_unique_chunks"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def _o_chunking_pipeline() -> str:
    inject = (
        "text || CASE WHEN doc_id % 23 = 4 THEN repeat(' 12345', 30) "
        "ELSE '' END || CASE WHEN doc_id % 29 = 5 THEN "
        "repeat(' pneumonoultramicroscopicsilicovolcanoconiosis', 40) "
        "ELSE '' END"
    )
    return f"""
WITH gdocs AS (
    SELECT doc_id, {inject} AS text FROM documents
),
kept AS (
    SELECT doc_id FROM ({_o_gopher_filter()}) gf WHERE keep = 1
),
kdocs AS (
    SELECT g.doc_id, g.text FROM gdocs g JOIN kept USING (doc_id)
),
ch AS (SELECT * FROM ({_o_chunk_documents(tbl="kdocs")}) c),
sp AS ({_o_assign_split(tbl="kdocs", train=80, val=10)})
SELECT sp.split,
       count(DISTINCT ch.doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_chunks,
       count(DISTINCT ch.chunk_h48)::BIGINT AS n_unique_chunks,
       sum(ch.n_tokens)::BIGINT AS total_tokens
FROM ch JOIN sp ON ch.doc_id = sp.doc_id
GROUP BY sp.split
"""


# ===========================================================================
# contract surface
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline over pages synthesized from
    the sf0.001 documents table; returns the docs table."""
    return _q_extract_docs(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_docs": _q_extract_docs,
        "extract_lineage": _q_extract_lineage,
        "extract_neardups": _q_extract_neardups,
        "html_extract": _q_html_extract,
        "html_spans": _q_html_spans,
        "html_boilerplate_dedup": _q_html_boilerplate_dedup,
        "html_corpus_stats": _q_html_corpus_stats,
        "text_normalize": _q_text_normalize,
        "word_stats": _q_word_stats,
        "dedup_exact_prefix": _q_dedup_exact_prefix,
        "minhash_neardups": _q_minhash_neardups,
        "minhash_calibration": _q_minhash_calibration,
        "source_contamination": _q_source_contamination,
        "incremental_neardups": _q_incremental_neardups,
        "neardup_components": _q_neardup_components,
        "simhash": _q_simhash,
        "simhash_neardups": _q_simhash_neardups,
        "dedup_agreement": _q_dedup_agreement,
        "ngram_jaccard": _q_ngram_jaccard,
        "ngram_containment": _q_ngram_containment,
        "copy_provenance": _q_copy_provenance,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_pairs": _q_winnow_pairs,
        "title_linkage": _q_title_linkage,
        "chain_components": _q_chain_components,
        "neardup_keep_best": _q_neardup_keep_best,
        "hotshingle_neardups": _q_hotshingle_neardups,
        "zipf_neardups": _q_zipf_neardups,
        "ann_brute_topk": _q_ann_brute_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "embedding_neardups": _q_embedding_neardups,
        "semantic_dedup": _q_semantic_dedup,
        "kmeans": _q_kmeans,
        "pq_codes": _q_pq_codes,
        "pq_search": _q_pq_search,
        "ivfpq_search": _q_ivfpq_search,
        "kmeans_summary": _q_kmeans_summary,
        "embedding_dim_stats": _q_embedding_dim_stats,
        "embedding_quantize": _q_embedding_quantize,
        "embedding_outliers": _q_embedding_outliers,
        "bitext_mining": _q_bitext_mining,
        "lang_id": _q_lang_id,
        "source_language": _q_source_language,
        "token_counts": _q_token_counts,
        "token_rarity": _q_token_rarity,
        "char_entropy": _q_char_entropy,
        "bm25_search": _q_bm25_search,
        "bm25_related": _q_bm25_related,
        "hard_negatives": _q_hard_negatives,
        "quality_classifier": _q_quality_classifier,
        "dsir_weights": _q_dsir_weights,
        "classifier_mix": _q_classifier_mix,
        "rrf_fusion": _q_rrf_fusion,
        "bpe_pairs": _q_bpe_pairs,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "tokenizer_fertility": _q_tokenizer_fertility,
        "word_pmi": _q_word_pmi,
        "bigram_lm": _q_bigram_lm,
        "lm_quality": _q_lm_quality,
        "quality_mix": _q_quality_mix,
        "filter_agreement": _q_filter_agreement,
        "skipgram_pairs": _q_skipgram_pairs,
        "quality_score": _q_quality,
        "gopher_filter": _q_gopher_filter,
        "fingerprint": _q_fingerprint,
        "inverted_index": _q_inverted_index,
        "repetition_stats": _q_repetition_stats,
        "length_repetition_corr": _q_length_repetition_corr,
        "topic_tags": _q_topic_tags,
        "word_key_skew": _q_word_key_skew,
        "c4_clean": _q_c4_clean,
        "url_canonical": _q_url_canonical,
        "url_dedup": _q_url_dedup,
        "domain_stats": _q_domain_stats,
        "url_tree": _q_url_tree,
        "crawl_budget": _q_crawl_budget,
        "host_freshness": _q_host_freshness,
        "bloom_crawl_filter": _q_bloom_crawl_filter,
        "link_extract": _q_link_extract,
        "link_graph": _q_link_graph,
        "link_degrees": _q_link_degrees,
        "link_reciprocity": _q_link_reciprocity,
        "degree_distribution": _q_degree_distribution,
        "anchor_stats": _q_anchor_stats,
        "pagerank": _q_pagerank,
        "host_pagerank": _q_host_pagerank,
        "random_walks": _q_random_walks,
        "hits": _q_hits,
        "communities": _q_communities,
        "related_pages": _q_related_pages,
        "triangles": _q_triangles,
        "kcore": _q_kcore,
        "crawl_depths": _q_crawl_depths,
        "seeded_pagerank": _q_seeded_pagerank,
        "textrank_keywords": _q_textrank_keywords,
        "curation_pipeline": _q_curation_pipeline,
        "domain_cap": _q_domain_cap,
        "crawl_schedule": _q_crawl_schedule,
        "frontier_pipeline": _q_frontier_pipeline,
        "robots_filter": _q_robots_filter,
        "latest_crawl": _q_latest_crawl,
        "crawl_delta": _q_crawl_delta,
        "crawl_history": _q_crawl_history,
        "url_dictionary": _q_url_dictionary,
        "host_reputation": _q_host_reputation,
        "rendezvous_shards": _q_rendezvous_shards,
        "pii_scrub": _q_pii_scrub,
        "cdc_dedup": _q_cdc_dedup,
        "decontaminate": _q_decontaminate,
        "assign_split": _q_assign_split,
        "chunk_documents": _q_chunk_documents,
        "chunking_pipeline": _q_chunking_pipeline,
        "pack_sequences": _q_pack_sequences,
        "pack_efficiency": _q_pack_efficiency,
        "token_budget_mix": _q_token_budget_mix,
        "epoch_mix": _q_epoch_mix,
        "span_corruption": _q_span_corruption,
        "stratified_sample": _q_stratified_sample,
        "weighted_sample": _q_weighted_sample,
        "contrastive_negatives": _q_contrastive_negatives,
        "dup_span_removal": _q_dup_span_removal,
        "pricing_summary": _q_pricing_summary,
        "top_revenue_orders": _q_top_revenue_orders,
        "big_orders": _q_big_orders,
        "late_orders": _q_late_orders,
        "blame_suppliers": _q_blame_suppliers,
        "customer_engagement": _q_customer_engagement,
        "never_returned_parts": _q_never_returned_parts,
        "corpus_report": _q_corpus_report,
        "first_orders": _q_first_orders,
        "regional_volume": _q_regional_volume,
        "sessionize": _q_sessionize,
        "funnel_steps": _q_funnel_steps,
        "cohort_retention": _q_cohort_retention,
        "activity_gapfill": _q_activity_gapfill,
        "rolling_activity": _q_rolling_activity,
        "event_transitions": _q_event_transitions,
        "event_trigrams": _q_event_trigrams,
        "rate_anomalies": _q_rate_anomalies,
        "asof_attribution": _q_asof_attribution,
        "conversion_latency": _q_conversion_latency,
        "attribution_window": _q_attribution_window,
        "length_quantiles": _q_length_quantiles,
        "approx_length_quantiles": _q_approx_length_quantiles,
        "value_winsorize": _q_value_winsorize,
        "distinct_sketch": _q_distinct_sketch,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "source_rollup": _q_source_rollup,
        "lang_matrix": _q_lang_matrix,
        "windowed_events": _q_windowed_events,
        "events_json": _q_events_json,
        "warc_extract": _q_warc_extract,
        "token_boxes": _q_token_boxes,
        "repeat_pairs": _q_repeat_pairs,
        "media_features": _q_media_features,
        "frame_samples": _q_frame_samples,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_docs": _O_EXTRACT_DOCS,
        "extract_lineage": _O_EXTRACT_LINEAGE,
        "extract_neardups": _o_extract_neardups(),
        "html_extract": _o_html_extract(),
        "html_spans": _o_html_spans(),
        "html_boilerplate_dedup": _o_html_boilerplate_dedup(),
        "html_corpus_stats": _o_html_corpus_stats(),
        "text_normalize": _O_TEXT_NORMALIZE,
        "word_stats": _O_WORD_STATS,
        "dedup_exact_prefix": _O_DEDUP_EXACT_PREFIX,
        "minhash_neardups": _o_minhash_neardups(),
        "minhash_calibration": _o_minhash_calibration(),
        "source_contamination": _o_source_contamination(),
        "incremental_neardups": _o_incremental_neardups(),
        "neardup_components": _o_neardup_components(),
        "simhash": _o_simhash(),
        "simhash_neardups": _o_simhash_neardups(),
        "dedup_agreement": _o_dedup_agreement(),
        "ngram_jaccard": _o_ngram_jaccard(),
        "ngram_containment": _o_ngram_containment(),
        "copy_provenance": _o_copy_provenance(),
        "winnow_fingerprints": _o_winnow_fingerprints(),
        "winnow_pairs": _o_winnow_pairs(),
        "title_linkage": _O_TITLE_LINKAGE,
        "chain_components": _o_chain_components(),
        "neardup_keep_best": _o_neardup_keep_best(),
        "hotshingle_neardups": _o_hotshingle_neardups(),
        "zipf_neardups": _o_zipf_neardups(),
        "ann_brute_topk": _o_ann_brute_topk(),
        "ann_ivf_topk": _o_ann_ivf_topk(),
        "ann_lsh_topk": _o_ann_lsh_topk(),
        "embedding_neardups": _o_embedding_neardups(),
        "semantic_dedup": _o_semantic_dedup(),
        "kmeans": _o_kmeans(),
        "pq_codes": _o_pq_codes(),
        "pq_search": _o_pq_search(),
        "ivfpq_search": _o_ivfpq_search(),
        "kmeans_summary": _o_kmeans_summary(),
        "embedding_dim_stats": _o_embedding_dim_stats(),
        "embedding_quantize": _o_embedding_quantize(),
        "embedding_outliers": _O_EMBEDDING_OUTLIERS,
        "bitext_mining": _o_bitext_mining(),
        "lang_id": _o_lang_id(),
        "source_language": _o_source_language(),
        "token_counts": _o_token_counts(),
        "token_rarity": _O_TOKEN_RARITY,
        "char_entropy": _o_char_entropy(),
        "bm25_search": _o_bm25_search(),
        "bm25_related": _o_bm25_related(),
        "hard_negatives": _o_hard_negatives(),
        "quality_classifier": _o_quality_classifier(),
        "dsir_weights": _o_dsir_weights(),
        "classifier_mix": _o_classifier_mix(),
        "rrf_fusion": _o_rrf_fusion(),
        "bpe_pairs": _O_BPE_PAIRS,
        "bpe_merges": _o_bpe_merges(),
        "bpe_encode": _o_bpe_encode(),
        "tokenizer_fertility": _o_tokenizer_fertility(),
        "word_pmi": _O_WORD_PMI,
        "bigram_lm": _o_bigram_lm(),
        "lm_quality": _o_lm_quality(),
        "quality_mix": _o_quality_mix(),
        "filter_agreement": _o_filter_agreement(),
        "skipgram_pairs": _o_skipgram_pairs(),
        "quality_score": _o_quality(),
        "gopher_filter": _o_gopher_filter(),
        "fingerprint": _o_fingerprint(),
        "inverted_index": _o_inverted_index(),
        "repetition_stats": _o_repetition_stats(),
        "length_repetition_corr": _o_length_repetition_corr(),
        "topic_tags": _o_topic_tags(),
        "word_key_skew": _o_word_key_skew(),
        "c4_clean": _o_c4_clean(),
        "url_canonical": _o_url_canonical(),
        "url_dedup": _o_url_dedup(),
        "domain_stats": _o_domain_stats(),
        "url_tree": _o_url_tree(),
        "crawl_budget": _o_crawl_budget(),
        "host_freshness": _o_host_freshness(),
        "bloom_crawl_filter": _o_bloom_crawl_filter(),
        "link_extract": _o_link_extract(),
        "link_graph": _o_link_graph(),
        "link_degrees": _o_link_degrees(),
        "link_reciprocity": _o_link_reciprocity(),
        "degree_distribution": _o_degree_distribution(),
        "anchor_stats": _o_anchor_stats(),
        "pagerank": _o_pagerank(),
        "host_pagerank": _o_host_pagerank(),
        "random_walks": _o_random_walks(),
        "hits": _o_hits(),
        "communities": _o_communities(),
        "related_pages": _o_related_pages(),
        "triangles": _o_triangles(),
        "kcore": _o_kcore(),
        "crawl_depths": _o_crawl_depths(),
        "seeded_pagerank": _o_seeded_pagerank(),
        "textrank_keywords": _o_textrank_keywords(),
        "curation_pipeline": _o_curation_pipeline(),
        "domain_cap": _o_domain_cap(),
        "crawl_schedule": _o_crawl_schedule(),
        "frontier_pipeline": _o_frontier_pipeline(),
        "robots_filter": _o_robots_filter(),
        "latest_crawl": _o_latest_crawl(),
        "crawl_delta": _o_crawl_delta(),
        "crawl_history": _O_CRAWL_HISTORY,
        "url_dictionary": _o_url_dictionary(),
        "host_reputation": _o_host_reputation(),
        "rendezvous_shards": _o_rendezvous_shards(),
        "pii_scrub": _o_pii_scrub(),
        "cdc_dedup": _o_cdc_dedup(),
        "decontaminate": _o_decontaminate(),
        "assign_split": _o_assign_split(),
        "chunk_documents": _o_chunk_documents(),
        "chunking_pipeline": _o_chunking_pipeline(),
        "pack_sequences": _o_pack_sequences(),
        "pack_efficiency": _o_pack_efficiency(),
        "token_budget_mix": _o_token_budget_mix(),
        "epoch_mix": _o_epoch_mix(),
        "span_corruption": _o_span_corruption(),
        "stratified_sample": _o_stratified_sample(),
        "weighted_sample": _o_weighted_sample(),
        "contrastive_negatives": _o_contrastive_negatives(),
        "dup_span_removal": _o_dup_span_removal(),
        "pricing_summary": _O_PRICING_SUMMARY,
        "top_revenue_orders": _O_TOP_REVENUE_ORDERS,
        "big_orders": _O_BIG_ORDERS,
        "late_orders": _O_LATE_ORDERS,
        "blame_suppliers": _O_BLAME_SUPPLIERS,
        "customer_engagement": _O_CUSTOMER_ENGAGEMENT,
        "never_returned_parts": _O_NEVER_RETURNED_PARTS,
        "corpus_report": _o_corpus_report(),
        "first_orders": _O_FIRST_ORDERS,
        "regional_volume": _O_REGIONAL_VOLUME,
        "sessionize": _O_SESSIONIZE,
        "funnel_steps": _o_funnel_steps(),
        "cohort_retention": _O_COHORT_RETENTION,
        "activity_gapfill": _O_ACTIVITY_GAPFILL,
        "rolling_activity": _O_ROLLING_ACTIVITY,
        "event_transitions": _O_EVENT_TRANSITIONS,
        "event_trigrams": _O_EVENT_TRIGRAMS,
        "rate_anomalies": _o_rate_anomalies(),
        "asof_attribution": _O_ASOF_ATTRIBUTION,
        "conversion_latency": _O_CONVERSION_LATENCY,
        "attribution_window": _O_ATTRIBUTION_WINDOW,
        "length_quantiles": _O_LENGTH_QUANTILES,
        "approx_length_quantiles": _O_APPROX_LENGTH_QUANTILES,
        "value_winsorize": _O_VALUE_WINSORIZE,
        "distinct_sketch": _O_DISTINCT_SKETCH,
        "cms_heavy_hitters": _o_cms_heavy_hitters(),
        "source_rollup": _O_SOURCE_ROLLUP,
        "lang_matrix": _O_LANG_MATRIX,
        "windowed_events": _O_WINDOWED_EVENTS,
        "events_json": _O_EVENTS_JSON,
        "warc_extract": _O_WARC_EXTRACT,
        "token_boxes": _o_token_boxes(),
        "repeat_pairs": _o_repeat_pairs(),
        "media_features": _O_MEDIA_FEATURES,
        "frame_samples": _o_frame_samples(),
    }
