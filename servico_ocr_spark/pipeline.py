"""The extraction runner of both faces: pages → one analysis row per page.

A face (:class:`Face`) is data: a per-document kernel ``(url, html) →
dict``, an output schema, and whether its rows are balanced first. OCR
(:func:`analyze_page_row`, ANALYSIS_SCHEMA) is; web (:func:`web_page_row`,
WEB_ANALYSIS_SCHEMA) is not. :func:`extract` runs either, and everything
around the kernel is written once: staging, the one Arrow boundary, error
and lineage columns (:func:`document_row`), resume and the write.

Spark-first design notes (this is where the 100 TB story lives):

* **One boundary.** One input row = one document, and every analysis
  stage is per-document, so each face is a single ``mapInArrow`` over the
  scan (``boundary.map_documents``) — no groupBy or join in the hot path.
  The reference's process-pool fan-out (app/util_fila.py) becomes plain
  Spark task parallelism.
* **Skew.** Catalyst can't see document weight inside the UDF, so weight is
  handled in data space: a cheap page-count estimate is parsed from the
  payload header JVM-side, and :func:`weighted_repartition` spreads heavy
  documents round-robin across partitions (the north_star's "salted
  repartition by estimated page count"). The ranking window is partitioned
  by a url-hash group so no single-task global sort exists at scale.
* **Resume / idempotence.** The reference's folder-queue lifecycle
  (entrada → processando → saida|erro, app/util_processar_pasta.py:48-63)
  becomes: anti-join the input against already-written lineage urls, then
  append. Re-running after a crash never duplicates and never recomputes
  finished documents (J4 — the cache-hit anti-join of
  app/app_controller.py:77-79 is the same pattern).
* **Lineage and error isolation.** Every row carries ``partition_id``
  (the task that ran the kernel), ``status``, ``error`` and ``dthr``. A
  document whose kernel raises (junk bytes, Faixa-geometry crash)
  produces a status='erro' row with the reference error message
  (app/util_processar_pasta.py:412-421) instead of failing the job.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import partial
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from .boundary import map_documents
from .core.analyze import (
    analyze_document,
    assemble_text,
    document_stats,
)
from .core.html_extract import extract_main
from .core.render import filter_regions, render_html, render_markdown
from .core.tokenizer import document_tokens
from .corpus import parse_payload
from .schemas import (
    ANALYSIS_SCHEMA, DOCS_COLUMNS, LINEAGE_COLUMNS, WEB_ANALYSIS_SCHEMA,
)

JOB_TS = "2026-01-01 00:00:00"  # deterministic dthr (reference X8 format)
HEAVY_PAGE_THRESHOLD = 8
WEIGHT_COL = "est_pages"  # per-row weight weighted_repartition balances
RANK_GROUPS = 64  # url-hash groups heavy rows are rank-ordered within


def analyze_page_row(url: str, html: bytes, renders: bool = True):
    """Pure per-document analysis used by both the Spark stage and the
    pytest oracle; the OCR face's kernel. Returns a dict matching
    ANALYSIS_SCHEMA minus the lineage columns.

    ``renders=False`` skips the md/html render strings (columns stay in
    the schema as NULL). The renders roughly double per-document output
    bytes (each embeds the full text again), and on a bandwidth-bound
    box that Arrow mass is what caps high-core-count throughput — a
    training-data pipeline that only needs text/spans/stats should not
    pay for presentation artifacts it never writes. Analysis semantics
    (boxes, text, spans, stats) are byte-identical either way
    (test_renders_flag_only_affects_render_columns)."""
    payload = parse_payload(html)
    tokens = document_tokens(url, payload.get("text") or "", payload["archetype"])
    boxes, n_pages, conf_sum, conf_count = analyze_document(tokens)
    extracted_text, spans = assemble_text(boxes)
    clean_boxes = filter_regions(
        boxes, keep_header=False, keep_stamps=False, keep_quotes=True
    )
    clean_text = "\n\n".join(b["texto"] for b in clean_boxes)
    n_chars, n_words = document_stats(boxes)
    return {
        "url": url,
        "status": "ok",
        "error": None,
        "paginas": n_pages,
        "n_boxes": len(boxes),
        "mean_conf": (conf_sum / conf_count) if conf_count else None,
        "qtd_letras": n_chars,
        "qtd_palavras": n_words,
        "pagina_tipo": boxes[0]["pagina_tipo"] if boxes else None,
        "extracted_text": extracted_text,
        "clean_text": clean_text,
        "md": render_markdown(boxes) if renders else None,
        "html_render": render_html(boxes) if renders else None,
        "spans": spans,
        "boxes": boxes,
    }


def web_page_row(url: str, html: bytes) -> dict:
    """The web face's kernel: ``core.html_extract.extract_main`` in the
    shape of WEB_ANALYSIS_SCHEMA. Total: corrupt bytes decode with
    replacement and the parser never raises."""
    r = extract_main(html)
    r["spans"] = [{"start": start, "end": end} for start, end in r["spans"]]
    return r


@dataclass(frozen=True)
class Face:
    """What differs between the extraction faces — data, not a code path.

    ``kernel(url, html)`` returns one document's output columns and may
    raise; ``schema`` is the output row (kernel columns plus lineage);
    ``balanced`` routes the rows through :func:`with_page_estimate` and
    :func:`weighted_repartition` first. The web face is not balanced, so
    its plan has no exchange (HTML bytes per page vary ~10², not the 10⁴
    of multipage PDFs)."""

    kernel: Callable[[str, bytes], dict]
    schema: StructType
    balanced: bool


FACES = {
    "ocr": Face(analyze_page_row, ANALYSIS_SCHEMA, balanced=True),
    "web": Face(web_page_row, WEB_ANALYSIS_SCHEMA, balanced=False),
}


def document_row(kernel: Callable[[str, bytes], dict], row: dict) -> dict:
    """The per-document wrapper of every face: one staged row (url, html,
    partition_id[, est_pages]) → one output row with the lineage columns.
    A kernel that raises yields a ``status='erro'`` row with the
    reference error message (app/util_processar_pasta.py:412-421) and
    NULL outputs instead of failing the job."""
    url = row["url"]
    try:
        out = kernel(url, row["html"])
        out["status"] = "ok"
    except Exception as exc:
        # reference error status: f'Erro: {msg[:30]}...'
        # (app/util_processar_pasta.py:418)
        msg = str(exc)
        if len(msg) > 30:
            msg = msg[:30] + "..."
        out = {"status": "erro", "error": f"Erro: {msg}"}
    # the schemas declare url non-null, so a null url fails the task
    # loudly instead of writing a keyless row
    out["url"] = url
    out["partition_id"] = row["partition_id"]
    out["est_pages"] = row.get("est_pages")
    out["dthr"] = JOB_TS
    return out


def with_page_estimate(pages: DataFrame) -> DataFrame:
    """JVM-side page-count estimate from the payload prefix (n_pages field);
    corrupt/undecodable payloads fall back to 1. Analogous to the
    reference's DPI/page knowledge before rasterizing (app/util_pdf_ocr.py:26-31).
    """
    # substring the BINARY first — cast(html as string) would materialize
    # the whole payload per row just to read a 120-byte header
    prefix = F.substring(F.col("html"), 1, 120).cast("string")
    est = F.regexp_extract(prefix, r'"n_pages":(\d+)', 1)
    # regexp_extract yields '' on no match; try_cast keeps ANSI mode happy
    return pages.withColumn(
        "est_pages",
        F.coalesce(est.try_cast("long"), F.lit(1)).alias("est_pages"),
    )


_PARTITION_SALTS: dict[int, list[int]] = {}


def _partition_salts(spark: SparkSession, num_partitions: int) -> list[int]:
    """For each target partition t, a long ``s_t`` with
    ``pmod(murmur3(s_t), P) == t`` — so ``repartition(P, col)`` on a
    column holding ``s_t`` routes the row to exactly partition t.
    DataFrame repartition only ever hash-partitions; this inverts the
    hash once per P (one tiny job over 64·P candidate longs, memoized)
    to get deterministic explicit placement without dropping to RDDs."""
    if num_partitions not in _PARTITION_SALTS:
        cand = spark.range(0, num_partitions * 64).select(
            "id", F.pmod(F.hash("id"), F.lit(num_partitions)).alias("t")
        )
        salts: dict[int, int] = {}
        for row in cand.collect():
            salts.setdefault(row["t"], row["id"])
        assert len(salts) == num_partitions
        _PARTITION_SALTS[num_partitions] = [
            salts[t] for t in range(num_partitions)
        ]
    return _PARTITION_SALTS[num_partitions]


def weighted_repartition(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Skew-aware repartition: heavy rows are dealt round-robin within
    their url-hash group; light rows spread by full-entropy url hash (at
    10^12-doc scale they are uniform by the law of large numbers).

    Heavy rows are rank-ordered by weight inside ``RANK_GROUPS`` url-hash
    groups (a distributed window — never a global sort), and row with
    rank r of group g goes to partition ``pmod(hash(g) + r − 1, P)`` via
    the murmur-salt table: each group's weight-sorted rank run deals
    round-robin from a group-specific start, so a burst of 500-page PDFs
    spreads across all partitions (measured max/mean partition weight
    ~1.1 in the dense regime, vs ~1.8 for hashing the coarse (rank,
    group) key — balls-into-bins). When heavy docs number only ~P the
    per-group starts are independent and the residual imbalance is
    binomial — the coordination-free floor; an exact cross-group
    enumeration needs a second full input scan (est_pages derives from
    the payload header, so nothing prunable) and was rejected as worse
    at scale. NOTE: first use per ``num_partitions`` runs a tiny
    memoized salt-table job at plan-construction time.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    salts = _partition_salts(df.sparkSession, num_partitions)
    salt_arr = F.array(*[F.lit(s) for s in salts])

    heavy = F.col(WEIGHT_COL) >= F.lit(HEAVY_PAGE_THRESHOLD)
    group = F.pmod(F.xxhash64("url"), F.lit(RANK_GROUPS))
    win = Window.partitionBy(group).orderBy(F.desc(WEIGHT_COL), "url")
    # heavy rows sort before light within each group (weight desc), so
    # row_number restricted to heavy rows IS their in-group weight rank
    rank = F.row_number().over(win)
    # target partition: consecutive ranks of a group deal round-robin
    # from a group-specific random start — a group's weight-sorted run
    # spreads perfectly; cross-group starts are independent rotations.
    # (A dense cross-group enumeration would need either a second pass
    # over the input or a global sort — both worse at scale than the
    # residual binomial imbalance this leaves when heavy docs are fewer
    # than ~10× partitions.)
    # long arithmetic: hash() and row_number() are 32-bit, and ANSI mode
    # turns the int overflow (hash near Int.MaxValue + tens of millions
    # of heavy rows in one group) into a job-killing exception
    target = F.pmod(
        F.hash(group.cast("long")).cast("long") + rank.cast("long") - 1,
        F.lit(num_partitions),
    )
    # element_at(salt_arr, t+1) routes EXACTLY to partition t: salts[t]
    # murmur-hashes onto t under repartition's HashPartitioning. Hashing
    # the (rank, group) pair directly is balls-into-bins over a small key
    # set — some partitions get 3 heavy docs, some 0, and the stragglers
    # own the wall clock.
    salted = df.withColumn(
        "_pk",
        F.when(
            heavy, F.element_at(salt_arr, (target + 1).cast("int"))
        ).otherwise(F.xxhash64("url")),
    )
    return salted.repartition(num_partitions, "_pk").drop("_pk")


def extract(
    pages: DataFrame, face: Face, num_partitions: int | None = None
) -> DataFrame:
    """The one extraction runner: pages → one ``face.schema`` row per page.

    Selects ``(url, html)``, balances when the face asks for it (into
    ``num_partitions``, default the session's parallelism), tags each row
    with ``partition_id`` and crosses into Python once through
    :func:`boundary.map_documents` with :func:`document_row` around the
    face's kernel. Lazy apart from the one-time salt-table probe in
    :func:`weighted_repartition` (tiny, memoized per partition count)."""
    staged = pages.select("url", "html")
    if face.balanced:
        staged = weighted_repartition(
            with_page_estimate(staged), num_partitions=num_partitions
        )
    # evaluated in the kernel's own task (no exchange in between), so it
    # names the task that ran the kernel on the row
    staged = staged.withColumn("partition_id", F.spark_partition_id())
    return map_documents(
        staged, partial(document_row, face.kernel), face.schema
    )


def run_extraction(
    pages: DataFrame,
    num_partitions: int | None = None,
    renders: bool = True,
) -> DataFrame:
    """The OCR face: pages → analysis DataFrame (ANALYSIS_SCHEMA); callers
    split it into docs/boxes/lineage with the selectors below or write it
    once with :func:`write_analysis`.

    ``renders=False`` leaves the md/html_render columns NULL (same
    schema): skips the per-doc render compute AND roughly halves the
    Arrow/output bytes per document — the lever for text-only consumers
    (see :func:`analyze_page_row`).
    """
    face = FACES["ocr"]
    if not renders:
        face = replace(face, kernel=partial(analyze_page_row, renders=False))
    return extract(pages, face, num_partitions)


def docs_table(analysis: DataFrame) -> DataFrame:
    return analysis.where(F.col("status") == "ok").select(*DOCS_COLUMNS)


def boxes_table(analysis: DataFrame) -> DataFrame:
    """Exploded per-box table keyed (url, pagina, id)."""
    return (
        analysis.where(F.col("status") == "ok")
        .select("url", F.explode("boxes").alias("b"))
        .select("url", "b.*")
    )


def lineage_table(analysis: DataFrame) -> DataFrame:
    return analysis.select(*LINEAGE_COLUMNS)


def write_analysis(analysis: DataFrame, path: str) -> None:
    """Append the analysis table to ``path`` (Iceberg-style parquet
    append; swap for ``writeTo(...).append()`` when an Iceberg catalog is
    configured).

    Assumes one writer per table, as the resume anti-join before it does.
    A job that crashed before its job commit leaves committed tasks under
    ``<path>/_temporary``; Hadoop's committer would publish them with this
    append (duplicating rows), and a bare file there makes it delete the
    output directory. Nothing under it was ever published, so its urls
    are not in the committed table: delete it first and reprocess them."""
    spark = analysis.sparkSession
    temporary = spark._jvm.org.apache.hadoop.fs.Path(path, "_temporary")
    temporary.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
        temporary, True
    )
    analysis.write.mode("append").parquet(path)


_NOTHING_COMMITTED = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def resume_filter(
    spark: SparkSession, pages: DataFrame, output_path: str
) -> DataFrame:
    """Checkpoint/resume: drop pages whose url already has an output row
    (left anti join — the J4 cache-hit pattern). An output dir that does
    not exist, or holds no committed data file (a first run that crashed
    before its job commit leaves only ``_temporary``), means a fresh run.
    Any other read failure — an unreadable or corrupt table — is raised:
    treating it as empty would reprocess and append every page again."""
    try:
        done = spark.read.parquet(output_path).select("url")
    except AnalysisException as exc:
        if exc.getCondition() not in _NOTHING_COMMITTED:
            raise
        return pages
    return pages.join(done, "url", "left_anti")


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    num_partitions: int | None = None,
    face: str = "ocr",
) -> None:
    """Checkpointed, resumable batch run of one face (``"ocr"`` or
    ``"web"``): anti-join processed → extract → append. Safe to re-run
    after a crash; every url is written exactly once."""
    todo = resume_filter(spark, pages, output_path)
    write_analysis(extract(todo, FACES[face], num_partitions), output_path)
