"""Service-compat facade: the reference's Flask/controller surface as
library functions over the engine tables.

A user of the reference interacts through uploads, cached lookups, region
filters and rendered views (app/servico.py, app/app_controller.py). Each
maps to one function here, so switching to this engine preserves the
workflow:

| reference | here |
|---|---|
| upload + md5 id + cache check (app/app_controller.py:48-123) | :func:`submit_documents` (anti-join dedupe, id = md5(bytes)) |
| `get_html_id` / `get_md_id` + `filtrar_dados` (app/app_controller.py:26-46,127-139) | :func:`rendered_view` |
| token→doc relation (app/util_tokens.py) | :func:`register_tokens` / :func:`list_tasks` |
| `WorkerQueue.map_threads/map_process` (app/util_fila.py:202-228) | :func:`parallel_map` (order-preserving, like the result sort at app/util_fila.py:180-181) |
| `/health` freshness (app/servico.py:38-47) | :func:`health` |
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .boundary import map_documents
from .core.render import filter_regions, render_html, render_markdown
from .pipeline import resume_filter, run_extraction, write_analysis


def submit_documents(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    num_partitions: int | None = None,
) -> int:
    """Upload path: dedupe against the processed table (cache hit = skip,
    J4) and analyze + append only the new urls. Returns the number of
    newly processed documents."""
    todo = resume_filter(spark, pages, output_path)
    n_new = todo.count()
    if n_new:
        write_analysis(run_extraction(todo, num_partitions=num_partitions),
                       output_path)
    return n_new


def document_id(html: bytes, extension: str = "") -> str:
    """Content id = md5(bytes) + extension (app/app_controller.py:71)."""
    import hashlib

    return hashlib.md5(bytes(html)).hexdigest() + extension


def rendered_view(
    analysis: DataFrame,
    url: str,
    fmt: str = "html",
    keep_header: bool = False,
    keep_stamps: bool = False,
    keep_quotes: bool = True,
) -> str | None:
    """Filtered render of one document (the `filtro_md` ca/es/ci flags,
    app/servico.py:75-78). Returns None for unknown or errored urls."""
    row = analysis.where(F.col("url") == url).select("status", "boxes").first()
    if row is None or row["status"] != "ok":
        return None
    boxes = [b.asDict(recursive=True) for b in row["boxes"]]
    kept = filter_regions(boxes, keep_header, keep_stamps, keep_quotes)
    return render_markdown(kept) if fmt == "md" else render_html(kept)


def register_tokens(spark: SparkSession, pairs: list) -> DataFrame:
    """(token, url) many-to-many relation (app/util_tokens.py:93-98)."""
    return spark.createDataFrame(pairs, "token string, url string")


def list_tasks(tokens: DataFrame, lineage: DataFrame, token: str) -> DataFrame:
    """User task list: token relation ⋈ status (TokensUsuario.listar_tarefas,
    app/util_tokens.py:29-84) — a broadcast equi-join, ordered like the
    reference's by-name sort (:83)."""
    return (
        tokens.where(F.col("token") == token)
        .join(F.broadcast(lineage), "url")
        .select("url", "status", "dthr", "paginas", "n_boxes")
        .orderBy("url")
    )


def parallel_map(
    spark: SparkSession, fn: Callable, values: list,
    num_partitions: int | None = None,
) -> list:
    """WorkerQueue.map_threads/map_process replacement: distribute ``fn``
    over ``values`` as one Arrow stage; results come back in input order
    (the reference sorts by enqueue counter, app/util_fila.py:180-181).

    ``fn`` must be picklable and return something JSON-serializable.
    """
    import json

    df = spark.createDataFrame(
        [(i, json.dumps(v)) for i, v in enumerate(values)], "i long, v string"
    )
    if num_partitions:
        df = df.repartition(num_partitions)

    def per_value(row: dict) -> dict:
        return {"i": row["i"], "r": json.dumps(fn(json.loads(row["v"])))}

    out = map_documents(
        df, per_value, StructType.fromDDL("i long, r string")).collect()
    return [json.loads(r["r"]) for r in sorted(out, key=lambda r: r["i"])]


def health(lineage: DataFrame, job_ts: str, max_age_minutes: int = 5) -> bool:
    """Freshness check (app/util_processar_pasta.py:212-233): is the newest
    lineage row within the window of ``job_ts``? Timestamps use the
    reference's '%Y-%m-%d %H:%M:%S' format (app/util.py:101-105)."""
    import datetime as dt

    newest = lineage.agg(F.max("dthr")).first()[0]
    if newest is None:
        return False
    fmt = "%Y-%m-%d %H:%M:%S"
    age = (dt.datetime.strptime(job_ts, fmt)
           - dt.datetime.strptime(newest, fmt)).total_seconds()
    return age <= max_age_minutes * 60
