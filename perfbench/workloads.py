"""The benchmark's workloads: inputs from a seed, one timed pass, checks.

Every input derives from the sf0.1 ``documents`` table kept next to this
file. The seed salts the doc ids, and through them the urls, which moves
archetype assignment, the corrupt rows and partition placement while
leaving sizes unchanged. The program only ever sees the generated tables.
"""

from __future__ import annotations

import json
import random
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import tracing

HERE = Path(__file__).resolve().parent
DOCUMENTS = HERE / "data" / "documents.parquet"
PINNED = HERE / "pinned.json"
#: the seed whose full-table digests are pinned in ``pinned.json``
PINNED_SEED = 0
SEED_STRIDE = 1_000_003
#: seeds are taken modulo this many salts: the corpus turns a doc id into
#: seconds after 2026-01-01, so salted ids must stay well below 2.5e11
SEED_SALTS = 100_000
#: replicas of one sf0.1 doc get ids this far apart (sf0.1 ids are < 5000)
REPLICA_STRIDE = 10_000
#: about one url in this many is checked against a single-process reference
SAMPLE_EVERY = 16
#: input rows replayed through the per-doc functions in the traced run;
#: enough that ten samples lie beyond the p99 once corrupt rows are skipped
REPLAY_DOCS = 1200


@dataclass
class Run:
    """What one benchmark process shares with its workload."""

    spark: object
    seed: int
    cores: int
    tracer: tracing.Tracer = field(default_factory=tracing.Tracer)

    @property
    def partitions(self) -> int:
        return 4 * self.cores


@dataclass
class PassCheck:
    attempted: int
    failed: int
    matched: int
    checked: int
    rows: int
    bytes: int
    files: int


def seed_salt(seed: int) -> int:
    """What the seed adds to every doc id: never negative, and small enough
    for the corpus's timestamps whatever integer the seed is."""
    return (seed % SEED_SALTS) * SEED_STRIDE


def seeded_documents(spark, seed: int, n_docs: int, replicas: int = 1):
    """The first ``n_docs`` sf0.1 documents, ``replicas`` times, with ids
    salted by the seed (any integer)."""
    from pyspark.sql import functions as F

    salt = seed_salt(seed)
    base = spark.read.parquet(str(DOCUMENTS)).where(F.col("doc_id") < n_docs)
    out = None
    for r in range(replicas):
        part = base.withColumn(
            "doc_id", F.col("doc_id") + salt + r * REPLICA_STRIDE)
        out = part if out is None else out.unionByName(part)
    return out


def parquet_size(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files of a parquet directory."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def noop(df) -> None:
    """Compute every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """The benchmark's own ``mapInPandas`` body: the boundary and nothing
    else."""
    yield from batches


def boundary_only(df):
    """``df`` through the Arrow boundary and back, unchanged. ``df`` is built
    once: building a repartitioned plan runs jobs of its own."""
    return df.mapInPandas(identity_batches, df.schema)


def load_pinned(workload: str):
    if not PINNED.exists():
        return None
    return json.loads(PINNED.read_text()).get(workload)


# ---------------------------------------------------------------------------
# extraction workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    #: why the benchmark has this workload (BENCHMARK.json repeats it)
    why = ""
    warm_passes = 2
    #: timed passes per run, however short the run
    min_passes = 3

    def prefill(self, run: Run) -> None:
        """Untimed state the passes start from, built once per run."""

    def before_pass(self, run: Run, out: Path) -> None:
        """Untimed preparation of one pass's output directory."""


class Extraction(Workload):
    """A workload that turns a pages parquet into a committed table."""

    face = "ocr"
    n_docs = 0
    replicas = 1

    @property
    def outputs(self):
        return checks.OCR_OUTPUTS if self.face == "ocr" else checks.WEB_OUTPUTS

    def pages(self, run: Run):
        from servico_ocr_spark import corpus

        docs = seeded_documents(run.spark, run.seed, self.n_docs, self.replicas)
        if self.face == "ocr":
            return corpus.pages_from_documents(docs)
        # the web face has no repartition, so the input file count sets
        # its parallelism
        return corpus.html_pages_from_documents(docs).repartition(run.partitions)

    def build_input(self, run: Run, dest: Path) -> None:
        self.pages(run).write.parquet(str(dest / "pages"))
        self.input = dest

    @property
    def pages_path(self) -> str:
        return str(self.input / "pages")

    def timed_pass(self, run: Run, out: Path) -> None:
        from servico_ocr_spark import pipeline, sources

        pages = sources.read_pages(run.spark, self.pages_path)
        pipeline.write_analysis(self.analysis(run, pages), str(out))

    def analysis(self, run: Run, pages, renders: bool = True):
        from servico_ocr_spark import pipeline
        from servico_ocr_spark.operators import webtext

        if self.face == "ocr":
            return pipeline.run_extraction(
                pages, num_partitions=run.partitions, renders=renders)
        return webtext.web_analysis(pages)

    def docs_per_pass(self) -> int:
        return self.n_input

    # -- reference -------------------------------------------------------

    def prepare_reference(self, run: Run) -> None:
        """The reference status of every input url it covers, and the
        single-process reference digest of every sampled url.

        The sample covers about one url in ``SAMPLE_EVERY``; for the pinned
        seed, ``pinned.json`` adds every url's status and a digest of every
        url's outputs, taken when the benchmark was defined."""
        table = pq.read_table(self.pages_path, columns=["url", "html"])
        self.pinned = None
        pin = load_pinned(self.name) if run.seed == PINNED_SEED else None
        if pin is not None and pin["input"] != input_fingerprint(table):
            raise SystemExit(
                f"{self.name}: pinned digests are for another input than "
                "this benchmark builds; pin the new input in its own change")
        erro = set(pin["erro"]) if pin is not None else set()
        self.expected: dict[str, str | None] = {}
        self.reference: dict[str, str] = {}
        for row in table.to_pylist():
            url, html = row["url"], row["html"]
            if pin is not None:
                self.expected[url] = "erro" if url in erro else "ok"
            else:
                self.expected[url] = "ok" if self.face == "web" else None
            if not checks.in_sample(url, SAMPLE_EVERY):
                continue
            ref = self.reference_row(url, html)
            self.reference[url] = checks.row_digest(ref, self.outputs)
            self.expected[url] = ref["status"]
        if pin is not None:
            self.pinned = pin["buckets"]
        self.n_input = len(self.expected)

    def reference_row(self, url: str, html: bytes) -> dict:
        """One url's row from a single-process call of the face's kernel."""
        from servico_ocr_spark import pipeline
        from servico_ocr_spark.core.html_extract import extract_main

        if self.face == "web":
            return checks.web_reference_row(url, extract_main(html))
        try:
            return pipeline.analyze_page_row(url, html)
        except Exception:  # the pipeline's error side-output
            return checks.ocr_error_row(url)

    def committed(self, out: Path) -> list[dict]:
        return pq.read_table(
            str(out), columns=["url", "status", *self.outputs]).to_pylist()

    def check(self, out: Path) -> PassCheck:
        rows = self.committed(out)
        failed = checks.fail_count(rows, self.expected)
        matched, checked = checks.match_count(
            rows, self.outputs, self.reference, self.pinned, self.expected)
        nbytes, files = parquet_size(out)
        return PassCheck(len(self.expected), failed, matched, checked,
                         len(rows), nbytes, files)

    # -- traced run ------------------------------------------------------

    def plans(self, run: Run, out: Path) -> list[tuple[str, object]]:
        """Cumulative plans over the same input, each adding one layer; the
        differences between consecutive walls are the layer walls."""
        from servico_ocr_spark import pipeline, sources

        spark, P = run.spark, run.partitions

        def scan():
            return sources.read_pages(spark, self.pages_path).select("url", "html")

        def staged():
            return pipeline.weighted_repartition(
                pipeline.with_page_estimate(scan()), num_partitions=P)

        if self.face == "web":
            return [
                ("scan", lambda: noop(scan())),
                ("boundary", lambda: noop(boundary_only(scan()))),
                ("kernel", lambda: noop(self.analysis(run, scan()))),
                ("write", lambda: self.timed_pass(run, out)),
            ]
        return [
            ("scan", lambda: noop(scan())),
            ("estimate", lambda: noop(pipeline.with_page_estimate(scan()))),
            ("exchange", lambda: noop(staged())),
            ("boundary", lambda: noop(boundary_only(staged()))),
            ("kernel", lambda: noop(self.analysis(run, scan(), renders=False))),
            ("render", lambda: noop(self.analysis(run, scan()))),
            ("write", lambda: self.timed_pass(run, out)),
        ]

    def replay(self) -> dict[str, list[float]]:
        """Per-doc µs of each layer's public function, single process, over
        the first ``REPLAY_DOCS`` input rows."""
        rows = pq.read_table(self.pages_path, columns=["url", "html"]).slice(
            0, REPLAY_DOCS).to_pylist()
        if self.face == "web":
            from servico_ocr_spark.core.html_extract import extract_main

            us = []
            for r in rows:
                t = time.perf_counter_ns()
                extract_main(r["html"])
                us.append((time.perf_counter_ns() - t) / 1000)
            return {"html_extract": us}
        from servico_ocr_spark.core.analyze import (
            analyze_document, assemble_text, document_stats)
        from servico_ocr_spark.core.geometry import FaixaGeometryError
        from servico_ocr_spark.core.render import (
            filter_regions, render_html, render_markdown)
        from servico_ocr_spark.core.tokenizer import document_tokens
        from servico_ocr_spark.corpus import parse_payload

        out: dict[str, list[float]] = {
            "parse": [], "tokenizer": [], "analyze": [], "render": []}
        clock = time.perf_counter_ns
        for r in rows:
            t0 = clock()
            try:
                payload = parse_payload(r["html"])
            except ValueError:
                continue  # corrupt row: the pipeline's error path
            t1 = clock()
            tokens = document_tokens(r["url"], payload.get("text") or "",
                                     payload["archetype"])
            t2 = clock()
            out["parse"].append((t1 - t0) / 1000)
            out["tokenizer"].append((t2 - t1) / 1000)
            try:
                boxes, *_ = analyze_document(tokens)
            except FaixaGeometryError:
                continue  # the pipeline's error path
            assemble_text(boxes)
            document_stats(boxes)
            t3 = clock()
            filter_regions(boxes, keep_header=False, keep_stamps=False,
                           keep_quotes=True)
            render_markdown(boxes)
            render_html(boxes)
            t4 = clock()
            out["analyze"].append((t3 - t2) / 1000)
            out["render"].append((t4 - t3) / 1000)
        return out


def input_fingerprint(table) -> str:
    import hashlib

    h = hashlib.sha256()
    for row in sorted(table.to_pylist(), key=lambda r: r["url"]):
        h.update(row["url"].encode("utf-8"))
        h.update(hashlib.sha256(bytes(row["html"])).digest())
    return h.hexdigest()


class WebSmall(Extraction):
    name = "web_small"
    why = ("small html pages and a cheap kernel: scan, Arrow boundary and "
           "parquet write dominate; no exchange, no OCR kernel")
    face = "web"
    n_docs, replicas = 5000, 3


class OcrResume(Extraction):
    name = "ocr_resume"
    why = ("small OCR docs with half already committed: reads the table, "
           "anti-joins and appends the other half (resume_filter)")
    # the prefill is a full extraction and write: one more pass is enough
    warm_passes = 1
    n_docs = 2000

    def prefill(self, run: Run) -> None:
        """Commit a url-hash half with the program itself, as a run that
        stopped halfway would have."""
        from pyspark.sql import functions as F
        from servico_ocr_spark import pipeline, sources

        pages = sources.read_pages(run.spark, self.pages_path)
        half = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
        pipeline.write_analysis(
            pipeline.run_extraction(half, num_partitions=run.partitions),
            str(self.input / "committed"))

    def prepare_reference(self, run: Run) -> None:
        super().prepare_reference(run)
        done = pq.read_table(str(self.input / "committed"), columns=["url"])
        self.committed_urls = set(done.column("url").to_pylist())

    def before_pass(self, run: Run, out: Path) -> None:
        shutil.copytree(self.input / "committed", out)

    def timed_pass(self, run: Run, out: Path) -> None:
        from servico_ocr_spark import pipeline, sources

        pages = sources.read_pages(run.spark, self.pages_path)
        pipeline.run_resumable(run.spark, pages, str(out),
                               num_partitions=run.partitions)

    def docs_per_pass(self) -> int:
        return self.n_input - len(self.committed_urls)

    def redone(self, out: Path) -> int:
        """Committed docs extracted again by the resumed pass."""
        urls = pq.read_table(str(out), columns=["url"]).column("url").to_pylist()
        counts: dict[str, int] = {}
        for u in urls:
            counts[u] = counts.get(u, 0) + 1
        return sum(1 for u in self.committed_urls if counts.get(u, 0) > 1)

    def plans(self, run: Run, out: Path) -> list[tuple[str, object]]:
        from servico_ocr_spark import pipeline, sources

        spark, P = run.spark, run.partitions
        done = str(self.input / "committed")

        def scan():
            return sources.read_pages(spark, self.pages_path)

        def todo():
            return pipeline.resume_filter(spark, scan(), done).select("url", "html")

        def staged():
            return pipeline.weighted_repartition(
                pipeline.with_page_estimate(todo()), num_partitions=P)

        def extract(renders):
            return pipeline.run_extraction(todo(), num_partitions=P,
                                           renders=renders)

        return [
            ("scan", lambda: noop(scan().select("url", "html"))),
            ("resume", lambda: noop(todo())),
            ("estimate", lambda: noop(pipeline.with_page_estimate(todo()))),
            ("exchange", lambda: noop(staged())),
            ("boundary", lambda: noop(boundary_only(staged()))),
            ("kernel", lambda: noop(extract(False))),
            ("render", lambda: noop(extract(True))),
            ("write", lambda: self.timed_pass(run, out)),
        ]


# ---------------------------------------------------------------------------
# the iterative query surface
# ---------------------------------------------------------------------------


class IterQueries(Workload):
    name = "iter_queries"
    why = ("iterative pagerank over fixed sf0.1 documents (other graph, "
           "dedup and BPE queries traced): JVM relational layer and lineage "
           "cuts, no Python workers")
    # the JIT still speeds pagerank up by about a fifth from its second
    # to its fourth run
    warm_passes = 2
    n_docs = 500
    #: run in every pass
    timed = ("pagerank",)
    #: run once, in the traced run only: together they take 20-30 s, too
    #: long for every pass of a run that has to end in about half a minute
    traced_only = ("communities", "chain_components", "bpe_merges")

    def build_input(self, run: Run, dest: Path) -> None:
        import __spark_entry__

        names = self.timed + self.traced_only
        missing = [q for q in names if q not in __spark_entry__.queries()
                   or q not in __spark_entry__.oracle_sql()]
        if missing:
            raise SystemExit(f"no query or no DuckDB oracle named {missing}")
        table = pq.read_table(str(DOCUMENTS))
        table = table.filter(pc.less(table.column("doc_id"), self.n_docs))
        # the seed only reorders rows, which moves partition placement;
        # the answers stay the same, so every seed checks the same oracle
        order = list(range(table.num_rows))
        random.Random(run.seed).shuffle(order)
        dest.mkdir(parents=True, exist_ok=True)
        pq.write_table(table.take(order), str(dest / "documents.parquet"))
        self.input = dest

    def run_query(self, run: Run, name: str, out: Path) -> None:
        import __spark_entry__

        fn = __spark_entry__.queries()[name]
        fn(run.spark, str(self.input)).write.parquet(str(out / name))

    def timed_pass(self, run: Run, out: Path, names=None) -> None:
        """Run each query; a query that raises leaves no output, which its
        check counts as failed."""
        for q in names or self.timed:
            try:
                self.run_query(run, q, out)
            except Exception as exc:  # counted, reported, never fatal
                print(f"{q} raised: {exc!r}"[:500], file=sys.stderr)
                shutil.rmtree(out / q, ignore_errors=True)

    def docs_per_pass(self) -> int:
        return self.n_docs

    def prepare_reference(self, run: Run, names=None) -> None:
        import duckdb
        import __spark_entry__

        names = names or self.timed
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{self.input / 'documents.parquet'}'")
            self.oracle = {q: con.execute(oracles[q]).df() for q in names}
        finally:
            con.close()

    def check(self, out: Path, names=None) -> PassCheck:
        names = names or self.timed
        failed = matched = 0
        nbytes = files = rows = 0
        for q in names:
            path = out / q
            if not path.exists():
                failed += 1
                continue
            got = pq.read_table(str(path)).to_pandas()
            matched += checks.frames_equal(got, self.oracle[q])
            b, f = parquet_size(path)
            nbytes, files, rows = nbytes + b, files + f, rows + len(got)
        return PassCheck(len(names), failed, matched, len(names), rows,
                         nbytes, files)


WORKLOADS = {w.name: w for w in (WebSmall, OcrResume, IterQueries)}
