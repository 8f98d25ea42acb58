"""Binary-artifact sinks: searchable-PDF (S9) + compression (S10).

The reference renders a per-document searchable PDF (per page
``pytesseract.image_to_pdf_or_hocr`` merged with PyPDF2,
app/util_pdf_ocr.py:34-63) and then Ghostscript-compresses it, keeping
the compressed file only when the ratio is positive
(app/util_pdf_compress.py:56-92, app/util_processar_pasta.py:456-474).

Here the Spark plumbing is real — a sink stage over the analysis table
(non-ok rows filtered in the JVM, then ``boundary.map_documents``:
``mapInArrow``, no pandas) that writes one artifact per ok document
(atomic temp-then-rename with an attempt-unique temp name, the reference's
upload pattern at app/app_controller.py:111-112) and yields a manifest
row per document — while the binary renderers are EXPLICITLY injected:
:func:`write_artifacts` takes ``renderer``/``compressor`` callables
defaulting to deterministic sandbox stubs, and the production twins
(:func:`tesseract_searchable_pdf`, Ghostscript) are separate
import-gated functions a deployment passes in. Auto-detecting installed
libraries inside the sink was rejected — a half-installed executor (or
a test that stubbed ``sys.modules['pytesseract']``) would flip the code
path silently.

Compression ratio semantics are the reference's exactly:
``ratio = 1 - final/initial``; keep compressed iff ratio > 0; any
compressor failure keeps the original (status ' - compactação
impossível', app/util_processar_pasta.py:470-474).

Cluster note: ``out_dir`` must be shared storage (NFS/fuse mount) on a
multi-node cluster — the directory is created and written from executor
tasks. Artifacts written to executor-local disks would be scattered.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..boundary import map_documents

MANIFEST_SCHEMA = (
    "url string, artifact string, n_bytes long, ratio_pct int, "
    "compressed boolean, note string"
)


def stub_searchable_pdf(url: str, boxes: list, paginas: int) -> bytes:
    """Deterministic sandbox renderer: a PDF-shaped byte layout carrying
    the page count and the per-page box texts in reading order — same
    size class as a text layer, fully reproducible, so the sink's
    partitioning/idempotence/keep-rule plumbing is exercised for real."""
    lines = [b"%PDF-STUB-1.4", url.encode(), b"pages=%d" % int(paginas)]
    for box in boxes:
        lines.append(
            b"page=%d box=%d tipo=%s %s"
            % (
                int(box["pagina"]),
                int(box["box"]),
                str(box["tipo"]).encode(),
                str(box["texto"]).encode(),
            )
        )
    lines.append(b"%%EOF")
    return b"\n".join(lines)


def tesseract_searchable_pdf(url: str, boxes: list, paginas: int) -> bytes:
    """WIRING PLACEHOLDER — always raises, never renders. The production
    design (per-page ``image_to_pdf_or_hocr`` + PyPDF2 merge, as
    app/util_pdf_ocr.py:34-63) needs the rasterized page images from the
    sources.ocr_engine pdf2image stage threaded alongside the box
    analysis, and that plumbing does not exist yet: even with pytesseract
    and PyPDF2 installed this function raises ``NotImplementedError`` on
    the first row. Deployments must implement the image pass-through
    before using this as ``renderer=``; until then the default
    :func:`stub_searchable_pdf` is the only working renderer."""
    try:
        import pytesseract  # noqa: F401
        import PyPDF2  # noqa: F401
    except ImportError as exc:  # pragma: no cover - sandbox path
        raise NotImplementedError(
            "production searchable-PDF needs pytesseract + PyPDF2 (and "
            "rasterized page images); use the default stub renderer in "
            "environments without them"
        ) from exc
    raise NotImplementedError(  # pragma: no cover - wiring placeholder
        "wire the pdf2image page images through to image_to_pdf_or_hocr"
    )


def compress_artifact(data: bytes, power: int = 0) -> tuple[bytes, float]:
    """(possibly-compressed bytes, ratio) with the reference's ratio
    formula ``1 - final/initial``. Sandbox compressor is zlib with the
    quality presets mapped to levels; a Ghostscript deployment passes
    its own callable as ``compressor=`` to :func:`write_artifacts`
    (presets 0-4, app/util_pdf_compress.py:58-64)."""
    level = {0: 6, 1: 9, 2: 8, 3: 7, 4: 5}.get(power, 6)
    compressed = zlib.compress(data, level)
    ratio = 1 - (len(compressed) / len(data)) if data else 0.0
    return compressed, ratio


def _write_artifact(
    row: dict, out_dir: str, power: int, renderer: Callable,
    compressor: Callable,
) -> dict:
    """One ok analysis row → its artifact file under ``out_dir`` and its
    manifest row."""
    from pyspark import TaskContext

    # executor-side: the driver's filesystem is not the executors'
    os.makedirs(out_dir, exist_ok=True)
    ctx = TaskContext.get()
    attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
    raw = renderer(row["url"], row["boxes"] or [], row["paginas"])
    try:
        data, ratio = compressor(raw, power)
        if ratio > 0:
            kept, note = True, f" - compactado {ratio:.2f}"
        else:
            data, kept, note = raw, False, " - compactação ignorada"
    except Exception:
        # compressor failure keeps the original artifact
        # (app/util_processar_pasta.py:470-474)
        data, ratio = raw, 0.0
        kept, note = False, " - compactação impossível"
    name = hashlib.md5(row["url"].encode()).hexdigest() + ".pdf"
    path = os.path.join(out_dir, name)
    tmp = f"{path}.{attempt}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)  # atomic, like copy-then-rename
    return {
        "url": row["url"],
        "artifact": name,
        "n_bytes": len(data),
        "ratio_pct": int(ratio * 100),
        "compressed": kept,
        "note": note,
    }


def write_artifacts(
    analysis: DataFrame,
    out_dir: str,
    power: int = 0,
    renderer: Callable[[str, list, int], bytes] = stub_searchable_pdf,
    compressor: Callable[[bytes, int], tuple[bytes, float]] = compress_artifact,
) -> DataFrame:
    """Sink stage: one searchable artifact file per ok document under
    ``out_dir`` (name = md5(url), the reference's content-hash naming),
    compressed only when the ratio is positive. Returns the manifest
    DataFrame (lazy — materialize it to run the sink). Re-running is
    idempotent: artifacts are rewritten atomically to the same names;
    the temp name is attempt-unique so a speculative or retried task
    attempt can never truncate another attempt's in-flight write.
    """
    ok = analysis.where(F.col("status") == "ok").select(
        "url", "paginas", "boxes"
    )
    sink = partial(
        _write_artifact, out_dir=out_dir, power=power, renderer=renderer,
        compressor=compressor,
    )
    return map_documents(ok, sink, StructType.fromDDL(MANIFEST_SCHEMA))
