"""Correctness counters: a committed analysis table against its reference.

Everything here is plain Python over rows read back from parquet, so the
counters can be fed a hand-made table in the benchmark's own tests.

A *row digest* covers the status and the output columns of one url;
lineage columns (``dthr``, ``partition_id``, ``est_pages``) are never
part of it, so a change of placement or timestamp cannot flip a match.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from typing import Iterable, Mapping

#: output columns compared per face
OCR_OUTPUTS = ("extracted_text", "clean_text", "md", "html_render")
WEB_OUTPUTS = ("main_text", "spans")
#: url-hash buckets of the pinned digest (one hex digest per bucket)
BUCKETS = 64


def url_hash(url: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(url.encode("utf-8"), digest_size=8).digest(), "big"
    )


def in_sample(url: str, every: int) -> bool:
    """Deterministic url-hash sample: about one url in ``every``."""
    return url_hash(url) % every == 0


def row_digest(row: Mapping, outputs: Iterable[str]) -> str:
    payload = [row.get("status")] + [row.get(c) for c in outputs]
    blob = json.dumps(payload, ensure_ascii=False, sort_keys=True,
                      separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def bucket_digests(rows: Iterable[Mapping], outputs: Iterable[str]) -> list[str]:
    """One digest per url-hash bucket over every row of a table.

    Each bucket hashes its sorted ``url\\tdigest`` lines, so a missing,
    duplicated or altered row changes exactly the bucket it falls in."""
    outputs = tuple(outputs)
    lines: list[list[str]] = [[] for _ in range(BUCKETS)]
    for row in rows:
        url = row["url"]
        lines[url_hash(url) % BUCKETS].append(f"{url}\t{row_digest(row, outputs)}")
    return [
        hashlib.sha256("\n".join(sorted(b)).encode("utf-8")).hexdigest()
        for b in lines
    ]


def fail_count(rows: Iterable[Mapping],
               expected_status: Mapping[str, str | None]) -> int:
    """Input docs missing from the table, committed more than once, or with
    a status other than the reference's; plus committed urls that were
    never input. ``expected_status`` maps every input url to its reference
    status, or to ``None`` where no reference covers the url."""
    counts: Counter = Counter()
    bad: set[str] = set()
    for row in rows:
        url = row["url"]
        counts[url] += 1
        if url not in expected_status:
            bad.add(url)
            continue
        want = expected_status[url]
        if want is not None and row.get("status") != want:
            bad.add(url)
    for url in expected_status:
        if counts.get(url, 0) != 1:
            bad.add(url)
    return len(bad)


def match_count(
    rows: Iterable[Mapping],
    outputs: Iterable[str],
    reference: Mapping[str, str],
    pinned: list[str] | None = None,
    all_urls: Iterable[str] = (),
) -> tuple[int, int]:
    """``(matched, checked)`` docs.

    ``reference`` maps each sampled url to the digest of its reference
    row. With ``pinned`` (the bucket digests of the default seed), every
    url of ``all_urls`` is checked too: a doc matches only if its bucket's
    digest equals the pinned one and, when sampled, its own row equals the
    reference row exactly once."""
    outputs = tuple(outputs)
    rows = list(rows)
    seen: dict[str, list[str]] = {}
    for row in rows:
        if row["url"] in reference:
            seen.setdefault(row["url"], []).append(row_digest(row, outputs))
    checked = set(reference)
    bad_buckets: set[int] = set()
    if pinned is not None:
        checked.update(all_urls)
        got = bucket_digests(rows, outputs)
        bad_buckets = {i for i, (a, b) in enumerate(zip(got, pinned)) if a != b}
    matched = 0
    for url in checked:
        if url_hash(url) % BUCKETS in bad_buckets:
            continue
        if url in reference and seen.get(url) != [reference[url]]:
            continue
        matched += 1
    return matched, len(checked)


def web_reference_row(url: str, result: Mapping) -> dict:
    """``core.html_extract.extract_main`` output in the committed-row shape."""
    return {
        "url": url,
        "status": "ok",
        "main_text": result["main_text"],
        "spans": [{"start": s, "end": e} for s, e in result["spans"]],
    }


def ocr_error_row(url: str) -> dict:
    """Reference row of a doc whose analysis raises: the pipeline routes it
    to the error side-output with every output column NULL."""
    return {"url": url, "status": "erro", **{c: None for c in OCR_OUTPUTS}}


# ---------------------------------------------------------------------------
# query results against their DuckDB oracle
# ---------------------------------------------------------------------------


def _normalized(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                # integer engines disagree on width (int32 vs int64);
                # every value here is exact in float64 (< 2**53)
                df[c] = pd.to_numeric(df[c]).astype("float64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(got, want) -> bool:
    """Same columns, same row multiset, values equal after normalization."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    return _normalized(got).equals(_normalized(want))
