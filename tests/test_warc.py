"""WARC record-splitting source (sources/warc): spec framing, error
isolation, and Spark plumbing."""


def _rec(url: str, payload: bytes, ts: str = "2024-01-01T00:00:00Z") -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
        + url.encode()
        + b"\r\nWARC-Date: "
        + ts.encode()
        + b"\r\nContent-Length: "
        + str(len(payload)).encode()
        + b"\r\n\r\n"
        + payload
        + b"\r\n\r\n"
    )


def test_split_framing_is_content_length_not_magic_scan():
    from servico_ocr_spark.sources.warc import split_warc_records

    # payload CONTAINS the record magic — a magic-scanning splitter
    # would cut the record in half; Content-Length framing must not
    evil = b"quoting a warc: WARC/1.0\r\n\r\n inside payload"
    blob = _rec("https://a", evil) + _rec("https://b", b"plain")
    recs = split_warc_records(blob)
    assert [(r[1], r[3], r[5]) for r in recs] == [
        ("https://a", evil, None),
        ("https://b", b"plain", None),
    ]


def test_split_malformed_blobs_degrade_per_blob():
    from servico_ocr_spark.sources.warc import split_warc_records

    # truncated payload: error row carries the url it was parsing
    blob = _rec("https://ok", b"x" * 10)
    trunc = blob + _rec("https://cut", b"y" * 50)[:-30]
    recs = split_warc_records(trunc)
    assert recs[0][5] is None
    assert recs[1][1] == "https://cut"
    assert recs[1][5] == "truncated payload"
    # garbage start: single bad-magic row, parse stops
    assert split_warc_records(b"HTTP/1.1 200 OK\r\n\r\nbody")[0][5] == (
        "bad magic"
    )
    # missing content-length
    bad = b"WARC/1.0\r\nWARC-Target-URI: https://n\r\n\r\nrest"
    assert split_warc_records(bad)[0][5] == "bad content-length"
    assert split_warc_records(b"")== []
    # Content-Length is 1*DIGIT: a sign, a blank or a non-ASCII digit is
    # unframable. A negative length would send the parse back to the blob
    # start (an unbounded loop) or emit n_bytes < 0 with no error.
    first = _rec("https://ok", b"x" * 10)
    for clen in (b"-126", b"-2", b"+3", b"", b"\xc2\xb2", b"1 2", b"0x10"):
        blob = first + _rec("https://neg", b"abc").replace(
            b"Content-Length: 3", b"Content-Length: " + clen)
        recs = split_warc_records(blob)
        assert [(r[0], r[1], r[5]) for r in recs] == [
            (0, "https://ok", None), (1, "https://neg", "bad content-length"),
        ], clen
        assert all(r[4] >= 0 for r in recs)


def test_read_warc_records_spark_plumbing(spark):
    from servico_ocr_spark.sources.warc import read_warc_records

    good = _rec("https://a", b"payload-a") + _rec("https://b", b"pb")
    bad = b"HTTP/1.1 200 OK\r\n\r\nnot a warc"
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad)), (3, None)],
        "blob_id long, warc binary",
    )
    out = read_warc_records(df.repartition(3)).collect()
    by_key = {(r["blob_id"], r["rec_index"]): r for r in out}
    assert len(out) == 3  # 2 good records + 1 error row; null blob skipped
    assert bytes(by_key[(1, 0)]["payload"]) == b"payload-a"
    assert by_key[(1, 1)]["url"] == "https://b"
    assert by_key[(1, 1)]["n_bytes"] == 2
    # blob 2's failure is isolated to blob 2
    assert by_key[(2, 0)]["error"] == "bad magic"
    assert by_key[(1, 0)]["error"] is None
