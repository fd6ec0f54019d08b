"""WARC/1.x framing: Content-Length-authoritative payload cuts, HTTP
header lifting, delimiter recovery, never-raise tolerance."""

from semargl_spark.sources.warc_records import split_warc_records


def _warc(uri: str, payload: bytes, wtype: str = "response",
          extra: bytes = b"") -> bytes:
    return (
        b"WARC/1.0\r\n"
        + f"WARC-Type: {wtype}\r\n".encode()
        + b"WARC-Record-ID: <urn:uuid:abc-1>\r\n"
        + f"WARC-Target-URI: {uri}\r\n".encode()
        + b"WARC-Date: 2026-01-02T03:04:05Z\r\n"
        + extra
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n"
        + payload
        + b"\r\n\r\n"
    )


_HTTP = (
    b"HTTP/1.1 200 OK\r\n"
    b"Content-Type: text/html; charset=utf-8\r\n"
    b"Server: x\r\n"
    b"\r\n"
    b"<html><body>hello</body></html>"
)


def test_warc_response_record_http_split(spark):
    content = _warc("https://a.example/p", _HTTP)
    df = spark.createDataFrame(
        [(1, bytearray(content))], "file_id long, content binary"
    )
    rows = split_warc_records(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.warc_type == "response"
    assert r.record_id == "urn:uuid:abc-1"
    assert r.target_uri == "https://a.example/p"
    assert r.warc_date == "2026-01-02T03:04:05Z"
    assert r.content_length == len(_HTTP)
    assert r.http_status == 200
    assert r.http_content_type == "text/html; charset=utf-8"
    assert r.body == "<html><body>hello</body></html>"


def test_warc_payload_embedding_warc_line_not_torn(spark):
    # the whole reason Content-Length is authoritative: a response whose
    # BODY contains WARC framing lines must stay one record
    evil = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
        b"about archives:\nWARC/1.0\nWARC-Type: response\n\nnot a record"
    )
    content = _warc("https://a.example/evil", evil) + _warc(
        "https://a.example/next", _HTTP
    )
    df = spark.createDataFrame([(1, content.decode("utf-8"))],
                               "file_id long, content string")
    rows = sorted(split_warc_records(df).collect(),
                  key=lambda r: r.record_idx)
    assert len(rows) == 2
    assert "WARC/1.0" in rows[0].body
    assert rows[1].target_uri == "https://a.example/next"


def test_warc_warcinfo_and_preamble(spark):
    info = b"software: test\nformat: WARC File Format 1.1\n"
    content = (
        b"junk preamble bytes\n"
        + b"WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Length: "
        + str(len(info)).encode()
        + b"\r\n\r\n"
        + info
        + b"\r\n\r\n"
        + _warc("https://b.example/x", _HTTP)
    )
    df = spark.createDataFrame([(7, content.decode())],
                               "file_id long, content string")
    rows = sorted(split_warc_records(df).collect(),
                  key=lambda r: r.record_idx)
    assert [r.warc_type for r in rows] == ["warcinfo", "response"]
    assert rows[0].http_status is None
    assert rows[0].body == "software: test\nformat: WARC File Format 1.1"
    assert rows[1].http_status == 200


def test_warc_overrun_length_recovers_at_next_record(spark):
    # declared length overruns the file → delimiter recovery keeps the
    # prefix and the NEXT record still parses
    broken = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://c.example/1\r\n"
        b"Content-Length: 999999\r\n\r\n"
        + _HTTP
        + b"\r\n\r\n"
        + _warc("https://c.example/2", _HTTP)
    )
    df = spark.createDataFrame([(1, broken.decode())],
                               "file_id long, content string")
    rows = sorted(split_warc_records(df).collect(),
                  key=lambda r: r.record_idx)
    assert len(rows) == 2
    assert rows[0].target_uri == "https://c.example/1"
    assert rows[0].body.endswith("</html>")
    assert rows[1].target_uri == "https://c.example/2"


def test_warc_garbage_and_null_never_raise(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "no warc here"), (4, "WARC/1.0\r\n")],
        "file_id long, content string",
    )
    rows = split_warc_records(df).collect()
    # only file 4 has a (degenerate, empty) record frame
    assert all(r.file_id == 4 for r in rows)


def test_warc_gzip_members_split_and_corrupt_prefix(spark):
    """.warc.gz layout: each record its own gzip member; a corrupted
    later member yields the intact prefix records, never a raise."""
    import zlib

    def gz(b):
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        return c.compress(b) + c.flush()

    r1 = _warc("https://g.example/1", _HTTP)
    r2 = _warc("https://g.example/2", _HTTP)
    good = gz(r1) + gz(r2)
    corrupt = gz(r1) + b"\x1f\x8b\x08\x00garbage-not-a-member"
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(corrupt))],
        "file_id long, content binary",
    )
    rows = sorted(
        ((r.file_id, r.record_idx, r.target_uri)
         for r in split_warc_records(df).collect())
    )
    assert rows == [
        (1, 0, "https://g.example/1"),
        (1, 1, "https://g.example/2"),
        (2, 0, "https://g.example/1"),
    ]


def test_warc_charset_aware_body_decode(spark):
    """charset= in the HTTP Content-Type governs entity decoding:
    latin-1 and cp1252 bodies must not mojibake under a blind utf-8
    pass; unknown charsets fall back to utf-8-replace."""
    lat = "café olé".encode("latin-1")
    cp = "café — dash".encode("cp1252")
    utf = "café utf".encode("utf-8")
    mk = lambda ct, body: _warc(
        "https://cs.example/x",
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n\r\n" + body,
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(mk(b"text/html; charset=ISO-8859-1", lat))),
            (2, bytearray(mk(b'text/html; charset="windows-1252"', cp))),
            (3, bytearray(mk(b"text/html; charset=utf-8", utf))),
            (4, bytearray(mk(b"text/html; charset=bogus-enc", utf))),
            (5, bytearray(mk(b"text/html", utf))),
        ],
        "file_id long, content binary",
    )
    got = {r.file_id: r.body for r in split_warc_records(df).collect()}
    assert got[1] == "café olé"
    assert got[2] == "café — dash"
    assert got[3] == got[4] == got[5] == "café utf"


def _gz(b: bytes) -> bytes:
    import zlib

    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    return c.compress(b) + c.flush()


def _archive_records(n: int, tag: str):
    recs = []
    for i in range(n):
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n\r\n"
            + f"<html><body>doc {tag}-{i}\nWARC/1.0\nquoted</body></html>".encode()
        )
        recs.append(_warc(f"https://x.example/{tag}/{i}", http))
        meta = f"meta {tag}-{i}".encode()
        recs.append(
            b"WARC/1.0\r\nWARC-Type: metadata\r\n"
            + f"WARC-Target-URI: https://x.example/m/{tag}/{i}\r\n".encode()
            + f"Content-Length: {len(meta)}\r\n\r\n".encode()
            + meta + b"\r\n\r\n"
        )
    return recs


def test_index_warc_members_gz_offsets_and_counts(spark, tmp_path):
    from semargl_spark.sources.warc_records import index_warc_members

    recs = _archive_records(5, "a")
    # last member holds TWO records (non-conforming writer): n_records=2
    members = [_gz(r) for r in recs[:-2]] + [_gz(recs[-2] + recs[-1])]
    p = tmp_path / "a.warc.gz"
    p.write_bytes(b"".join(members))
    paths = spark.createDataFrame([(str(p),)], "path string")
    idx = sorted(
        map(tuple, index_warc_members(paths).collect()), key=lambda r: r[1]
    )
    assert len(idx) == len(members)
    # spans tile the file exactly
    pos = 0
    for _p, i, off, ln, nrec in idx:
        assert off == pos
        pos += ln
    assert pos == p.stat().st_size
    assert [r[4] for r in idx] == [1] * (len(members) - 1) + [2]
    # every span round-trips: gunzip of the slice is the member payload
    raw = p.read_bytes()
    from semargl_spark.sources.warc_records import gunzip_members

    assert gunzip_members(raw[idx[0][2] : idx[0][2] + idx[0][3]]) == recs[0]


def test_split_warc_records_indexed_matches_whole_file(spark, tmp_path):
    """The offset-indexed reader must emit exactly the rows the
    (file_id, content) reader emits, global record_idx included — for
    .warc.gz (member-per-record AND a multi-record member) and for
    uncompressed .warc, across chunk boundaries."""
    from semargl_spark.sources.warc_records import (
        split_warc_records,
        split_warc_records_indexed,
    )

    recs_a = _archive_records(7, "a")
    members_a = [_gz(r) for r in recs_a[:3]] + [_gz(b"".join(recs_a[3:6]))] + [
        _gz(r) for r in recs_a[6:]
    ]
    recs_b = _archive_records(4, "b")
    pa_ = tmp_path / "a.warc.gz"
    pa_.write_bytes(b"".join(members_a))
    pb = tmp_path / "b.warc"
    pb.write_bytes(b"".join(recs_b))

    paths = spark.createDataFrame(
        [(str(pa_),), (str(pb),)], "path string"
    )
    # tiny chunk + batch caps → exercises chunk splits and batch flushes
    got = sorted(
        map(
            tuple,
            split_warc_records_indexed(
                paths, target_chunk_bytes=600, max_batch_records=3
            ).collect(),
        )
    )
    whole = spark.createDataFrame(
        [(str(pa_), b"".join(members_a)), (str(pb), b"".join(recs_b))],
        "path string, content binary",
    )
    want = sorted(
        map(tuple, split_warc_records(whole, id_col="path").collect())
    )
    assert got == want
    assert len(got) == len(recs_a) + len(recs_b)


def test_gunzip_members_torn_final_member_yields_complete_members():
    from semargl_spark.sources.warc_records import gunzip_members

    recs = _archive_records(3, "g")
    blob = b"".join(_gz(r) for r in recs)
    assert gunzip_members(blob) == b"".join(recs)
    # a torn final member contributes nothing, not a partial record
    assert gunzip_members(blob[: len(blob) - 40]) == b"".join(recs[:-1])


def test_split_warc_records_indexed_truncated_tail(spark, tmp_path):
    from semargl_spark.sources.warc_records import split_warc_records_indexed

    recs = _archive_records(3, "t")
    blob = b"".join(_gz(r) for r in recs)
    p = tmp_path / "t.warc.gz"
    p.write_bytes(blob[: len(blob) - 40])  # tear the final member
    paths = spark.createDataFrame([(str(p),)], "path string")
    rows = split_warc_records_indexed(paths).collect()
    assert len(rows) == len(recs) - 1  # prefix survives, no raise


def test_gz_member_scan_mutation_never_raises(spark, tmp_path):
    """E10 never-fail contract for the offset index: random corruption
    or truncation anywhere in a .warc.gz archive must neither raise nor
    index past the damage — the intact member prefix still frames."""
    import random

    from semargl_spark.sources.warc_records import split_warc_records_indexed

    recs = _archive_records(6, "fz")
    blob = b"".join(_gz(r) for r in recs)
    rng = random.Random(1234)
    paths = []
    for t in range(12):
        b = bytearray(blob)
        if t % 3 == 0:
            b = b[: rng.randrange(1, len(b))]          # truncate
        elif t % 3 == 1:
            for _ in range(rng.randrange(1, 8)):       # flip bytes
                b[rng.randrange(len(b))] ^= 0xFF
        else:
            cut = rng.randrange(len(b) - 10)           # splice garbage
            b[cut : cut + 10] = bytes(10)
        p = tmp_path / f"fz{t}.warc.gz"
        p.write_bytes(bytes(b))
        paths.append((str(p),))
    df = spark.createDataFrame(paths, "path string")
    rows = split_warc_records_indexed(df).collect()  # must not raise
    assert 0 <= len(rows) <= 12 * len(recs)


def test_index_split_mode_matches_sequential(spark, tmp_path):
    """Range-parallel indexing (gzip-magic resync per byte range) must
    produce exactly the sequential index — offsets, lengths, record
    counts, and derived member ordinals — at any split size, including
    splits smaller than a member."""
    from semargl_spark.sources.warc_records import index_warc_members

    recs = _archive_records(9, "sp")
    members = [_gz(r) for r in recs[:4]] + [_gz(b"".join(recs[4:6]))] + [
        _gz(r) for r in recs[6:]
    ]
    p = tmp_path / "sp.warc.gz"
    p.write_bytes(b"".join(members))
    paths = spark.createDataFrame([(str(p),)], "path string")
    seq = sorted(map(tuple, index_warc_members(paths).collect()))
    for sb in (200, 1 << 12, 1 << 26):
        par = sorted(
            map(tuple, index_warc_members(paths, split_bytes=sb).collect())
        )
        assert par == seq, sb


def test_index_split_mode_resyncs_past_corruption(spark, tmp_path):
    """A corrupt member stops the sequential scan for the whole file;
    the range-split index only loses that range and RESYNCS at the next
    verifiable member boundary — strictly better recovery."""
    from semargl_spark.sources.warc_records import (
        index_warc_members,
        split_warc_records_indexed,
    )

    recs = _archive_records(8, "rc")
    members = [_gz(r) for r in recs]
    # corrupt the 3rd member's deflate body
    bad = bytearray(members[2])
    bad[len(bad) // 2] ^= 0xFF
    members[2] = bytes(bad)
    p = tmp_path / "rc.warc.gz"
    p.write_bytes(b"".join(members))
    paths = spark.createDataFrame([(str(p),)], "path string")

    n_seq = index_warc_members(paths).count()
    assert n_seq == 2  # sequential scan stops at the corrupt member
    n_par = index_warc_members(paths, split_bytes=300).count()
    assert n_par > n_seq  # later ranges resync past the damage
    rows = split_warc_records_indexed(
        paths, index_split_bytes=300
    ).collect()
    assert len(rows) == n_par  # and the decode pass reads them all


def test_gz_range_scan_equals_sequential_property():
    """Property (kernel-level, no Spark): for ANY member layout and ANY
    split size, the union of per-range resync scans equals the
    sequential member scan — offsets, lengths, and plaintext."""
    import io

    from hypothesis import given, settings, strategies as st

    from semargl_spark.sources.warc_records import (
        _gz_member_spans,
        _gz_range_members,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        sizes=st.lists(st.integers(0, 3000), min_size=1, max_size=12),
        split=st.integers(16, 5000),
    )
    def prop(sizes, split):
        recs = []
        for i, sz in enumerate(sizes):
            body = (b"%d:" % i) + bytes((i + j) % 251 for j in range(sz))
            recs.append(
                b"WARC/1.0\r\nWARC-Type: resource\r\n"
                + b"Content-Length: %d\r\n\r\n" % len(body)
                + body + b"\r\n\r\n"
            )
        blob = b"".join(_gz(r) for r in recs)
        seq = list(_gz_member_spans(io.BytesIO(blob)))
        par = []
        for start in range(0, max(len(blob), 1), split):
            end = min(start + split, len(blob))
            with io.BytesIO(blob) as f:
                par.extend(_gz_range_members(f, start, end))
        assert sorted(par) == sorted(seq)

    prop()
