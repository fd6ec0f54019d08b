"""WARC/1.x record splitting — the raw Common Crawl ingestion shape.

A WARC file is a concatenation of records, each a version line
(``WARC/1.0`` / ``WARC/1.1``), a header block (``WARC-Type``,
``WARC-Target-URI``, ``WARC-Date``, ``Content-Length`` …), a blank
line, then exactly ``Content-Length`` bytes of payload, then two
blank lines. Unlike the derived WET shape (see ``wet_records``),
the length header is AUTHORITATIVE: response payloads are arbitrary
bytes (HTML, images, even embedded ``WARC/1.0`` lines), so framing
must count bytes, not pattern-match — a regex split would tear any
page that quotes a WARC header. For ``response`` records the payload
itself is an HTTP message; the splitter also lifts the status code
and entity headers and hands downstream the entity body, which is
what the main-content/quality chain (``html_main_blocks`` →
``gopher_filter`` → dedup) consumes.

Spark-first shape: a narrow ``mapInArrow`` over (file_id, content) —
pure per-file sequential framing, zero shuffle, rows grow only by the
records-per-file factor; 1000 executors each frame their own file
splits independently. Content arrives as a string or binary column;
lengths are counted on UTF-8 bytes. Framing is error-tolerant and
never fails the task (reference E10 contract,
core/.../BaseStreamProcessor.java:91-120): a record whose declared
length overruns the file falls back to delimiter recovery (next
version line at a line start), and undeclared lengths frame the same
way, so a truncated tail still yields its prefix records.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_VERSION_RE = re.compile(rb"(?m)^WARC/(?:0\.\d+|1\.\d+)\r?\n")
_HDR_RE = re.compile(rb"^([A-Za-z0-9_.-]+):[ \t]*(.*?)[ \t]*$")
_STATUS_RE = re.compile(rb"^HTTP/\d\.\d[ \t]+(\d{3})")

_OUT_FIELDS = [
    ("record_idx", IntegerType(), pa.int32()),
    ("warc_type", StringType(), pa.string()),
    ("record_id", StringType(), pa.string()),
    ("target_uri", StringType(), pa.string()),
    ("warc_date", StringType(), pa.string()),
    ("content_length", LongType(), pa.int64()),
    ("http_status", IntegerType(), pa.int32()),
    ("http_content_type", StringType(), pa.string()),
    ("body", StringType(), pa.string()),
]


def _hdr_block(data: bytes, start: int) -> tuple[dict, int]:
    """Parse ``Name: value`` lines from ``start`` until the blank line;
    returns (lower-cased header dict, index just past the blank line)."""
    headers: dict[str, bytes] = {}
    pos = start
    n = len(data)
    while pos < n:
        eol = data.find(b"\n", pos)
        if eol < 0:
            eol = n
        line = data[pos:eol].rstrip(b"\r")
        nxt = eol + 1
        if line == b"":
            return headers, nxt
        m = _HDR_RE.match(line)
        if m:
            headers[m.group(1).decode("latin-1").lower()] = m.group(2)
        pos = nxt
    return headers, n


def _http_split(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """HTTP-message payload → (status, content-type, entity body)."""
    m = _STATUS_RE.match(payload)
    if not m:
        return None, None, payload
    status = int(m.group(1))
    headers, body_start = _hdr_block(payload, payload.find(b"\n") + 1)
    ctype = headers.get("content-type")
    return (
        status,
        ctype.decode("latin-1") if ctype is not None else None,
        payload[body_start:],
    )


_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)", re.I)


def _decode_body(body: bytes, hctype: str | None) -> str:
    """Charset-aware entity decoding: honor ``charset=`` in the HTTP
    Content-Type (crawled pages are NOT all UTF-8 — latin-1/cp1252
    bodies mojibake under a blind utf-8 pass); unknown or absent
    charsets fall back to UTF-8 with replacement, never a raise."""
    codec = "utf-8"
    if hctype:
        m = _CHARSET_RE.search(hctype)
        if m:
            codec = m.group(1)
    try:
        return body.decode(codec, errors="replace")
    except LookupError:
        return body.decode("utf-8", errors="replace")


def _frame_records(data: bytes):
    """Yield (warc_headers, payload_bytes) per record, Content-Length
    authoritative, delimiter recovery on overrun/absence."""
    for headers, clen, payload, _start, _end in _frame_record_spans(data):
        yield headers, clen, payload


def _frame_record_spans(data: bytes):
    """Yield (warc_headers, content_length, payload_bytes, start, end)
    per record — the framing loop of :func:`_frame_records` plus the
    byte span [start, end) of each record within ``data``, which the
    offset index (:func:`index_warc_members`) persists so a later task
    can seek straight to a record range."""
    pos = 0
    n = len(data)
    while True:
        m = _VERSION_RE.search(data, pos)
        if m is None:
            return
        headers, body_start = _hdr_block(data, m.end())
        clen = None
        raw = headers.get("content-length")
        if raw is not None and raw.isdigit():
            clen = int(raw)
        if clen is not None and body_start + clen <= n:
            payload = data[body_start : body_start + clen]
            pos = body_start + clen
        else:
            # undeclared or overrunning length: recover at the next
            # version line that opens a real record (followed by a
            # WARC- header or immediate blank line, as in wet_records)
            nxt = _VERSION_RE.search(data, body_start)
            while nxt is not None:
                after = data[nxt.end() : nxt.end() + 5]
                if after.startswith(b"WARC-") or after[:2] in (b"\r\n", b"\n\n") or after[:1] == b"\n":
                    break
                nxt = _VERSION_RE.search(data, nxt.end())
            end = nxt.start() if nxt is not None else n
            payload = data[body_start:end].rstrip(b"\r\n")
            pos = end
        yield headers, clen, payload, m.start(), pos


def gunzip_members(data: bytes) -> bytes:
    """Concatenated gzip members → concatenated plaintext — the
    ``.warc.gz`` layout (Common Crawl compresses each record as its own
    gzip member so readers can seek to records). Complete members only:
    the first corrupt or torn member ends the scan and contributes
    nothing, so a truncated archive yields exactly the plaintext of the
    complete members before the tear — never a partial record. The
    offset-indexed reader drops a torn final member the same way.

    Implemented over the same bounded-chunk streaming scan the offset
    index uses (:func:`_gz_member_spans`): handing zlib the whole
    remaining buffer per member makes EACH member's ``unused_data``
    a copy of the tail — O(bytes × members), hours instead of seconds
    on a member-per-record archive of 10^5 records. The chunked feed
    keeps every intermediate bounded by the 4 MiB read size."""
    import io

    out = bytearray()
    for _off, _ln, plain in _gz_member_spans(io.BytesIO(data)):
        out += plain
    return bytes(out)


def _record_fields(headers: dict, clen, payload: bytes) -> tuple:
    """One framed record → the 8 output fields after record_idx
    (warc_type … body), shared by the whole-file and offset-indexed
    readers so both emit byte-identical rows."""
    wtype = headers.get("warc-type")
    is_http = wtype in (b"response", b"request") or (
        b"application/http" in headers.get("content-type", b"")
    )
    if is_http:
        status, hctype, body = _http_split(payload)
        text = _decode_body(body, hctype)
    else:
        status, hctype, body = None, None, payload
        text = body.decode("utf-8", errors="replace")
    rid = headers.get("warc-record-id")
    uri = headers.get("warc-target-uri")
    dt = headers.get("warc-date")
    return (
        wtype.decode("latin-1") if wtype is not None else None,
        rid.decode("latin-1").strip("<>") if rid is not None else None,
        uri.decode("latin-1") if uri is not None else None,
        dt.decode("latin-1") if dt is not None else None,
        clen,
        status,
        hctype,
        text.strip("\r\n"),
    )


def split_warc_records(
    files: DataFrame, id_col: str = "file_id", content_col: str = "content"
) -> DataFrame:
    """``(file_id, content)`` → one row per WARC record. Gzip input
    (``.warc.gz`` member-per-record, sniffed by magic) is inflated
    in-kernel first.

    → (file_id, record_idx, warc_type, record_id, target_uri,
    warc_date, content_length, http_status, http_content_type, body):
    ``record_idx`` is the record's 0-based position within its file;
    WARC header fields are NULL when absent; ``http_status`` /
    ``http_content_type`` are lifted from the embedded HTTP message of
    ``response``-style payloads (NULL for non-HTTP payloads, whose
    ``body`` is the raw payload text). Bytes before the first version
    line (split preambles) are dropped.
    """
    id_field = files.schema[id_col]
    src = files.select(id_col, content_col)

    out_schema = StructType(
        [StructField(id_col, id_field.dataType, id_field.nullable)]
        + [StructField(nm, t, True) for nm, t, _ in _OUT_FIELDS]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow_id_type = None
        for rb in batches:
            names = rb.schema.names
            id_arr = rb.column(names.index(id_col))
            arrow_id_type = id_arr.type
            ids = id_arr.to_pylist()
            contents = rb.column(names.index(content_col)).to_pylist()
            cols: list[list] = [[] for _ in range(1 + len(_OUT_FIELDS))]
            for fid, content in zip(ids, contents):
                if content is None:
                    continue
                data = (
                    content
                    if isinstance(content, (bytes, bytearray))
                    else str(content).encode("utf-8")
                )
                if data[:2] == b"\x1f\x8b":
                    data = gunzip_members(bytes(data))
                for idx, (headers, clen, payload) in enumerate(
                    _frame_records(bytes(data))
                ):
                    cols[0].append(fid)
                    cols[1].append(idx)
                    for j, v in enumerate(
                        _record_fields(headers, clen, payload)
                    ):
                        cols[2 + j].append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[0], type=arrow_id_type)]
                + [
                    pa.array(c, type=t)
                    for c, (_, _, t) in zip(cols[1:], _OUT_FIELDS)
                ],
                names=[id_col] + [nm for nm, _, _ in _OUT_FIELDS],
            )

    return src.mapInArrow(run, schema=out_schema)


def _gz_member_spans(f, chunk_bytes: int = 1 << 22):
    """Stream a ``.warc.gz`` file object → (offset, length,
    decompressed_bytes) per gzip member. One sequential pass with a
    bounded read buffer — the file is never whole in memory (only the
    current member's plaintext is, i.e. one record for the
    member-per-record Common Crawl layout). Best-effort like
    :func:`gunzip_members`: a corrupt or truncated member ends the
    scan and the prefix indexes.

    Feeding discipline: zlib copies whatever it did not consume into
    ``unused_data`` on EVERY member end, so handing it the whole
    remaining buffer is O(bytes × members) memcpy — a 300 MB archive
    of 10^5 1 KiB members would grind for hours (observed; stdlib
    ``gzip.decompress`` has the same tail-copy pattern). Instead the
    member loop feeds bounded slices of a memoryview, starting at
    4 KiB and doubling per call up to 1 MiB: small members over-feed
    (and therefore copy) at most ~4 KiB, large members ramp to
    megabyte feeds in a dozen calls — total copy volume is O(bytes),
    independent of the member count."""
    import zlib

    abs_base = 0          # file offset of buf[0]
    buf = f.read(chunk_bytes)
    mv = memoryview(buf)
    off = 0
    while True:
        if len(buf) - off < 2:
            # refill (splicing a possible straddled magic byte)
            abs_base += off
            buf = bytes(mv[off:]) + f.read(chunk_bytes)
            mv = memoryview(buf)
            off = 0
            if len(buf) < 2:
                return
        if bytes(mv[off : off + 2]) != b"\x1f\x8b":
            return      # trailing garbage / not a member boundary
        d = zlib.decompressobj(wbits=31)
        out = bytearray()
        member_start = abs_base + off
        feed_bytes = 1 << 12
        while True:
            if off == len(buf):
                abs_base += len(buf)
                buf = f.read(chunk_bytes)
                mv = memoryview(buf)
                off = 0
                if not buf:
                    return  # truncated final member
            feed = mv[off : off + feed_bytes]
            try:
                out += d.decompress(feed)
            except zlib.error:
                return  # corrupt member: keep the indexed prefix
            if d.eof:
                off += len(feed) - len(d.unused_data)
                yield (
                    member_start,
                    abs_base + off - member_start,
                    bytes(out),
                )
                break
            off += len(feed)
            feed_bytes = min(feed_bytes * 2, 1 << 20)


def _inflate_one_member(f, feed_start: int = 1 << 12):
    """Inflate exactly one gzip member from the current file position →
    (consumed_compressed_bytes, plaintext), or None on corruption or
    truncation. Same adaptive bounded feeds as :func:`_gz_member_spans`."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    out = bytearray()
    consumed = 0
    feed_bytes = feed_start
    while True:
        chunk = f.read(feed_bytes)
        if not chunk:
            return None
        try:
            out += d.decompress(chunk)
        except zlib.error:
            return None
        if d.eof:
            consumed += len(chunk) - len(d.unused_data)
            return consumed, bytes(out)
        consumed += len(chunk)
        feed_bytes = min(feed_bytes * 2, 1 << 20)


def _find_gz_member_start(f, start: int, end: int) -> int | None:
    """First verifiable gzip-member start offset in [start, end), or
    None — the RESYNC that makes one archive splittable at arbitrary
    byte boundaries (the published technique behind splittable-gzip
    Hadoop readers and Common Crawl's own parallel WARC tooling):
    scan for the 3-byte gzip deflate magic, then PROVE a candidate by
    inflating the whole member and checking the plaintext opens with a
    WARC version line. Compressed payload bytes can contain the magic
    by chance (~2^-24/position), but a false candidate fails inflation
    almost immediately, and one that inflates cleanly to a ``WARC/``
    record is not a practical event."""
    window = 1 << 22
    pos = start
    while pos < end:
        f.seek(pos)
        win = f.read(min(window, end - pos) + 2)
        if not win:
            return None
        j = -1
        while True:
            j = win.find(b"\x1f\x8b\x08", j + 1)
            if j < 0 or pos + j >= end:
                break
            cand = pos + j
            f.seek(cand)
            r = _inflate_one_member(f)
            if r is not None and r[1][:5] == b"WARC/":
                return cand
        pos += max(len(win) - 2, 1)
    return None


def _gz_range_members(f, start: int, end: int):
    """Yield (offset, length, plaintext) for every gzip member whose
    START lies in [start, end) — each member indexed by exactly one
    range, since a member starting before ``end`` is walked here even
    when its bytes extend past ``end``, and the next range's resync
    skips it. Corruption inside the range stops this range only; later
    ranges resync past it (strictly better recovery than the
    sequential scan, which stops for the whole file)."""
    pos = _find_gz_member_start(f, start, end)
    while pos is not None and pos < end:
        f.seek(pos)
        r = _inflate_one_member(f)
        if r is None:
            return
        consumed, plain = r
        yield pos, consumed, plain
        pos += consumed
        f.seek(pos)
        if f.read(2) != b"\x1f\x8b":
            return  # trailing garbage / end of members


_IDX_FIELDS = [
    ("member_idx", LongType(), pa.int64()),
    ("offset", LongType(), pa.int64()),
    ("length", LongType(), pa.int64()),
    ("n_records", LongType(), pa.int64()),
]


def _index_rows_batch(path_col: str, rows: list[tuple]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.string())]
        + [
            pa.array([r[1 + j] for r in rows], t)
            for j, (_, _, t) in enumerate(_IDX_FIELDS)
        ],
        names=[path_col] + [nm for nm, _, _ in _IDX_FIELDS],
    )


def index_warc_members(
    paths: DataFrame,
    path_col: str = "path",
    split_bytes: int | None = None,
) -> DataFrame:
    """``(path)`` → one row per archive member: (path, member_idx,
    offset, length, n_records) — the offset index that lets a ≥1 GiB
    archive fan out across tasks instead of being one task and one
    (2 GiB-capped) Arrow cell.

    For ``.warc.gz`` (sniffed by magic) a member is a gzip member —
    Common Crawl compresses each record as its own member precisely so
    readers can seek to records — found by streaming decompression
    with a bounded buffer; ``n_records`` counts the WARC records
    inside the member's plaintext (1 for the standard layout, more for
    non-conforming writers), so downstream can assign exact global
    record indexes without re-reading. For uncompressed ``.warc`` the
    members ARE the framed records (Content-Length authoritative,
    same recovery as :func:`split_warc_records`).

    ``split_bytes=None``: one index task per archive reads the file
    sequentially once. ``split_bytes=N``: the INDEXING ITSELF
    parallelizes — each gz archive splits into N-byte ranges, every
    range task resyncs to its first verifiable member boundary
    (:func:`_find_gz_member_start`) and indexes the members starting
    inside its range, so even a single 1 GiB archive indexes on ~16
    tasks instead of one; ``member_idx`` is then derived with a
    row_number window over the (tiny) index rows. Uncompressed
    archives have no verifiable resync token and keep the sequential
    path. Files are opened by path on the executor (local/NFS/
    HDFS-mounted paths here; a cluster against object storage mounts
    or swaps in its storage client at this seam)."""
    out_schema = StructType(
        [StructField(path_col, StringType(), False)]
        + [StructField(nm, t, True) for nm, t, _ in _IDX_FIELDS]
    )

    def run_sequential(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for p in rb.column(0).to_pylist():
                rows: list[tuple] = []
                try:
                    with open(p, "rb") as f:
                        magic = f.read(2)
                        f.seek(0)
                        if magic == b"\x1f\x8b":
                            for i, (off, ln, plain) in enumerate(
                                _gz_member_spans(f)
                            ):
                                nrec = sum(
                                    1 for _ in _frame_record_spans(plain)
                                )
                                rows.append((p, i, off, ln, nrec))
                        else:
                            data = f.read()
                            for i, (_h, _c, _pl, s, e) in enumerate(
                                _frame_record_spans(data)
                            ):
                                rows.append((p, i, s, e - s, 1))
                except OSError:
                    pass  # unreadable file: no members (E10 never-fail)
                yield _index_rows_batch(path_col, rows)

    if split_bytes is None:
        src = paths.select(path_col).repartition(path_col)
        return src.mapInArrow(run_sequential, schema=out_schema)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..spark_util import default_parallelism

    def run_sizes(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import os

        for rb in batches:
            ps, sizes, gz = [], [], []
            for p in rb.column(0).to_pylist():
                try:
                    with open(p, "rb") as f:
                        magic = f.read(2)
                    ps.append(p)
                    sizes.append(os.path.getsize(p))
                    gz.append(magic == b"\x1f\x8b")
                except OSError:
                    pass
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ps, pa.string()),
                    pa.array(sizes, pa.int64()),
                    pa.array(gz, pa.bool_()),
                ],
                names=[path_col, "size", "is_gz"],
            )

    sizes = paths.select(path_col).mapInArrow(
        run_sizes, schema=f"{path_col} string, size long, is_gz boolean"
    )
    ranges = sizes.select(
        path_col,
        "is_gz",
        "size",
        F.explode(
            F.when(
                F.col("is_gz"),
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("size") - 1, F.lit(0)),
                    F.lit(split_bytes),
                ),
            ).otherwise(F.array(F.lit(0)))
        ).alias("range_start"),
    ).select(
        path_col,
        "is_gz",
        "range_start",
        F.when(F.col("is_gz"), F.least(
            F.col("range_start") + split_bytes, F.col("size")
        )).otherwise(F.col("size")).alias("range_end"),
    ).repartition(
        default_parallelism(paths.sparkSession), path_col, "range_start"
    )

    def run_range(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            names = rb.schema.names
            it = zip(
                rb.column(names.index(path_col)).to_pylist(),
                rb.column(names.index("is_gz")).to_pylist(),
                rb.column(names.index("range_start")).to_pylist(),
                rb.column(names.index("range_end")).to_pylist(),
            )
            for p, is_gz, start, end in it:
                rows: list[tuple] = []
                try:
                    with open(p, "rb") as f:
                        if is_gz:
                            for off, ln, plain in _gz_range_members(
                                f, start, end
                            ):
                                nrec = sum(
                                    1 for _ in _frame_record_spans(plain)
                                )
                                rows.append((p, -1, off, ln, nrec))
                        else:
                            data = f.read()
                            for i, (_h, _c, _pl, s, e) in enumerate(
                                _frame_record_spans(data)
                            ):
                                rows.append((p, i, s, e - s, 1))
                except OSError:
                    pass
                yield _index_rows_batch(path_col, rows)

    idx = ranges.mapInArrow(run_range, schema=out_schema)
    w = Window.partitionBy(path_col).orderBy("offset")
    return idx.withColumn("member_idx", F.row_number().over(w) - 1)


def split_warc_records_indexed(
    paths: DataFrame,
    path_col: str = "path",
    target_chunk_bytes: int = 16 << 20,
    max_batch_records: int = 1024,
    index_split_bytes: int | None = 16 << 20,
) -> DataFrame:
    """Offset-indexed WARC ingestion for production archive sizes:
    ``(path)`` → the same rows :func:`split_warc_records` emits, with
    ``path`` as the id column and ``record_idx`` the record's global
    0-based position in its archive.

    Two stages. (1) :func:`index_warc_members` indexes every archive
    into tiny (offset, length, n_records) rows — itself PARALLEL per
    ``index_split_bytes`` byte range via gzip-magic resync, so even one
    1 GiB archive indexes on ~16 tasks (``None`` falls back to one
    sequential pass per archive). (2) Members are packed into
    ~``target_chunk_bytes`` chunks by a running-sum window, the chunks
    shuffle across the cluster, and each task opens its archive, reads
    contiguous member runs in single I/Os, inflates, frames, and emits
    output RecordBatches capped at ``max_batch_records`` rows — so
    neither the input archive nor the output batch ever materializes
    whole, killing both the one-file-one-task skew unit and the 2 GiB
    Arrow-cell ceiling of the (file_id, content) path. Exact global
    record numbering comes from the windowed running sum of
    ``n_records`` (record_base), not from assuming one record per
    member.

    The index shuffle moves ~1 row/record of a few dozen bytes —
    negligible against the archive bytes, which are read exactly twice
    (once range-parallel to index, once range-wise to decode), the
    same I/O as any splittable-format reader that lacks a stored
    index."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..spark_util import default_parallelism

    idx = index_warc_members(paths, path_col, split_bytes=index_split_bytes)
    w = Window.partitionBy(path_col).orderBy("member_idx")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    planned = (
        idx.withColumn(
            "record_base",
            F.coalesce(F.sum("n_records").over(before), F.lit(0)),
        )
        .withColumn(
            "chunk",
            F.floor(
                F.coalesce(F.sum("length").over(before), F.lit(0))
                / F.lit(target_chunk_bytes)
            ),
        )
        # explicit partition count: without it AQE coalesces the tiny
        # index-row shuffle (~50 B/record) to a couple of partitions
        # and the DECODE stage — whose work is proportional to archive
        # bytes, invisible to AQE's post-shuffle size heuristic —
        # collapses to those few tasks, defeating the fan-out
        .repartition(
            default_parallelism(paths.sparkSession), path_col, "chunk"
        )
    )

    out_schema = StructType(
        [StructField(path_col, StringType(), False)]
        + [StructField(nm, t, True) for nm, t, _ in _OUT_FIELDS]
    )
    out_names = [path_col] + [nm for nm, _, _ in _OUT_FIELDS]
    out_types = [pa.string()] + [t for _, _, t in _OUT_FIELDS]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows: list[tuple] = []

        def flush():
            nonlocal rows
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array([r[j] for r in rows], t)
                    for j, t in enumerate(out_types)
                ],
                names=out_names,
            )
            rows = []
            return batch

        for rb in batches:
            names = rb.schema.names
            members = sorted(
                zip(
                    rb.column(names.index(path_col)).to_pylist(),
                    rb.column(names.index("offset")).to_pylist(),
                    rb.column(names.index("length")).to_pylist(),
                    rb.column(names.index("record_base")).to_pylist(),
                )
            )
            # contiguous members coalesce into ONE read each (a chunk's
            # members tile its byte range by construction, so a typical
            # task issues a handful of ~64 MiB reads instead of one
            # seek+read per member — 10^5 member-sized reads cost more
            # than the decode itself on fast storage)
            runs: list[tuple] = []  # (path, run_off, run_len, [(off,ln,base)])
            for p, off, ln, base in members:
                if (
                    runs
                    and runs[-1][0] == p
                    and runs[-1][1] + runs[-1][2] == off
                    and runs[-1][2] + ln <= (256 << 20)
                ):
                    path_, roff, rlen, mems = runs[-1]
                    runs[-1] = (path_, roff, rlen + ln, mems)
                    mems.append((off, ln, base))
                else:
                    runs.append((p, off, ln, [(off, ln, base)]))
            handle, hpath = None, None
            try:
                for p, roff, rlen, mems in runs:
                    if p != hpath:
                        if handle is not None:
                            handle.close()
                        try:
                            handle, hpath = open(p, "rb"), p
                        except OSError:
                            handle, hpath = None, p
                            continue
                    if handle is None:
                        continue
                    handle.seek(roff)
                    blob = handle.read(rlen)
                    mv = memoryview(blob)
                    for off, ln, base in mems:
                        data = bytes(mv[off - roff : off - roff + ln])
                        if data[:2] == b"\x1f\x8b":
                            data = gunzip_members(data)
                        for i, (headers, clen, payload) in enumerate(
                            _frame_records(data)
                        ):
                            rows.append(
                                (p, base + i)
                                + _record_fields(headers, clen, payload)
                            )
                            if len(rows) >= max_batch_records:
                                yield flush()
            finally:
                if handle is not None:
                    handle.close()
        if rows:
            yield flush()

    return planned.mapInArrow(run, schema=out_schema)
