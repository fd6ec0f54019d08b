"""Driver-side URI input adapter — the reference's ``process(uri)``
surface (BaseStreamProcessor.java:91-120: open connection, content-type
sniff, dispatch to the matching parser source).

Design stance (SCALE.md): **executors never fetch**. At 10^12-turn
scale an executor-side HTTP fetch is a retry storm and a data-lineage
hole — a re-run could see different bytes. The reference itself runs the
fetch on the caller's thread; the Spark-native equivalent is a
*driver-side* (or upstream-ingest) prefetch that lands documents in a
DataFrame, after which extraction is the ordinary distributed path over
storage-resident rows.

``file://`` URIs (and bare paths) work offline and carry the whole
test surface; ``http(s)://`` uses stdlib urllib when the environment
allows egress. MIME detection mirrors the reference's
``URLConnection.getContentType`` + extension fallback with the same
priority: explicit argument > transport header > extension > content
sniff.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from urllib.request import url2pathname

# extension → parser format, mirroring the reference's processor-factory
# dispatch (BaseStreamProcessor.processWithMime; formats as in
# operators/extract.py kernels); sources/rdf_files.py reads it too
_EXT_FORMAT = {
    ".nt": "ntriples",
    ".nq": "nquads",
    ".ttl": "turtle",
    ".trig": "trig",
    ".jsonld": "jsonld",
    ".json": "jsonld",
    ".rdf": "rdfxml",
    ".xml": "rdfxml",
    ".html": "rdfa",
    ".xhtml": "rdfa",
    ".htm": "rdfa",
    ".svg": "rdfa",
}

_MIME_FORMAT = {
    "application/n-triples": "ntriples",
    "application/n-quads": "nquads",
    "text/turtle": "turtle",
    "application/trig": "trig",
    "application/ld+json": "jsonld",
    "application/json": "jsonld",
    "application/rdf+xml": "rdfxml",
    "application/xml": "rdfxml",
    "text/xml": "rdfxml",
    "text/html": "rdfa",
    "application/xhtml+xml": "rdfa",
    "image/svg+xml": "rdfa",
}


def format_for(uri: str, mime: str | None = None, text: str | None = None) -> str | None:
    """Resolve the parser format for a URI: explicit mime > extension >
    content sniff (reference priority order)."""
    if mime:
        fmt = _MIME_FORMAT.get(mime.split(";")[0].strip().lower())
        if fmt:
            return fmt
    path = urlparse(uri).path if "://" in uri else uri
    fmt = _EXT_FORMAT.get(os.path.splitext(path)[1].lower())
    if fmt:
        return fmt
    if text is not None:
        from ..operators.extract import sniff_format

        return sniff_format(text)
    return None


def fetch_document(uri: str, mime: str | None = None, timeout: float = 30.0):
    """Fetch ONE document on the driver → (uri, fmt, text).

    file:// and bare paths read locally; http(s):// goes through urllib
    (honoring the transport Content-Type header the way the reference
    honors URLConnection.getContentType)."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        path = url2pathname(parsed.path) if parsed.scheme == "file" else uri
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        header_mime = None
    elif parsed.scheme in ("http", "https"):
        from urllib.request import urlopen

        with urlopen(uri, timeout=timeout) as resp:  # noqa: S310 — driver-side by design
            header_mime = resp.headers.get("Content-Type")
            text = resp.read().decode("utf-8", errors="replace")
    else:
        raise ValueError(f"unsupported URI scheme: {parsed.scheme!r}")
    fmt = format_for(uri, mime or header_mime, text)
    return uri, fmt, text


def fetch_to_dataframe(spark, uris, mime: str | None = None, n_partitions: int | None = None):
    """Reference ``process(uri)`` facade for many URIs: driver-side
    prefetch → transcripts-shaped DataFrame (conv_id=uri, turn_idx=0,
    text, fmt) ready for ``extract_statements``.

    Deliberately a DRIVER loop: the URI list is the small side (a feed
    manifest), the documents are the big side only after landing — at
    which point Spark parallelism applies. For bulk ingest of an already
    landed corpus use ``spark.read`` directly."""
    from pyspark.sql import functions as F

    rows = [fetch_document(u, mime) for u in uris]
    df = spark.createDataFrame(rows, ["conv_id", "fmt", "text"])
    if n_partitions:
        df = df.repartition(n_partitions)
    return df.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        "fmt",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
