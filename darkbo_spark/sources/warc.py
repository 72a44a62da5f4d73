"""Dependency-free WARC source — the actual container Common Crawl ships
(ISO 28500): concatenated records of `WARC/1.0` header blocks + raw
payloads, either plain `.warc` or `.warc.gz` (one gzip member per record,
members concatenated — the CC dump layout). This closes the last gap
between the pipeline's pages-table input_hint shape (url, warc_ts, html,
text, lang) and a real crawl dump: `read_warc` → `pages_from_warc` →
`kg.pipeline.run_pipeline` is the production ingestion path.

Parsing is byte-exact and streaming-friendly:
* records are located by their header blocks and sliced by
  `Content-Length` (NEVER by scanning payloads for separators — payloads
  are untrusted bytes that may contain anything, including `WARC/1.0`);
* `response` records carry an HTTP envelope; the entity body starts
  after the first CRLFCRLF of the HTTP block;
* malformed tails (truncated final record, torn trailing gzip member)
  are dropped with a counted warning row rather than raising — a 100 TB
  crawl ALWAYS contains a few torn records and one bad byte must not
  kill a stage;
* gzip decode is stdlib `zlib` multi-member (gunzip_members): each
  member decompresses independently, so a torn final member costs only
  that record — and per-record members mean the decode loop's working
  set is one record, never the whole file.

Scale shape: Spark's binaryFile source distributes whole .warc members
across executors (Common Crawl segments its dumps into ~1 GB files —
file granularity IS the parallelism unit; gzip members are not split
mid-file by any engine); per-file parsing is one pass, zero shuffle.
"""

from __future__ import annotations

import gzip
import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_HDR_END = re.compile(rb"\r\n\r\n")

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("rec_type", StringType()),
        StructField("content_length", LongType()),
        StructField("payload", BinaryType()),
        StructField("payload_digest", StringType()),
    ]
)


def _parse_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
                "utf-8", "replace"
            )
    return out


def parse_warc_bytes_indexed(data: bytes) -> Iterator[dict]:
    """Yield record dicts from one (uncompressed) WARC member, each
    carrying its byte position: `offset` = start of the `WARC/` header
    line, `length` = header block + payload bytes (the trailing CRLFCRLF
    separator is excluded, so slicing data[offset:offset+length] yields a
    self-contained re-parseable record — the CDX random-access contract).
    Tolerant: a truncated trailing record is skipped."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        m = _HDR_END.search(data, start)
        if m is None:
            return  # torn header block at EOF
        headers = _parse_headers(data[start : m.start()])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = m.end()
            continue  # unparseable record — resync at next header
        body_start = m.end()
        if body_start + length > n:
            return  # torn payload at EOF
        yield {
            "url": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "rec_type": headers.get("warc-type", ""),
            "content_length": length,
            "payload": data[body_start : body_start + length],
            # CC writes this on response AND revisit records ("sha1:B32…");
            # revisit resolution joins on it (resolve_revisits)
            "payload_digest": headers.get("warc-payload-digest", ""),
            "offset": start,
            "length": (body_start + length) - start,
        }
        # records are followed by \r\n\r\n per spec; find() resyncs anyway
        pos = body_start + length


def parse_warc_bytes(data: bytes) -> Iterator[dict]:
    """Yield record dicts from one (uncompressed) WARC member. Tolerant:
    a truncated trailing record is skipped."""
    for rec in parse_warc_bytes_indexed(data):
        rec.pop("offset")
        rec.pop("length")
        rec.pop("payload_digest")
        yield rec


GZIP_MAGIC = b"\x1f\x8b"


def iter_gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Walk concatenated gzip members yielding (compressed_offset,
    compressed_length, decompressed_bytes) per member — the byte
    positions are exactly what a CDX index stores for random access
    into a .warc.gz (seek to offset, read length, gunzip one member).
    Tolerant: a torn/corrupt trailing member is dropped — its partial
    bytes never reach the record parser, so a torn .gz tail degrades
    exactly like a torn .warc tail (record skipped, stage survives).

    Each member's decompressor is fed bounded memoryview slices (64 KB),
    never the whole remaining tail: CC's one-member-per-record layout
    means tens of thousands of members per ~1 GB file, and a per-member
    tail copy (either an explicit `data[pos:]` slice or the bytes object
    zlib materializes in `unused_data` when over-fed) would memcpy
    O(members × file_size). Chunked feeding keeps the walk O(file_size)
    total and `unused_data` at most one chunk."""
    pos = 0
    n = len(data)
    mv = memoryview(data)
    chunk_size = 1 << 16
    while pos < n and data[pos : pos + 2] == GZIP_MAGIC:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out = []
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                piece = mv[pos + fed : pos + fed + chunk_size]
                out.append(d.decompress(piece))
                fed += len(piece)
            out.append(d.flush())
        except zlib.error:
            return  # corrupt member — drop it and everything after
        if not d.eof:
            return  # truncated final member at EOF
        consumed = fed - len(d.unused_data)
        if consumed <= 0:
            return
        yield pos, consumed, b"".join(out)
        pos += consumed


def gunzip_members(data: bytes) -> bytes:
    """Decode concatenated gzip members (the .warc.gz layout: Common
    Crawl writes ONE gzip member PER RECORD, members back to back; a
    whole-file single stream is the one-member special case)."""
    return b"".join(chunk for _, _, chunk in iter_gzip_members(data))


def maybe_gunzip(data: bytes) -> bytes:
    """Transparent container sniff: gunzip .warc.gz bytes, pass plain
    .warc bytes through untouched."""
    return gunzip_members(data) if data[:2] == GZIP_MAGIC else data


def http_body(payload: bytes) -> bytes:
    """Entity body of an HTTP response payload (bytes after the first
    CRLFCRLF); the whole payload when no HTTP envelope is present."""
    m = _HDR_END.search(payload)
    return payload[m.end() :] if m else payload


def _record_bytes(r: dict) -> bytes:
    payload = r["payload"]
    digest = (
        f"WARC-Payload-Digest: {r['payload_digest']}\r\n"
        if r.get("payload_digest")
        else ""
    )
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {r.get('rec_type', 'response')}\r\n"
        f"WARC-Target-URI: {r.get('url', '')}\r\n"
        f"WARC-Date: {r.get('warc_date', '2024-01-01T00:00:00Z')}\r\n"
        f"{digest}"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii")
    return hdr + payload + b"\r\n\r\n"


def write_warc(records: list[dict], path: str) -> None:
    """Serialize records (url, warc_date, rec_type, payload) into one
    WARC member — the test fixture writer (round-trips parse_warc_bytes)."""
    with open(path, "wb") as f:
        for r in records:
            f.write(_record_bytes(r))


def write_warc_gz(records: list[dict], path: str) -> None:
    """Serialize records in the Common Crawl .warc.gz layout: one gzip
    member per record, members concatenated (mtime pinned for
    deterministic fixture bytes)."""
    with open(path, "wb") as f:
        for r in records:
            f.write(gzip.compress(_record_bytes(r), mtime=0))


def cdx_records(data: bytes) -> Iterator[dict]:
    """CDX-style index walk over raw member-file bytes (magic-sniffed):

    * `.warc.gz` (CC layout, one gzip member per record): `offset` /
      `length` are the COMPRESSED member's position and size — the pair a
      range-GET against the crawl bucket needs. Records inside a
      multi-record member (non-CC writers) share their member's offsets.
    * plain `.warc`: the record's own byte span (see
      parse_warc_bytes_indexed).

    Either way `fetch_warc_record(data, offset, length)` round-trips."""
    if data[:2] == GZIP_MAGIC:
        for off, clen, chunk in iter_gzip_members(data):
            for rec in parse_warc_bytes_indexed(chunk):
                rec["offset"] = off
                rec["length"] = clen
                yield rec
    else:
        yield from parse_warc_bytes_indexed(data)


def fetch_warc_record(data: bytes, offset: int, length: int) -> dict | None:
    """Random access by CDX coordinates: slice one record's bytes out of
    the member file (compressed member for .warc.gz, raw record span for
    .warc), decode, parse. The 100 TB shape: a served lookup reads
    `length` bytes from one file — never the file, never the corpus."""
    blob = maybe_gunzip(data[offset : offset + length])
    return next(parse_warc_bytes_indexed(blob), None)


CDX_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("rec_type", StringType()),
        StructField("rec_offset", LongType()),
        StructField("rec_length", LongType()),
        StructField("payload_md5", StringType()),
    ]
)


def warc_cdx_index(spark: SparkSession, path: str) -> DataFrame:
    """Distributed CDX index build: binaryFile (one task per member
    file) → one parse pass emitting (file, url, warc_date, rec_type,
    rec_offset, rec_length, payload_md5) — the lookup table that turns a
    crawl dump into a random-access store (url → seek coordinates).
    Payload digest is computed in the same Arrow batch as the parse (the
    payload bytes never cross into the JVM — only the 7 slim index
    columns do, so a 100 TB dump indexes with record-bytes staying
    executor-local)."""
    import hashlib

    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in cdx_records(bytes(content)):
                    rows.append(
                        (
                            fpath,
                            rec["url"],
                            rec["warc_date"],
                            rec["rec_type"],
                            rec["offset"],
                            rec["length"],
                            hashlib.md5(rec["payload"]).hexdigest(),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in CDX_SCHEMA.fields])

    return files.mapInPandas(build, CDX_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan: binaryFile (one task per member file) →
    mapInPandas record parse, gunzipping .warc.gz files transparently
    (magic-sniffed per file, not by extension — CC mirrors sometimes
    rename). Returns WARC_RECORD_SCHEMA rows."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("content")

    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for rec in parse_warc_bytes_indexed(maybe_gunzip(bytes(content))):
                    rows.append(tuple(rec[c] for c in cols))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, WARC_RECORD_SCHEMA)


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Common Crawl's fetch-dedup layer: a `revisit` record stores NO
    body, only the payload digest of an earlier identical fetch —
    resolution re-attaches the bytes so downstream sees every fetch with
    content. One digest-keyed join: responses elect a deterministic
    canonical payload per digest (min-url representative — duplicate
    fetches are byte-identical by definition, so the choice only breaks
    metadata ties), revisits left-join it; a dangling digest (its
    response fell in another segment / a torn tail) stays unresolved
    (resolved=0, payload null) rather than dropping the row — the
    lossy-ness is visible, never silent. Scale shape: the join key is
    the content digest (high-cardinality, near-unique), so the shuffle
    is as fine-grained as a join gets; responses pass through untouched.
    Returns the record columns + `resolved` (0/1 bigint)."""
    resp = records.filter(F.col("rec_type") == "response")
    canon = (
        resp.filter(F.col("payload_digest") != "")
        .groupBy("payload_digest")
        .agg(F.min_by("payload", "url").alias("_canon_payload"))
    )
    cols = [c for c in records.columns]
    revisit = (
        records.filter(F.col("rec_type") == "revisit")
        .drop("payload")
        .join(canon, "payload_digest", "left")
        .select(
            *[c for c in cols if c != "payload"],
            F.col("_canon_payload").alias("payload"),
        )
        .withColumn(
            "resolved", F.col("payload").isNotNull().cast("bigint")
        )
    )
    passthrough = records.filter(
        ~F.col("rec_type").isin("revisit")
    ).withColumn("resolved", F.lit(1).cast("bigint"))
    return passthrough.select(*cols, "resolved").unionByName(
        revisit.select(*cols, "resolved")
    )


def pages_from_warc(records: DataFrame) -> DataFrame:
    """response records → the pipeline's pages shape (url, warc_ts,
    html, text, lang): html = HTTP entity body, text/lang null (recovered
    downstream by extract_docs(re_extract_html=True))."""
    import pandas as pd

    strip_http = F.pandas_udf(
        lambda s: s.map(lambda b: http_body(bytes(b)) if b is not None else None),
        BinaryType(),
    )
    return (
        records.filter(F.col("rec_type") == "response")
        .select(
            "url",
            F.to_timestamp(
                F.regexp_replace(F.col("warc_date"), "Z$", "+00:00")
            ).alias("warc_ts"),
            strip_http(F.col("payload")).alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


def merge_cdx_delta(
    index: DataFrame, delta: DataFrame, key: str = "file"
) -> DataFrame:
    """Incremental CDX maintenance: crawl dumps grow by whole member
    FILES (and a re-fetched segment replaces a file wholesale), and every
    index row derives from exactly one file — so a delta merge is a
    file-keyed replace+append with NO global recompute: drop the index
    rows whose file appears in the delta (one left-anti join on the file
    key; the delta is a segment's worth of files, so its key set
    broadcasts) and union the delta rows in. Offsets never need
    adjustment because they are per-file coordinates."""
    files = delta.select(key).distinct()
    return index.join(F.broadcast(files), key, "left_anti").unionByName(delta)


def dedup_fetches(pages: DataFrame) -> DataFrame:
    """Fetch dedup by CANONICAL url — the standard CC ingestion step
    between the dump parse and the pipeline: the same page is fetched as
    `HTTPS://Host.com:443/a/?b=2&a=1#x` and `https://host.com/a?a=1&b=2`
    across crawl cycles, and downstream must see ONE row per canonical
    page, the LATEST fetch (`warc_ts`) winning (ties at the winning
    timestamp break to the max raw `url` — deterministic,
    layout-invariant). One window on the canonical key (functions/urlnorm.canonical_url — all codegen
    column expressions): the canonical key is near-unique, so the
    exchange is as fine-grained as the revisit join's digest key and no
    reducer sees more than one page's fetch history. Returns the input
    columns + `canon_url`."""
    from pyspark.sql.window import Window

    from darkbo_spark.functions.urlnorm import canonical_url

    out = pages.withColumn("canon_url", canonical_url(F.col("url")))
    w = Window.partitionBy("canon_url").orderBy(
        F.col("warc_ts").desc(), F.col("url").desc()
    )
    return (
        out.withColumn("_fd_rk", F.row_number().over(w))
        .filter(F.col("_fd_rk") == 1)
        .drop("_fd_rk")
    )
