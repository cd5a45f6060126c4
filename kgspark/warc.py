"""WARC (Web ARChive, ISO 28500) ingestion — the container a real crawl
ships in (the reference consumes pre-extracted text; the `input_hint`
documents table is what a WARC crawl becomes after this module).

Format: a WARC file is a sequence of records; each record is a header
block (``WARC/1.0`` version line + ``Name: value`` lines, CRLF
terminated, blank line) followed by ``Content-Length`` payload bytes and
``CRLF CRLF``. Both layouts on disk are handled natively: uncompressed
``.warc``, and the crawl wire format ``.warc.gz`` with one gzip member
per record (stdlib gzip reads concatenated members; the writer emits
them with ``compress=True``). Response payloads carrying a raw HTTP
exchange — status line, headers, chunked transfer coding, Content-Type
charset — are unwrapped by ``parse_http_response``.

Scale shape: WARC records are variable-length, so the SPLIT UNIT is the
file, not a byte range — exactly how crawl archives are laid out (CC
ships ~1 GB files; one task per file). ``spark.read.format("binaryFile")``
lists the files into partitions; no driver-side parsing, no collect.
``warc_documents`` is the ingest the KG job runs: ONE ``mapInPandas``
kernel walks each file's records, keeps the response records, unwraps
their HTTP envelope and extracts the page text, so the whole
bytes-to-text path crosses into Python once. ``read_warc``,
``http_responses`` and ``extract.extract_text`` expose the same pure
functions one operator at a time (records, envelopes, text), for callers
that want the intermediate columns. The writer is the inverse: one WARC
file per partition via ``foreachPartition``-free ``mapInPandas`` (each
task writes its own file — the idempotent task-output pattern; at 10^12
docs swap the local filesystem for the Hadoop FileSystem API as in
``kgspark/lineage.py``).
"""

from __future__ import annotations

import gzip
import io
import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from kgspark.extract import extract_text_from_html

CRLF = b"\r\n"
WARC_OUT_SCHEMA = "url string, warc_ts string, record_type string, payload binary"
HTTP_OUT_SCHEMA = (
    "url string, warc_ts string, http_status int, content_type string, html string"
)
# binaryFile's own schema; a streaming source needs it pinned explicitly
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def build_warc_record(
    url: str, ts: str, payload: bytes, record_type: str = "response"
) -> bytes:
    """One WARC/1.0 record (header block + payload + record separator)."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + record_type.encode(),
        b"WARC-Target-URI: " + url.encode(),
        b"WARC-Date: " + ts.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return CRLF.join(headers) + CRLF + CRLF + payload + CRLF + CRLF


def build_warc_bytes(records: list[tuple[str, str, bytes]]) -> bytes:
    return b"".join(build_warc_record(u, t, p) for u, t, p in records)


def parse_warc_bytes(data: bytes) -> list[dict]:
    """All records of one WARC file. Pure function — unit-testable and
    reused verbatim by the distributed reader kernel."""
    if data[:2] == b"\x1f\x8b":  # gzip magic: concatenated-member streams
        data = gzip.decompress(data)  # gzip module reads ALL members
    out = []
    pos, n = 0, len(data)
    while pos < n:
        # skip inter-record padding
        while pos < n and data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = data.index(CRLF + CRLF, pos)
        head = data[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at byte {pos}: {lines[0]!r}")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        length = int(fields["content-length"])
        body_start = head_end + 4
        out.append(
            {
                "url": fields.get("warc-target-uri", ""),
                "warc_ts": fields.get("warc-date", ""),
                "record_type": fields.get("warc-type", ""),
                "payload": data[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return out


# ---------------------------------------------------------------------------
# HTTP response payloads — what a REAL crawl's response records contain
# (Common Crawl stores the raw HTTP exchange, not bare HTML: status line +
# headers + body, possibly Transfer-Encoding: chunked, charset in
# Content-Type).


def _dechunk(body: bytes) -> bytes:
    """Decode Transfer-Encoding: chunked (hex size line, chunk, CRLF ...
    terminated by a 0-size chunk; trailers ignored)."""
    out, pos = bytearray(), 0
    while pos < len(body):
        nl = body.find(CRLF, pos)
        if nl < 0:
            break
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break  # malformed: keep what we have
        if size == 0:
            break
        out += body[nl + 2 : nl + 2 + size]
        pos = nl + 2 + size + 2  # skip chunk + trailing CRLF
    return bytes(out)


def parse_http_response(raw: bytes) -> dict:
    """Raw HTTP/1.x response bytes -> {status, content_type, text}.

    Dechunks chunked bodies, honors the Content-Type charset (utf-8
    default, undecodable bytes replaced — a crawl pipeline must never
    crash on a bad page). Payloads that are NOT an HTTP response (bare
    HTML from our own writer) pass through with status None."""
    if raw[:5] != b"HTTP/":
        return {
            "status": None,
            "content_type": None,
            "text": raw.decode("utf-8", "replace"),
        }
    sep = raw.find(CRLF + CRLF)
    if sep < 0:
        sep = len(raw)
    head = raw[:sep].decode("latin-1")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    headers = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        headers[k.strip().lower()] = v.strip()
    body = raw[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    ctype = headers.get("content-type")
    charset = None
    if ctype:
        m = re.search(r"charset=\"?([\w\-]+)", ctype, re.I)
        if m:
            charset = m.group(1)
    if charset is None:
        # WHATWG-style prescan: many real pages carry the charset only in
        # <meta charset=...> / <meta http-equiv="Content-Type" ...>
        # within the first KB of markup
        head1k = body[:1024]
        m = re.search(
            rb"<meta[^>]+charset\s*=\s*[\"']?([\w\-]+)", head1k, re.I
        )
        charset = m.group(1).decode("ascii", "ignore") if m else "utf-8"
    try:
        text = body.decode(charset, "replace")
    except LookupError:  # unknown charset label on a real page
        text = body.decode("utf-8", "replace")
    return {"status": status, "content_type": ctype, "text": text}


def http_responses(records: DataFrame, payload_col: str = "payload") -> DataFrame:
    """WARC response records -> (url, warc_ts, http_status, content_type,
    html): the payload's HTTP envelope parsed off (status/headers/
    dechunk/charset), bare-HTML payloads passed through. Arrow-batched
    kernel, one narrow pass of its own: a second Python operator after
    the record walk. The KG job reads ``warc_documents`` instead, which
    runs this unwrap inside the record walk."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_http_response(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "warc_ts": pdf["warc_ts"].to_numpy(),
                    "http_status": pd.array(
                        [r["status"] for r in parsed], dtype="Int32"
                    ),
                    "content_type": [r["content_type"] for r in parsed],
                    "html": [r["text"] for r in parsed],
                }
            )

    return records.select("url", "warc_ts", payload_col).mapInPandas(
        kernel, HTTP_OUT_SCHEMA
    )


def build_http_response(
    body: bytes, content_type: str = "text/html; charset=utf-8"
) -> bytes:
    """Minimal HTTP/1.1 200 envelope — the wire shape CC response payloads
    have; used by the writer's http_wrap mode and the test fixtures."""
    return (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: " + content_type.encode() + CRLF
        + b"Content-Length: " + str(len(body)).encode() + CRLF
        + CRLF
        + body
    )


def _parse_records(files: DataFrame) -> DataFrame:
    """binaryFile rows -> WARC records, an Arrow-batched record walk."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                rows.extend(parse_warc_bytes(bytes(content)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "record_type", "payload"]
            )

    return files.select("content").mapInPandas(parse, WARC_OUT_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan: one task per file (the crawl-archive split
    unit), records parsed by an Arrow-batched kernel. Returns
    (url, warc_ts, record_type, payload)."""
    return _parse_records(spark.read.format("binaryFile").load(path))


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Structured-streaming WARC ingestion: the crawl drop-directory as an
    unbounded source. Same file-as-split-unit + record-walk kernel as
    ``read_warc``, but over ``readStream`` — each micro-batch processes
    only files that appeared since the last checkpointed offset, which is
    exactly how a live crawl lands (CC publishes ~1 GB .warc.gz files
    continuously). Compose with ``http_responses`` and the extract/spot
    stages for an end-to-end streaming KG ingest (``warc_documents`` over
    the same source does the first two in one kernel); the binaryFile
    source needs its schema pinned explicitly in streaming mode."""
    return _parse_records(
        spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA).load(path)
    )


def warc_documents(files: DataFrame) -> DataFrame:
    """binaryFile rows (batch or streaming) -> documents
    (url, warc_ts timestamp, text), in one Python operator.

    Per file the kernel composes the pure functions the one-operator-each
    path runs: ``parse_warc_bytes``, the response-record filter,
    ``parse_http_response`` and ``extract.extract_text_from_html``. The
    rows equal ``extract_text(http_responses(read_warc(..).filter(
    record_type == "response"))).drop("html")`` with its timestamp cast,
    but the bytes cross into Python once, not three times: one Python
    worker per task instead of three."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for rec in parse_warc_bytes(bytes(content)):
                    if rec["record_type"] == "response":
                        text = parse_http_response(rec["payload"])["text"]
                        rows.append(
                            (rec["url"], rec["warc_ts"], extract_text_from_html(text))
                        )
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "text"])

    return files.select("content").mapInPandas(
        kernel, "url string, warc_ts string, text string"
    ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "text")


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "payload",
    compress: bool = False,
    http_wrap: bool = False,
) -> None:
    """One WARC file per partition, written by the task that owns the
    rows (no driver collect). Deterministic names via the partition id.

    ``compress=True`` emits Common Crawl's wire format — ``.warc.gz``
    with ONE GZIP MEMBER PER RECORD (so a reader can resync on member
    boundaries without decompressing the whole file); ``http_wrap=True``
    wraps each payload in a minimal HTTP/1.1 200 envelope, making the
    output byte-shape a real crawl archive (read back with
    ``read_warc`` + ``http_responses``)."""
    os.makedirs(out_dir, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf = io.BytesIO()
        n = 0
        for pdf in batches:
            for u, t, p in zip(pdf[url_col], pdf[ts_col], pdf[payload_col]):
                p = bytes(p)
                if http_wrap:
                    p = build_http_response(p)
                rec = build_warc_record(str(u), str(t), p)
                buf.write(gzip.compress(rec, mtime=0) if compress else rec)
                n += 1
        if n:
            with open(os.path.join(out_dir, f"part-{pid:05d}{ext}"), "wb") as fh:
                fh.write(buf.getvalue())
        yield pd.DataFrame({"partition": [pid], "n_records": [n]})

    # the count() action drives the writes; the returned frame is the
    # per-task manifest
    df.select(url_col, ts_col, payload_col).mapInPandas(
        dump, "partition int, n_records long"
    ).count()
