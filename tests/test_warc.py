"""WARC container round-trip: pure record codec + distributed read/write."""

import gzip

from pyspark.sql import functions as F

from kgspark.warc import (
    build_warc_bytes,
    build_warc_record,
    parse_warc_bytes,
    read_warc,
    write_warc,
)


def test_record_codec_roundtrip():
    recs = [
        ("http://a.example/x", "2026-01-01T00:00:00Z", b"hello world"),
        ("http://b.example/y", "2026-01-02T00:00:00Z", b""),
        # payload containing the record separator must not confuse the
        # parser (Content-Length framing, not delimiter scanning)
        ("http://c.example/z", "2026-01-03T00:00:00Z", b"a\r\n\r\nWARC/1.0\r\nb"),
    ]
    parsed = parse_warc_bytes(build_warc_bytes(recs))
    assert [(r["url"], r["warc_ts"], r["payload"]) for r in parsed] == recs
    assert all(r["record_type"] == "response" for r in parsed)


def test_record_codec_gzip_members():
    recs = [
        ("http://a/1", "2026-01-01T00:00:00Z", b"p1"),
        ("http://a/2", "2026-01-01T00:00:01Z", b"p2"),
    ]
    # .warc.gz convention: one gzip member per record, concatenated
    blob = b"".join(
        gzip.compress(build_warc_record(u, t, p)) for u, t, p in recs
    )
    parsed = parse_warc_bytes(blob)
    assert [(r["url"], r["payload"]) for r in parsed] == [
        ("http://a/1", b"p1"), ("http://a/2", b"p2")
    ]


def test_distributed_write_read_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"doc body {i} " * 3) for i in range(50)],
        "doc_id long, text string",
    ).repartition(4)
    payloads = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = str(tmp_path / "warc")
    write_warc(payloads, out)
    back = read_warc(spark, out).select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("long").alias("doc_id"),
        F.decode("payload", "UTF-8").alias("text"),
    )
    got = sorted((r["doc_id"], r["text"]) for r in back.collect())
    want = sorted((r["doc_id"], r["text"]) for r in docs.collect())
    assert got == want


def test_http_response_parsing():
    from kgspark.warc import build_http_response, parse_http_response

    # plain envelope
    r = parse_http_response(build_http_response("<p>hi</p>".encode()))
    assert (r["status"], r["text"]) == (200, "<p>hi</p>")
    assert "text/html" in r["content_type"]
    # charset honored (latin-1 bytes that are invalid utf-8)
    body = "caf\xe9".encode("latin-1")
    raw = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n"
           b"\r\n" + body)
    assert parse_http_response(raw)["text"] == "caf\xe9"
    # unknown charset label must not crash (decode utf-8 with replacement)
    raw = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=bogus-enc\r\n\r\nok"
    assert parse_http_response(raw)["text"] == "ok"
    # chunked transfer coding
    raw = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
           b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n")
    assert parse_http_response(raw)["text"] == "hello world"
    # non-HTTP payload passes through as text with status None
    r = parse_http_response(b"<html>bare</html>")
    assert (r["status"], r["text"]) == (None, "<html>bare</html>")
    # 404 status surfaces
    raw = b"HTTP/1.1 404 Not Found\r\n\r\ngone"
    assert parse_http_response(raw)["status"] == 404


def test_cc_wire_format_roundtrip(spark, tmp_path):
    """Common-Crawl byte shape end to end: write_warc(compress=True,
    http_wrap=True) emits .warc.gz files with one gzip member per record
    whose payloads are HTTP responses; read_warc + http_responses must
    recover every page text."""
    from kgspark.warc import http_responses

    rows = [(f"http://ex.org/{i}", "2026-01-01T00:00:00Z",
             f"<html>page {i} — caf\xe9</html>".encode()) for i in range(20)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, payload binary"
    ).repartition(3)
    out = str(tmp_path / "cc")
    write_warc(df, out, compress=True, http_wrap=True)
    import os

    names = sorted(os.listdir(out))
    assert all(n.endswith(".warc.gz") for n in names)
    # each file holds multiple independent gzip members
    blob = open(os.path.join(out, names[0]), "rb").read()
    assert blob.count(b"\x1f\x8b\x08") >= 2

    back = http_responses(
        read_warc(spark, out).filter(F.col("record_type") == "response")
    )
    got = {r["url"]: (r["http_status"], r["html"]) for r in back.collect()}
    assert got == {u: (200, p.decode()) for u, t, p in rows}


def test_http_meta_charset_prescan():
    """When the HTTP header lacks a charset, the first-KB <meta> prescan
    supplies it (both the HTML5 and the http-equiv forms); an explicit
    header charset always wins over meta."""
    from kgspark.warc import parse_http_response

    body = '<html><head><meta charset="ISO-8859-1"></head>caf\xe9</html>'.encode("latin-1")
    raw = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    assert "caf\xe9" in parse_http_response(raw)["text"]

    body = ('<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1"></head>ol\xe9</html>'
            ).encode("latin-1")
    raw = b"HTTP/1.1 200 OK\r\n\r\n" + body
    assert "ol\xe9" in parse_http_response(raw)["text"]

    # header charset wins over a conflicting meta
    body = '<meta charset="ISO-8859-1">é'.encode("utf-8")
    raw = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
           + body)
    assert "é" in parse_http_response(raw)["text"]


def test_streaming_warc_incremental_ingest(spark, tmp_path):
    """read_warc_stream: the crawl drop directory as an unbounded source.
    Two availableNow passes over one checkpoint — the second processes
    ONLY the file that landed in between (incremental offsets), and the
    HTTP unwrap composes on the streaming frame."""
    import os

    from kgspark.warc import (
        build_http_response,
        build_warc_record,
        http_responses,
        read_warc_stream,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, urls):
        blob = b"".join(
            build_warc_record(
                u, "2026-01-01T00:00:00Z",
                build_http_response(f"<html>{u}</html>".encode()),
            )
            for u in urls
        )
        (drop / name).write_bytes(blob)

    sink = str(tmp_path / "sink")

    def run_pass():
        out = http_responses(read_warc_stream(spark, str(drop)))
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {
            r["url"]: r["html"]
            for r in spark.read.parquet(sink).collect()
        }

    write_file("batch1.warc", ["http://a/1", "http://a/2"])
    got1 = run_pass()
    assert got1 == {
        "http://a/1": "<html>http://a/1</html>",
        "http://a/2": "<html>http://a/2</html>",
    }

    write_file("batch2.warc", ["http://b/3"])
    got2 = run_pass()  # same checkpoint: only the new file lands
    assert got2 == {
        "http://a/1": "<html>http://a/1</html>",
        "http://a/2": "<html>http://a/2</html>",
        "http://b/3": "<html>http://b/3</html>",
    }
    # incremental proof: the first batch's rows were NOT reprocessed —
    # the sink holds exactly 3 rows, not 5
    assert spark.read.parquet(sink).count() == 3


def _documents_fixture(drop):
    """A crawl drop covering every payload shape the ingest meets: one
    ``.warc`` and one ``.warc.gz`` (one gzip member per record)."""
    from kgspark.warc import build_http_response

    page = "<html><head><title>t</title></head><body><p>caf\xe9 {}</p></body></html>"
    plain = [
        # HTTP/1.1 envelope, utf-8 charset in the header
        ("http://a/envelope", build_http_response(page.format(1).encode())),
        # chunked transfer coding
        ("http://a/chunked",
         b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
         b"9\r\n<p>hello \r\n9\r\nworld</p>\r\n0\r\n\r\n"),
        # a non-utf-8 charset in the Content-Type header
        ("http://a/latin1", build_http_response(
            page.format(3).encode("latin-1"), "text/html; charset=ISO-8859-1")),
        # the charset only in a <meta charset> of the markup
        ("http://a/meta",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
         + '<meta charset="ISO-8859-1"><p>ol\xe9 4</p>'.encode("latin-1")),
        # bare HTML, the writer's default payload
        ("http://a/bare", page.format(5).encode()),
        # an empty payload
        ("http://a/empty", b""),
    ]
    ts = "2026-01-01T00:00:{:02d}Z"
    blob = b"".join(
        build_warc_record(u, ts.format(i), p) for i, (u, p) in enumerate(plain)
    )
    # a request record: not a document
    blob += build_warc_record(
        "http://a/envelope", ts.format(0),
        b"GET / HTTP/1.1\r\nHost: a\r\n\r\n", record_type="request",
    )
    (drop / "plain.warc").write_bytes(blob)
    gz = [(f"http://b/{i}", build_http_response(page.format(10 + i).encode()))
          for i in range(3)]
    (drop / "members.warc.gz").write_bytes(b"".join(
        gzip.compress(build_warc_record(u, ts.format(i), p))
        for i, (u, p) in enumerate(gz)
    ))
    return [u for u, _ in plain + gz]


def test_warc_documents_equals_the_operator_chain(spark, tmp_path):
    """warc_documents (one Python operator) gives the rows of the
    record walk -> response filter -> HTTP unwrap -> extraction chain,
    over a batch scan and over an availableNow stream of the same drop."""
    from kgspark.extract import extract_text
    from kgspark.warc import BINARY_FILE_SCHEMA, http_responses, warc_documents

    drop = tmp_path / "drop"
    drop.mkdir()
    urls = _documents_fixture(drop)

    chain = extract_text(http_responses(
        read_warc(spark, str(drop)).filter(F.col("record_type") == "response")
    )).drop("html").select(
        "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "text"
    )
    want = sorted(tuple(r) for r in chain.collect())
    assert sorted(r[0] for r in want) == sorted(urls)  # the request is gone
    texts = dict((r[0], r[2]) for r in want)
    assert texts["http://a/latin1"] == "caf\xe9 3"
    assert texts["http://a/meta"] == "ol\xe9 4"
    assert texts["http://a/chunked"] == "hello world"
    assert texts["http://a/empty"] == ""

    batch = warc_documents(spark.read.format("binaryFile").load(str(drop)))
    assert batch.columns == ["url", "warc_ts", "text"]
    assert dict(batch.dtypes)["warc_ts"] == "timestamp"
    assert sorted(tuple(r) for r in batch.collect()) == want

    sink = str(tmp_path / "sink")
    q = (
        warc_documents(
            spark.readStream.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA).load(str(drop))
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(sink).select("url", "warc_ts", "text")
    assert sorted(tuple(r) for r in streamed.collect()) == want
