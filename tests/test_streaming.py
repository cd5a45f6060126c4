"""Structured Streaming wiring: the ingest path composes under a streaming
plan (file source -> watermark -> windowed agg -> memory sink)."""

import uuid

from kgspark import synth
from kgspark.streaming import streaming_doc_counts


def test_streaming_doc_counts_available_now(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    synth.synth_documents(spark, n_docs=50).write.parquet(docs_dir)
    counts = streaming_doc_counts(spark, docs_dir, window="1 hour")
    qname = f"kgtest_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql(f"SELECT sum(n_docs) AS n FROM {qname}").collect()[0]["n"]
    assert got == 50
    langs = {r["lang"] for r in spark.sql(f"SELECT DISTINCT lang FROM {qname}").collect()}
    assert "en" in langs


def test_streaming_dedup_across_batches(spark, tmp_path):
    """streaming_dedup emits each content fingerprint once — duplicates are
    dropped within a batch AND across micro-batches (state survives via
    the checkpoint)."""
    import pandas as pd

    docs_dir = str(tmp_path / "docs")
    ck_dir = str(tmp_path / "dck")
    out_dir = str(tmp_path / "deduped")

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=["url", "text"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(docs_dir)

    def run_once():
        from kgspark.streaming import streaming_dedup

        stream = spark.readStream.schema("url string, text string").parquet(docs_dir)
        q = (
            streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return sorted(r["url"] for r in spark.read.parquet(out_dir).collect())

    # batch 1: two distinct bodies + an in-batch duplicate (min url wins)
    write_batch([("u1", "alpha beta gamma"), ("u2", "delta epsilon"),
                 ("u0", "alpha  beta gamma")])  # ws-normalized dup of u1
    assert run_once() == ["u0", "u2"]

    # batch 2: a cross-batch duplicate (dropped) + one new body
    write_batch([("u3", "ALPHA beta gamma"), ("u4", "fresh content here")])
    assert run_once() == ["u0", "u2", "u4"]


def test_streaming_dedup_state_ttl_evicts(spark, tmp_path):
    """state_ttl_minutes bounds the dedup state: a fingerprint idle past
    the TTL is evicted by an expired processing-time timer, so the same
    body seen again afterwards re-emits — the bounded-state dedup-window
    tradeoff.

    Choreography note: with ProcessingTimeTimeout the engine keeps
    scheduling ~1/s EMPTY micro-batches to fire timers, so an
    availableNow query never self-terminates and processAllAvailable
    never returns (measured: batch id 58 after 60 s on a 2-row input).
    Each run therefore polls the SINK for its expected url set (every
    batch carries a fresh sentinel row so commit progress is observable)
    and, where eviction must have fired, additionally waits for a few
    timer batches before stopping."""
    import time

    import pandas as pd

    from kgspark.streaming import streaming_dedup

    def harness(name):
        docs_dir = str(tmp_path / f"{name}_docs")
        ck_dir = str(tmp_path / f"{name}_ck")
        out_dir = str(tmp_path / f"{name}_out")

        def write_batch(rows):
            pdf = pd.DataFrame(rows, columns=["url", "text"])
            spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
                docs_dir
            )

        def read_out():
            try:
                return sorted(
                    r["url"] for r in spark.read.parquet(out_dir).collect()
                )
            except Exception:  # sink not created yet
                return []

        def run_once(ttl_minutes, expect, timer_batches=0, deadline=90):
            stream = spark.readStream.schema(
                "url string, text string"
            ).parquet(docs_dir)
            q = (
                streaming_dedup(stream, state_ttl_minutes=ttl_minutes)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ck_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                limit = time.time() + deadline
                while time.time() < limit and read_out() != expect:
                    time.sleep(0.5)
                got = read_out()
                assert got == expect, f"{name}: got {got}, want {expect}"
                if timer_batches:
                    # let empty timer batches run so expired timeouts fire
                    lp = q.lastProgress
                    base = lp["batchId"] if lp else 0
                    while time.time() < limit:
                        lp = q.lastProgress
                        if lp and lp["batchId"] >= base + timer_batches:
                            break
                        time.sleep(0.5)
            finally:
                q.stop()
            return read_out()

        return write_batch, run_once

    # long TTL (10 min >> test duration): behaves like unbounded state —
    # the cross-batch duplicate u3 is still dropped (u4 proves its batch
    # committed) even though every key now carries a live timer
    wb, run = harness("long")
    wb([("u1", "ttl body one"), ("u2", "other body")])
    run(10, ["u1", "u2"])
    wb([("u3", "ttl body one"), ("u4", "fresh two")])
    assert run(10, ["u1", "u2", "u4"]) == ["u1", "u2", "u4"]

    # tiny TTL (1.2 s): after idling past it the fingerprint's timer
    # expires, a later batch fires it -> state evicted -> the SAME body
    # re-emits (bounded-state dedup-window semantics)
    wb, run = harness("tiny")
    wb([("v1", "ttl body one")])
    run(0.02, ["v1"])
    time.sleep(3)  # idle past the TTL
    wb([("v2", "fresh body")])
    # hold the query open for a few timer batches so v1's expired timer
    # is guaranteed to have fired before the next run
    run(0.02, ["v1", "v2"], timer_batches=4)
    wb([("v3", "ttl body one")])
    assert run(0.02, ["v1", "v2", "v3"]) == ["v1", "v2", "v3"]
