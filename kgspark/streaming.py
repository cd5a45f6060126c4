"""Streaming-shaped operators.

The reference is batch-only (SURVEY §2.9); a crawl-scale engine still needs
the stream-processing shapes. Two layers:

- ``sessionize``: gap-based sessionization as a batch window plan (lag +
  running sum) — the relational formulation that also serves as the DuckDB
  oracle target.
- ``streaming_doc_counts``: a Structured Streaming wiring of the ingest
  path (readStream -> watermark -> windowed count) used by tests to prove
  the pipeline's transforms compose under a streaming plan; at production
  scale this is the incremental-crawl entry (new WARC partitions as a file
  stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign gap-based session ids per user (batch analogue of
    ``session_window``): a new session starts when the time since the
    previous event exceeds the gap."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col("event_id"))
    prev_ts = F.lag(ts_col).over(w)
    # parquet timestamps read as TIMESTAMP_NTZ can't cast straight to long;
    # go through timestamp_ltz (session tz is pinned to UTC).
    epoch = lambda c: c.cast("timestamp_ltz").cast("long")
    gap = epoch(F.col(ts_col)) - epoch(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_n = F.sum(F.col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        events.withColumn("_new", is_new)
        .withColumn(
            "session_id",
            # concat_ws, not format_string("%d-%d"): session ids must work
            # for string/UUID user keys too, not just numeric ones.
            F.concat_ws("-", F.col(user_col), sess_n),
        )
        .drop("_new")
    )


DEDUP_STATE_SCHEMA = "seen long"


def streaming_dedup(docs_stream: DataFrame, id_col: str = "url",
                    text_col: str = "text",
                    state_ttl_minutes: float | None = None) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document per content
    fingerprint, across micro-batches.

    Keyed by the same md5 fingerprint as the batch ``dedup_exact``
    operator; the state store remembers fingerprints already emitted
    (checkpoint-durable), so an incremental crawl drops re-crawled and
    mirrored bodies as they arrive instead of in a nightly batch job.
    Within a batch the deterministic winner is the minimum id.

    State is one long per distinct fingerprint, which grows without bound
    on an endless crawl. ``state_ttl_minutes`` bounds it: a fingerprint
    idle for the TTL is evicted (processing-time timeout), so a re-crawl
    seen again AFTER the TTL re-emits — the standard bounded-state
    dedup-window tradeoff. At 10^12 docs you would additionally shard the
    state store or front it with a bloom filter; the operator shape
    (groupBy fingerprint -> applyInPandasWithState) is unchanged.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    ttl_ms = None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            # fingerprint idle past the TTL: forget it (bounded state)
            state.remove()
            return
        fp = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        n = len(rows)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if state.exists:
            (seen,) = state.get
            state.update((seen + n,))
            return
        state.update((n,))
        yield pd.DataFrame([(rows[id_col].min(), fp)],
                           columns=[id_col, "fingerprint"])

    from kgspark.textops import fingerprint

    keyed = docs_stream.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        fn,
        # Output schema follows id_col so id_col="doc_id" emits doc ids
        # under "doc_id", not a column misnamed "url".
        outputStructType=f"{id_col} string, fingerprint string",
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def streaming_doc_counts(spark, docs_path: str, window: str = "1 hour") -> DataFrame:
    """readStream over a parquet documents directory -> watermarked windowed
    counts per lang. Returned unstarted (caller picks sink/trigger)."""
    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .parquet(docs_path)
    )
    return (
        stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_docs")
    )
