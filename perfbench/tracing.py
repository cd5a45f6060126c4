"""The traced run: spans around each layer's public functions, Spark
event-log counters per span, and the per-layer metrics built from them.

Each layer is timed from outside. Its input is persisted first, then the
layer's public function is called and its output forced (persisted and
counted), inside a span. A span records name, start, end, parent and run
id, and sets a Spark job group, so every job, stage and task in the event
log can be charged to the span that launched it.

A layer's metrics aggregate every span whose name starts with the layer
(``dedup`` and ``dedup.components`` both belong to ``dedup``). Spans named
``probe:...`` measure a count or a driver-side cost for a ratio and are
charged to no layer. A span's self time is its duration minus the time its
child spans cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession, functions as F

KG_LAYERS = ("warc", "extract", "segment", "spot", "disambig", "overlaps",
             "entity_types", "canonicalize", "triples", "lineage")
CURATION_LAYERS = ("textops", "dedup", "sampling")
UDF_LAYERS = ("warc", "extract", "segment", "spot")

# Which end-to-end metric each per-layer metric is meant to move, and on
# which workload. Metrics not listed fall back to their layer's entry.
LAYER_MOVES = {
    **{layer: ("docs_per_s", "kg_job_longdoc") for layer in KG_LAYERS},
    **{layer: ("docs_per_s", "corpus_curate") for layer in CURATION_LAYERS},
    "jobs": ("docs_per_s, cold_pass_s, rss_p90_mb", "the traced workload"),
}
METRIC_MOVES = {
    "spot.automaton_load_s": ("cold_pass_s", "kg_job_longdoc"),
    "overlaps.spill_mb": ("docs_per_s, rss_p90_mb", "kg_job_longdoc"),
    "overlaps.task_skew": ("docs_per_s, rss_p90_mb", "kg_job_longdoc"),
}
# The span whose forced output is the layer's rows_out, where it is not
# the span named after the layer: dedup's output is its verified pairs.
OUTPUT_SPAN = {"dedup": "dedup.verify"}


def moves(metric: str, workload: str) -> tuple[str, str]:
    """(end-to-end metrics, workload) that ``metric``, measured on
    ``workload``'s documents, is meant to move. Both layer suites run on
    every workload: the KG suite over corpus_curate's short, unsegmented
    documents stands in for the dropped kg_dense workload, and the curation
    suite over kg_job_longdoc's documents is a control that should move
    nothing, because that job does not call it."""
    target = METRIC_MOVES.get(metric) or LAYER_MOVES[metric.split(".", 1)[0]]
    if target[1] in (workload, "the traced workload"):
        return target
    if metric.split(".", 1)[0] in KG_LAYERS:
        return (target[0], "kg_dense (dropped; short-document stand-in)")
    return ("none (control)", workload)


class Tracer:
    """In-memory span recorder; ``spans`` is written out at the end of the
    run. ``sc`` is the Spark context whose job groups the spans set; point
    it at the new context after a restart."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{len(self.spans)}",
            "rows": 0, "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent["group"] if parent else None)


def force(span: dict, df: DataFrame) -> DataFrame:
    """Materialize a layer's output as the next layer's persisted input."""
    df = df.persist()
    span["rows"] += df.count()
    return df


# ---------------------------------------------------------------------------
# Spark event log -> counters per job group
def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def parse_event_log(directory: str) -> dict[str, dict]:
    """Per job group: jobs, per-stage task run times (ms), shuffle bytes
    written, bytes spilled to disk, output bytes written, Python worker time
    (ns, from the ``time to run Python workers`` SQL metric of the
    Arrow/pandas Python nodes) and rows generated by ``Generate`` nodes.
    Each Spark context writes a log of its own; stage and accumulator ids
    are only unique within one."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "task_ms": defaultdict(list), "shuffle_write": 0, "spill": 0,
        "output_bytes": 0, "python_ns": 0, "generated_rows": 0,
    })
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    apps = sorted(glob.glob(os.path.join(directory, "*")))
    if not apps:
        raise FileNotFoundError(f"no Spark event log under {directory}")
    for app in apps:
        paths = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        _parse_app(_events(paths), groups)
    return dict(groups)


def _parse_app(events, groups: dict[str, dict]) -> None:
    acc_meta: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_meta)
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                acc_meta[m["accumulatorId"]] = ("", m["name"], m.get("metricType", ""))
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = groups[group]
            g["task_ms"][ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
            g["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill"] += tm.get("Disk Bytes Spilled", 0)
            g["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in ev.get("Task Info", {}).get("Accumulables", []):
                if "Update" in a:
                    try:
                        acc[group][a["ID"]] += int(a["Update"])
                    except (TypeError, ValueError):
                        pass
    for group, values in acc.items():
        g = groups[group]
        for acc_id, value in values.items():
            node, name, mtype = acc_meta.get(acc_id, ("", "", ""))
            if name == "time to run Python workers":
                g["python_ns"] += value * (1 if mtype == "nsTiming" else 1_000_000)
            elif node == "Generate" and name == "number of output rows":
                g["generated_rows"] += value


def _skew(task_ms: dict[int, list]) -> float:
    """max/median task run time of the busiest stage (1.0 with no tasks)."""
    if not task_ms:
        return 1.0
    busiest = max(task_ms.values(), key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


def layer_metrics(spans: list[dict], groups: dict[str, dict]) -> dict[str, float]:
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    by_name = {s["name"]: s for s in spans}
    out: dict[str, float] = {}
    for layer in KG_LAYERS + CURATION_LAYERS + ("jobs",):
        mine = [s for s in spans if s["name"].split(".", 1)[0] == layer]
        gs = [groups.get(s["group"]) for s in mine]
        gs = [g for g in gs if g]
        task_ms: dict[int, list] = defaultdict(list)
        for g in gs:
            for sid, ts in g["task_ms"].items():
                task_ms[sid].extend(ts)
        out[f"{layer}.self_s"] = sum(
            (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children[s["id"]])
            for s in mine
        )
        out[f"{layer}.rows_out"] = by_name[OUTPUT_SPAN.get(layer, layer)]["rows"]
        out[f"{layer}.shuffle_write_mb"] = sum(g["shuffle_write"] for g in gs) / 1e6
        out[f"{layer}.spill_mb"] = sum(g["spill"] for g in gs) / 1e6
        out[f"{layer}.task_skew"] = _skew(task_ms)
        if layer in UDF_LAYERS:
            out[f"{layer}.python_s"] = sum(g["python_ns"] for g in gs) / 1e9

    def rows(name):
        return by_name[name]["rows"]

    def dur(name):
        return by_name[name]["end"] - by_name[name]["start"]

    def ratio(a, b):
        return a / b if b else 0.0

    trip_group = groups.get(by_name["triples"]["group"], {})
    emitted = trip_group.get("generated_rows", 0)
    lineage_group = groups.get(by_name["lineage"]["group"], {})
    out.update({
        "segment.segments_per_doc": ratio(rows("segment"), rows("extract")),
        "spot.stitch_keep_ratio": ratio(rows("spot.stitch"), rows("spot")),
        "spot.automaton_load_s": dur("probe:spot.automaton_load"),
        "disambig.candidates": rows("probe:disambig.candidates"),
        "disambig.link_ratio": ratio(rows("disambig"), rows("probe:disambig.candidates")),
        "overlaps.keep_ratio": ratio(rows("overlaps"), rows("disambig")),
        "triples.emitted": emitted,
        "triples.distinct_ratio": ratio(rows("triples"), emitted),
        "triples.write_s": dur("triples.write"),
        "lineage.jobs_per_stage": lineage_group.get("jobs", 0),
        "lineage.write_mb": lineage_group.get("output_bytes", 0) / 1e6,
        "textops.gate_keep_ratio": ratio(rows("textops"), rows("probe:textops.input")),
        "dedup.candidate_pairs": rows("dedup.lsh"),
        "dedup.verify_ratio": ratio(rows("dedup.verify"), rows("dedup.lsh")),
    })
    return out


# ---------------------------------------------------------------------------
# Layer suites: each layer's public function over the previous layer's
# persisted output, in the order the jobs call them.
def kg_layers(tr: Tracer, spark: SparkSession, p: dict, scratch: str) -> None:
    from kgspark import automaton, disambig, overlaps, segment, spot, triples
    from kgspark.canonicalize import canonicalize
    from kgspark.entity_types import entity_types_map
    from kgspark.extract import extract_text
    from kgspark.lineage import StageRunner
    from kgspark.pipeline import PipelineConfig
    from kgspark.warc import http_responses, read_warc

    cfg = PipelineConfig()
    lex = spark.read.parquet(p["lexicon"]).persist()
    rd = spark.read.parquet(p["redirects"]).persist()
    sa = spark.read.parquet(p["sameas"]).persist()
    lex.count(), rd.count(), sa.count()

    with tr.span("warc") as s:
        docs = force(s, http_responses(
            read_warc(spark, p["warc"]).filter(F.col("record_type") == "response")
        ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "html"))
    with tr.span("extract") as s:
        docs = force(s, extract_text(docs).drop("html"))
    with tr.span("segment") as s:
        segs = force(s, segment.segment_documents(
            docs, max_len=cfg.max_len, overlap=cfg.overlap
        ).withColumn("doc_tokens", disambig.hashed_tokens(F.col("text"))))

    # a cold automaton load in the driver: compile + publish on a fresh
    # copy of the artifact, as the first spotting worker does
    cold = os.path.join(scratch, "artifact-cold")
    shutil.copytree(p["artifact"], cold,
                    ignore=shutil.ignore_patterns("_flat_compiled*", "_flat_tmp_*"))
    with tr.span("probe:spot.automaton_load"):
        automaton.load_automaton_from_artifact(cold)
    with tr.span("spot") as s:
        emitted = force(s, spot.spot_segments(
            segs, p["artifact"], doc_col="url",
            keep_extra=("keep_from", "keep_to", "doc_tokens"),
        ))
    with tr.span("spot.stitch") as s:
        spots = force(s, segment.stitch_filter(emitted))
    with tr.span("probe:disambig.candidates") as s:
        s["rows"] += disambig.generate_candidates(spots, lex, min_support=cfg.min_support).count()
    with tr.span("disambig") as s:
        linked = force(s, disambig.link_mentions(
            spots, lex, docs, doc_col="url", min_support=cfg.min_support,
            confidence=cfg.confidence, partition_by_doc=True, attach_type_cols=False,
        ))
    with tr.span("overlaps") as s:
        resolved = force(s, overlaps.overlap_pipeline(
            linked, keep=cfg.keep, omit=cfg.omit, tiebreak=cfg.tiebreak, doc_col="doc_id",
        ).drop(*overlaps.OVL_FLAGS))
    with tr.span("entity_types") as s:
        typed = force(s, entity_types_map(disambig.attach_types(resolved, lex), cfg.mapping))
    with tr.span("canonicalize") as s:
        canonical = force(s, canonicalize(typed, rd, sa))
    with tr.span("triples") as s:
        trip = force(s, triples.mentions_to_triples(canonical))
        n_triples = s["rows"]
    with tr.span("triples.write"):
        triples.write_triples(trip, os.path.join(scratch, "triples-out"))
    with tr.span("lineage") as s:
        StageRunner(spark, os.path.join(scratch, "lineage")).run("triples", lambda: trip)
        s["rows"] = n_triples


def curation_layers(tr: Tracer, spark: SparkSession, p: dict, cap: int, span_frac: float) -> None:
    from kgspark import dedup, sampling, textops

    docs = spark.read.parquet(p["corpus"]).persist()
    with tr.span("probe:textops.input") as s:
        s["rows"] += docs.count()
    text = F.col("text")
    with tr.span("textops") as s:  # the quality gate, composed as jobs/curate.py does
        ok = (
            textops.lang_id(text).isin("en", "und")
            & (textops.quality_score(text) >= 0.5)
            & textops.repetition_stats(text)["gopher_keep"]
        )
        kept = force(s, docs.filter(ok))
    with tr.span("dedup.exact") as s:
        reps = dedup.exact_duplicates(kept)
        kept = force(s, kept.join(reps.filter(~F.col("is_dup")).select("doc_id"), "doc_id"))
    with tr.span("dedup.spans") as s:
        spans = force(s, dedup.dup_ngram_spans(kept, n=8, min_docs=2))
        covered = spans.groupBy("doc_id").agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_dup")
        )
        frac = F.col("_dup") / textops.token_count(text)
        kept = force(s, kept.join(covered, "doc_id", "left")
                     .filter(F.col("_dup").isNull() | (frac <= span_frac)).drop("_dup"))
    with tr.span("sampling") as s:
        picked = force(s, sampling.stratified_sample(kept, k=cap))
    with tr.span("textops.pack") as s:
        force(s, textops.pack_sequences(
            kept.join(picked.select("doc_id"), "doc_id"), budget=2048, n_shards=64))
    with tr.span("dedup.minhash") as s:
        sigs = force(s, dedup.minhash_docs(docs, "doc_id", "text", k=16, shingle_words=3))
    with tr.span("dedup.lsh") as s:
        cands = force(s, dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4))
    with tr.span("dedup.verify") as s:
        pairs = force(s, dedup.jaccard_verified_pairs(cands, threshold=0.5))
    with tr.span("dedup.components") as s:
        force(s, dedup.connected_components(pairs))
