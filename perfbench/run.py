#!/usr/bin/env python3
"""kgspark benchmark: one workload in a fresh process, on local[<nproc>].

    python3 perfbench/run.py --workload kg_job_longdoc --seed 1 --seconds 5 --trace 0

One client runs the workload's job in a closed loop: the first pass is the
cold pass, then warm passes follow each other until ``--seconds`` have
passed (at least one). Before every pass Spark's cache is cleared, and the
pass fails if a persisted RDD survives that. Every pass's output is checked
against the workload's reference (see ``workloads.py``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``tracing.py``); the metric names and units
come from ``BENCHMARK.json``. The last line of standard output is the
result object; the line before it holds the host and settings fingerprint
and the per-pass times. A fuller record (set-up times, output digests) is
written to ``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.
Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
PARTITIONS = NPROC
# The session factory's default driver heap (16g) does not fit small hosts;
# the benchmark pins its own and records it in the fingerprint.
DRIVER_MEM = "2g"
SETUP_REPS = 2  # setup_s is the session start plus the median of these


def proc_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children[p])
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the
    mmap-ed automaton tables) are split between them, not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


class RssSampler(threading.Thread):
    """Resident memory of the JVM plus its Python worker tree, sampled
    from /proc every ``period`` seconds while ``active`` is set."""

    period = 0.5

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.samples: list[int] = []
        self.active = threading.Event()
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            if self.active.is_set():
                self.samples.append(sum(pss_kb(p) for p in proc_tree(self.jvm_pid)))

    def stop(self) -> float:
        """The 90th percentile of the samples, in MB. A high percentile
        rather than the maximum: a Python worker that lives for a moment
        longer on one run than on another moves the maximum by its whole
        size."""
        self._stop_event.set()
        self.join(timeout=10)
        if len(self.samples) < 2:
            return max(self.samples, default=0) / 1024
        return statistics.quantiles(self.samples, n=10)[-1] / 1024


def start_session(work: str, event_log: str | None = None):
    from kgspark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -Xms: a heap committed up front keeps the JVM's resident size
        # from depending on when G1 decides to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    spark = get_spark(master=MASTER, app_name="perfbench",
                      shuffle_partitions=PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def shutdown(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM and its Python
    workers have exited (the JVM exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    pids = proc_tree(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(alive(p) for p in pids[1:]):
        time.sleep(0.1)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def one_pass(spark, wl, data: str, out: str) -> dict:
    from workloads import remove

    spark.catalog.clearCache()
    survivors = spark.sparkContext._jsc.getPersistentRDDs().size()
    rec: dict = {"ok": False}
    t = time.perf_counter()
    try:
        summary = wl.run_pass(data, out)
        rec["s"] = time.perf_counter() - t
        if survivors:
            raise AssertionError(f"{survivors} persisted RDDs survived clearing the cache")
        rec["check"] = wl.check(summary, out)
        rec["ok"] = True
    except Exception as e:  # a failed pass is counted, not fatal
        rec.setdefault("s", time.perf_counter() - t)
        rec["error"] = f"{type(e).__name__}: {e}"[:400]
    finally:
        remove(out)
    return rec


def run_passes(spark, wl, data: str, work: str, seconds: float) -> list[dict]:
    passes = [one_pass(spark, wl, data, os.path.join(work, "pass-0"))]
    t0 = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t0 < seconds:
        passes.append(one_pass(spark, wl, data, os.path.join(work, f"pass-{len(passes)}")))
    return passes


def gate(wl, data: str, passes: list[dict]) -> dict:
    """Compare every successful pass with the workload's reference."""
    ref = wl.reference(data) if any(p["ok"] for p in passes) else None
    for p in passes:
        if p["ok"] and p["check"] != ref:
            p["ok"] = False
            p["error"] = "output differs from the reference"
    return ref


def setup(spark, wl, work: str, reps: int) -> tuple[str, list[float]]:
    from workloads import remove

    times = []
    for i in range(reps):
        d = os.path.join(work, f"setup-{i}")
        t = time.perf_counter()
        wl.setup(d)
        times.append(time.perf_counter() - t)
        if i:
            remove(d)
    spark.catalog.clearCache()
    return os.path.join(work, "setup-0"), times


def untraced(args, work: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    spark, session_s = start_session(work)
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    rss.start()
    wl = WORKLOADS[args.workload](spark, args.seed, NPROC)
    data, setup_times = setup(spark, wl, work, SETUP_REPS)
    rss.active.set()
    passes = run_passes(spark, wl, data, work, args.seconds)
    rss_mb = rss.stop()
    t = time.perf_counter()
    ref = gate(wl, data, passes)
    reference_s = time.perf_counter() - t
    shutdown(spark)
    warm = [p["s"] for p in passes[1:]]
    metrics = {
        "docs_per_s": wl.n_docs / statistics.median(warm),
        "cold_pass_s": passes[0]["s"],
        "setup_s": session_s + statistics.median(setup_times),
        "rss_p90_mb": rss_mb,
    }
    detail = {
        "session_s": session_s, "setup_reps_s": setup_times, "reference_s": reference_s,
        "rss_samples": len(rss.samples), "n_docs": wl.n_docs,
        "passes": [{k: p.get(k) for k in ("s", "ok", "error")} for p in passes],
        "reference": ref,
    }
    return metrics, {"passes": passes, "detail": detail}


def restart(spark, wl, work: str, event_log: str | None = None):
    """Stop the Spark context and start a new one in the same JVM."""
    spark.stop()
    spark, _ = start_session(work, event_log=event_log)
    wl.spark = spark
    return spark


def traced(args, work: str) -> tuple[dict, dict]:
    """In a Spark context with the event log on: one set-up, a cold pass,
    then both layer suites over this workload's documents inside spans.
    Then three job passes, each the first pass of a new Spark context in
    the same JVM: untraced, traced (event log on, inside the ``jobs``
    span), untraced. The cold pass and the layer suites warm the JVM up
    first, and the traced pass is compared with the mean of the two
    untraced passes around it, so what speed-up the JVM still gains from
    pass to pass cancels out: the difference is the tracing overhead."""
    import tracing
    from workloads import CURATE_MAX_DUP_SPAN_FRAC, CURATE_SOURCE_CAP, WORKLOADS

    event_log = os.path.join(work, "eventlog")
    spark, _ = start_session(work, event_log=event_log)
    wl = WORKLOADS[args.workload](spark, args.seed, NPROC)
    data, _ = setup(spark, wl, work, 1)
    passes = [one_pass(spark, wl, data, os.path.join(work, "pass-cold"))]
    inputs = layer_inputs(spark, wl, data, work)
    tr = tracing.Tracer(spark, f"{args.workload}-{args.seed}")
    with tr.span("layers"):
        tracing.kg_layers(tr, spark, inputs, os.path.join(work, "layers"))
        spark.catalog.clearCache()
        tracing.curation_layers(tr, spark, inputs, CURATE_SOURCE_CAP, CURATE_MAX_DUP_SPAN_FRAC)
        spark.catalog.clearCache()
    spark = restart(spark, wl, work)
    passes.append(one_pass(spark, wl, data, os.path.join(work, "pass-untraced-a")))
    spark = restart(spark, wl, work, event_log)
    tr.sc = spark.sparkContext
    with tr.span("jobs"):
        passes.append(one_pass(spark, wl, data, os.path.join(work, "pass-traced")))
    spark = restart(spark, wl, work)
    passes.append(one_pass(spark, wl, data, os.path.join(work, "pass-untraced-b")))
    gate(wl, data, passes)
    shutdown(spark)

    untraced_s = (passes[1]["s"] + passes[3]["s"]) / 2
    traced_s = passes[2]["s"]
    metrics = tracing.layer_metrics(tr.spans, tracing.parse_event_log(event_log))
    metrics["jobs.pass_s"] = traced_s
    metrics["jobs.untraced_pass_s"] = untraced_s
    metrics["jobs.trace_overhead_s"] = traced_s - untraced_s
    spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json")
    with open(spans_path, "w") as fh:
        json.dump(tr.spans, fh, indent=1)
    detail = {
        "passes": [{k: p.get(k) for k in ("s", "ok", "error")} for p in passes],
        "spans": os.path.relpath(spans_path, ROOT),
        "moves": {m: tracing.moves(m, args.workload) for m in metrics},
    }
    return metrics, {"passes": passes, "detail": detail}


def layer_inputs(spark, wl, data: str, work: str) -> dict:
    """Paths the layer suites read. What this workload's set-up did not
    write (WARC and KG dims for the curation corpus, the curation schema for
    the KG documents) is written here, outside every timed span."""
    from kgspark import synth
    from workloads import curate_frame, write_kg_dims, write_warc_docs

    extra = os.path.join(work, "layer-inputs")
    p = {k: os.path.join(data, k) for k in ("warc", "lexicon", "artifact", "redirects", "sameas", "corpus")}
    if not os.path.exists(p["warc"]):
        p.update({k: os.path.join(extra, k) for k in ("warc", "lexicon", "artifact", "redirects", "sameas")})
        write_warc_docs(wl.documents(), p["warc"])
        write_kg_dims(spark, extra, synth.lexicon_df(spark))
    if not os.path.exists(p["corpus"]):
        p["corpus"] = os.path.join(extra, "corpus")
        curate_frame(wl.documents()).write.parquet(p["corpus"])
    return p


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "kgspark")):
        print("perfbench: the kgspark package is not in this checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["KGSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    from bench_scaling import hw_calib
    from workloads import remove

    fp = {
        # before the JVM starts: hw_calib forks its burners
        "nproc": NPROC, "hw_calib_1": hw_calib(1), "loadavg": os.getloadavg(),
        "seed": args.seed, "driver_mem": DRIVER_MEM, "master": MASTER,
        "shuffle_partitions": PARTITIONS, "python": platform.python_version(),
    }
    try:
        measured, run = (traced if args.trace else untraced)(args, work)
    finally:
        remove(work)
    import pyspark

    fp["spark"] = pyspark.__version__
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    failed = sum(not p["ok"] for p in run["passes"])
    result = {
        "correct": failed == 0,
        "attempted": len(run["passes"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    fp["run_s"] = time.perf_counter() - t_start
    detail = {"workload": args.workload, "trace": args.trace, "fingerprint": fp,
              **run["detail"], "result": result}
    out = os.path.join(ROOT, ".perfbench_out",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({"perfbench": {k: detail[k] for k in ("workload", "fingerprint", "passes")}},
                     default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
