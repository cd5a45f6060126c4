#!/usr/bin/env python3
"""Summarize or compare result files written by ``perfbench/run.py``.

    python3 perfbench/compare.py summary .perfbench_out/*.json
    python3 perfbench/compare.py diff --base A/*.json --new B/*.json

``summary`` prints, per workload, each end-to-end metric's median,
quartiles and spread (interquartile range over median) across the files,
the per-layer medians of traced files, and the median tracing overhead
of the traced files (``jobs.trace_overhead_s``). ``diff`` prints each
end-to-end metric's median change between two sets, against the metric's
bound in ``BENCHMARK.json``.

Results are only comparable on one host with one set of settings: both
commands refuse files whose fingerprints differ in SETTINGS, and ``diff``
refuses two sets whose median single-core calibration rates differ by more
than CALIB_TOLERANCE.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETTINGS = ("nproc", "master", "driver_mem", "shuffle_partitions", "spark", "python")
CALIB_TOLERANCE = 0.25


def load(paths: list[str]) -> list[dict]:
    results = []
    for p in paths:
        with open(p) as fh:
            results.append(json.load(fh))
    return results


def check_fingerprints(*sets: list[dict]) -> None:
    first = sets[0][0]["fingerprint"]
    for r in (r for results in sets for r in results):
        diff = [k for k in SETTINGS if r["fingerprint"].get(k) != first.get(k)]
        if diff:
            sys.exit(f"refusing to compare: fingerprints differ in {diff}")
    calib = [statistics.median(r["fingerprint"]["hw_calib_1"] for r in rs) for rs in sets]
    if max(calib) > (1 + CALIB_TOLERANCE) * min(calib):
        sys.exit(f"refusing to compare: median calibration rates {calib} differ by "
                 f"more than {CALIB_TOLERANCE:.0%}")


def stats(values: list[float]) -> dict:
    out = {"n": len(values), "median": statistics.median(values), "values": values}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / abs(out["median"]) if out["median"] else None)
    return out


def summarize(results: list[dict]) -> dict:
    by_wl: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for r in results:
        by_wl[r["workload"]][r["trace"]].append(r)
    out = {"fingerprint": {k: results[0]["fingerprint"].get(k) for k in SETTINGS}}
    for wl, runs in sorted(by_wl.items()):
        entry: dict = {}
        for trace, rs in sorted(runs.items()):
            names = rs[0]["result"]["metrics"].keys()
            key = "per_layer" if trace else "end_to_end"
            entry[key] = {
                m: stats([r["result"]["metrics"][m]["value"] for r in rs]) for m in names
            }
            entry[key + "_seeds"] = sorted(r["fingerprint"]["seed"] for r in rs)
            entry[key + "_failed"] = sum(r["result"]["failed"] for r in rs)
            entry[key + "_attempted"] = sum(r["result"]["attempted"] for r in rs)
        if 1 in runs:
            entry["tracing_overhead_s"] = statistics.median(
                r["result"]["metrics"]["jobs.trace_overhead_s"]["value"] for r in runs[1]
            )
        out[wl] = entry
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    d = sub.add_parser("diff")
    d.add_argument("--base", nargs="+", required=True)
    d.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)

    if args.cmd == "summary":
        results = load(args.files)
        check_fingerprints(results)
        print(json.dumps(summarize(results), indent=1))
        return 0

    base, new = load(args.base), load(args.new)
    check_fingerprints(base, new)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sb, sn = summarize(base), summarize(new)
    for wl in sorted(set(sb) & set(sn) - {"fingerprint"}):
        for m in spec["end_to_end"]:
            b = sb[wl]["end_to_end"][m["name"]]
            n = sn[wl]["end_to_end"][m["name"]]
            change = (n["median"] - b["median"]) / b["median"]
            worse = change < 0 if m["better"] == "higher" else change > 0
            verdict = "regression" if worse and abs(change) > m["bound"] else "within bound"
            if b.get("spread") is not None and b["spread"] > m["bound"]:
                verdict = "unresolved (spread above bound)"
            print(f"{wl:16s} {m['name']:12s} {b['median']:12.4f} -> {n['median']:12.4f} "
                  f"{change:+7.1%}  bound {m['bound']:.0%}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
