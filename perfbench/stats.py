"""Metric accounting for the product-path benchmark: turns one JVM result
(per-op records, set-up time, per-layer counters) into named metrics.
Shared by run.py, compare.py and the self-tests."""

import glob
import json
import math
import os
import re

WORKLOADS = ("ingest_batch", "stream_collect", "interactive_query",
             "ann_dedup")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# a tail percentile is reported only with at least this many samples
# beyond it
MIN_BEYOND = 10
FAILED = math.inf


def latencies(ops):
    """Per-op latencies in ms; a failed op counts as over any limit."""
    return [o["ms"] if o["ok"] else FAILED for o in ops]


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list, p in (0, 1]."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p percentile."""
    return n - max(1, math.ceil(p * n))


def tail_percentile(values, p):
    """The p percentile, or None unless MIN_BEYOND samples lie beyond it."""
    if not values or beyond(len(values), p) < MIN_BEYOND:
        return None
    return percentile(values, p)


def median(values):
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def end_to_end(raw):
    """Every end-to-end metric this run supports: name -> (value, unit, n).
    A latency percentile that lands on a failed op reads as the whole
    timed window (no finite limit is met)."""
    ops = raw["ops"]
    n = len(ops)
    wall = raw["timed_wall_s"]
    ok = [o for o in ops if o["ok"]]
    lat = latencies(ops)
    ceiling = max([wall * 1e3] + [o["ms"] for o in ok])

    def finite(v):
        return ceiling if v == FAILED else v

    m = {"setup_s": (raw["setup_s"], "s", 1),
         "rss_peak_mb": (raw["rss_peak_mb"], "MiB", 1)}
    if n:
        m["op_p50_ms"] = (finite(median(lat)), "ms", n)
        m["ops_per_s"] = (len(ok) / wall, "1/s", n)
        m["failed_share"] = ((n - len(ok)) / n, "ratio", n)
        p90 = tail_percentile(lat, 0.9)
        if p90 is not None:
            m["op_p90_ms"] = (finite(p90), "ms", n)
        rows = sum(o["rows_in"] for o in ok)
        if rows:
            m["rows_per_s"] = (rows / wall, "1/s", len(ok))
    return m


def p50_by_kind(ops):
    """kind -> (op_p50_ms, n): the blended median depends on the op mix,
    so each kind's median is printed beside it."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    return {k: (median(latencies(xs)), len(xs)) for k, xs in kinds.items()}


def report(raw, bench, traced):
    """The run's metrics, conditions and final result line."""
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e = end_to_end(raw)
    layers = dict(raw.get("layers") or {})
    if traced and ops:
        layers["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
    wanted = bench["per_layer" if traced else "end_to_end"]
    metrics = {}
    for spec in wanted:
        name = spec["name"]
        value = e2e[name][0] if not traced else layers.get(name)
        if value is None:
            raise SystemExit("metric %s missing from this run" % name)
        metrics[name] = {"value": value, "unit": spec["unit"]}
    checks = list(raw.get("checks") or [])
    conditions = dict(raw.get("conditions") or {})
    return {
        "workload": raw["workload"], "seed": raw["seed"], "traced": traced,
        "end_to_end": {k: {"value": v, "unit": u, "n": c}
                       for k, (v, u, c) in e2e.items()},
        "op_p50_ms_by_kind": {k: {"value": v, "n": c} for k, (v, c) in
                              p50_by_kind(ops).items()},
        "layers": layers, "checks": checks,
        "failures": [o for o in ops if not o["ok"]][:20],
        "conditions": conditions,
        "line": {"correct": bool(ops) and failed == 0 and not checks,
                 "attempted": len(ops), "failed": failed,
                 "metrics": metrics},
    }


def add_tracing_overhead(rep, results_dir):
    """Tracing overhead: the traced run's op_p50_ms against the latest
    untraced run of the same workload, seed and source digest, when one
    was kept (a run of other sources would mix a code change in)."""
    if "op_p50_ms" not in rep["end_to_end"]:
        return
    digest = rep["conditions"].get("source_digest")
    base = None
    for path in sorted(glob.glob(os.path.join(results_dir, "%s-s%d-t0-*.json"
                                              % (rep["workload"], rep["seed"])))):
        with open(path) as f:
            r = json.load(f)["report"]
        if r["conditions"].get("source_digest") == digest and \
                "op_p50_ms" in r["end_to_end"]:
            base = r["end_to_end"]["op_p50_ms"]["value"]
    if base is None:
        return
    traced = rep["end_to_end"]["op_p50_ms"]["value"]
    rep["tracing_overhead"] = {"untraced_op_p50_ms": base,
                               "traced_op_p50_ms": traced,
                               "diff_ms": traced - base,
                               "share": (traced - base) / base}


def describe(rep):
    """Human-readable lines: every metric with its unit and sample count."""
    out = ["workload %s seed %s traced %s" % (
        rep["workload"], rep["seed"], rep["traced"])]
    for name, m in sorted(rep["end_to_end"].items()):
        out.append("  %-24s %14.4f %-6s n=%d" % (
            name, m["value"], m["unit"], m["n"]))
    for kind, m in sorted(rep["op_p50_ms_by_kind"].items()):
        out.append("  %-24s %14.4f %-6s n=%d" % (
            "op_p50_ms[%s]" % kind, m["value"], "ms", m["n"]))
    for name, v in sorted(rep["layers"].items()):
        out.append("  %-36s %14.4f" % (name, v))
    if "tracing_overhead" in rep:
        t = rep["tracing_overhead"]
        out.append("  tracing overhead on op_p50_ms: %+.2f ms (%+.1f%%)" % (
            t["diff_ms"], 100 * t["share"]))
    for c in rep["checks"]:
        out.append("  CHECK FAILED: " + c)
    for o in rep["failures"]:
        out.append("  FAILED op %s %s: %s" % (o["id"], o["kind"], o["err"]))
    return out
