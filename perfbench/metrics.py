"""The benchmark's arithmetic: percentiles, self time, attribution of
Spark jobs to layers, ratios and the persisted-RDD growth check. Pure
functions over the raw record the Scala runner writes; run.py calls
them and perfbench/tests checks them."""

import math
import os
import re
import statistics

# ---------------------------------------------------------------- timings


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(n):
    """The highest whole percentile with at least 10 samples beyond it,
    by nearest rank (rank = ceil(p/100 * n), samples beyond = n - rank).
    None when there are fewer than 11 samples."""
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def tail(values):
    """(percentile, value) by the tail rule, or (None, None)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


# ------------------------------------------------------------- intervals


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    cut = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in cut:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
    return out


def innermost_span(spans, t):
    """The shortest span whose interval contains time t, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]):
            best = s
    return best


# ----------------------------------------------------------- attribution

# Modules under src/main/scala/graft and the layer each belongs to.
MODULE_LAYER = {
    "sources": "sources", "ibrd": "ibrd", "warehouse": "warehouse",
    "semantic": "semantic", "plans": "plans", "operators": "operators",
    "functions": "operators", "multimodal": "operators",
    "streaming": "operators",
}
LAYERS = ["sources", "ibrd", "warehouse", "semantic", "plans", "operators",
          "entry", "bench", "spark"]


def file_layers(src_root, bench_root=None):
    """Source file name -> layer, from the engine's source tree: a file in
    graft/<module>/ belongs to that module's layer, a file directly in
    graft/ to `entry`, anything else (Spark bridges) to `spark`. Files of
    the benchmark's own tree map to `bench`."""
    out = {}
    if bench_root:
        for _, _, files in os.walk(bench_root):
            out.update((f, "bench") for f in files if f.endswith(".scala"))
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        if rel[:1] != ["graft"]:
            layer = "spark"
        elif len(rel) == 1:
            layer = "entry"
        else:
            layer = MODULE_LAYER.get(rel[1], rel[1])
        for f in files:
            if f.endswith(".scala"):
                out[f] = layer
    return out


CALLSITE = re.compile(r"^(\S+) at (\S+?\.(?:scala|java)):\d+")


def parse_callsite(callsite):
    """'count at IbrdWarehouse.scala:170' -> ('count', 'IbrdWarehouse.scala')."""
    m = CALLSITE.match(callsite or "")
    return (m.group(1), m.group(2)) if m else (None, None)


def resolve_callsite(job, execs, layers):
    """A job's call site. Jobs that Spark submits from its own threads
    (adaptive stages, broadcasts) name a thread-pool frame; those take the
    call site of the SQL execution they belong to."""
    _, f = parse_callsite(job.get("callsite"))
    if f in layers:
        return job["callsite"]
    return execs.get(job.get("exec"), {}).get("callsite") or job.get("callsite")


def layer_of_callsite(callsite, layers):
    """Layer of the source file a job was called from, by the file map;
    `spark` when the call site names no mapped file."""
    _, f = parse_callsite(callsite)
    return layers.get(f, "spark")


def span_layer(span):
    """Layer a benchmark span stands for, by its name's prefix
    ('operators.query' -> 'operators'); `bench` for set-up and op spans."""
    prefix = (span or {}).get("name", "").split(".", 1)[0]
    return prefix if prefix in LAYERS else "bench"


def job_layer(job, execs, layers, spans):
    """Layer of a job by the source file of its call site. A job called
    from the benchmark's own files (the count or collect that runs a
    query) takes the layer of the innermost benchmark span it started in."""
    layer = layer_of_callsite(resolve_callsite(job, execs, layers), layers)
    return span_layer(innermost_span(spans, job["start"])) if layer == "bench" else layer


def table_of_write(path):
    """Table name of a write target path ('' for none)."""
    return path.rstrip("/").rsplit("/", 1)[-1] if path else ""


def layer_of_table(table):
    """Write target table -> warehouse part it belongs to."""
    if table == "fact_loan":
        return "fact"
    if table.startswith("dim_"):
        return "dims"
    return "sources" if table else None


# Where a job's time goes in the build split. Precedence: the written
# table, then the call site.
LANDING_FILES = {"Clean.scala", "Ffill.scala", "RangeBuckets.scala"}
DIM_FILES = {"Scd.scala", "SurrogateKeys.scala", "IbrdWarehouse.scala"}
FACT_FILES = {"FactBuilder.scala"}
SPLIT = ["landing", "dims", "sink", "fact", "serve", "other"]


def split_category(job, execs, layers):
    method, f = parse_callsite(resolve_callsite(job, execs, layers))
    table = table_of_write(execs.get(job["exec"], {}).get("write", ""))
    part = layer_of_table(table)
    if part == "fact":
        return "fact"
    if part is not None:
        return "sink"
    if method in ("localCheckpoint", "checkpoint") or f in LANDING_FILES:
        return "landing"
    if f in DIM_FILES:
        return "dims"
    if f in FACT_FILES:
        return "fact"
    if layers.get(f) in ("semantic", "bench"):
        return "serve"
    return "other"


# ----------------------------------------------------------------- ratios


def bytes_per_input(written, raw):
    """Bytes the sinks wrote per raw input byte, over all batches."""
    total_raw = sum(raw)
    return sum(written) / total_raw if total_raw > 0 else 0.0


def persisted_growth(baseline, counts):
    """Indexes of batches whose persisted-RDD count exceeds the count
    after the first batch (the flat-storage contract)."""
    return [i for i, c in enumerate(counts) if c > baseline]
