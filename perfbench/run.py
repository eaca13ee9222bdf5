#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the runner (perfbench/build.py), runs workload W in
one JVM with a `local[nproc]` Spark session, checks its outputs and
prints two JSON lines: a detail line (run context, the workload's named
metrics, output checks) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer ones.
`--overhead` runs the workload untraced and then traced and adds the
traced minus untraced difference of every end-to-end metric.

All scratch state (generated inputs, versioned sinks, the cursor file,
Spark's local dirs, DuckDB's spill files) lives under
perfbench/target/state-<pid>-<trace>, which is removed at exit. See
perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ["initial_load", "hourly_batches", "catalog_sweep"]
DRIVER_HEAP = "3g"
JAVA_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
SPANS = ["op", "ibrd.stage", "ibrd.run_batch", "ibrd.load", "sources.page",
         "sources.commit", "semantic.collect"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PACKS = ["Relational", "Exprs", "Warehouse", "Windows", "Dashboard", "Stats",
         "Streaming", "AsOf", "TextAnalysis", "Bpe", "Curation", "Dedup", "Crawl",
         "Similarity", "Multimodal", "Quality", "Graph", "LinkGraph", "NgramLm",
         "Classify", "ZOrder"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT):
            return "unknown"
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        return head.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_once(cp, workload, seed, seconds, trace):
    """Run the Scala runner once; return its raw record."""
    state = os.path.join(build.TARGET, f"state-{os.getpid()}-{int(trace)}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    out = os.path.join(state, "record.json")
    log = os.path.join(state, "runner.log")
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--state", state, "--out", out,
              "--cpus", str(cpus())])
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=state)
            try:
                rc = proc.wait(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: runner failed ({rc})")
        with open(out) as fh:
            rec = json.load(fh)
        rec["oracle_rows"] = oracle_rows(rec.get("oracle"), os.path.join(state, "duckdb"))
        return rec
    finally:
        shutil.rmtree(state, ignore_errors=True)


def oracle_rows(oracle, spill_dir):
    """Row count of each catalog entry's oracle SQL, run by DuckDB over the
    generated tables; None when the run has no oracle or DuckDB is absent."""
    if not oracle:
        return None
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect(config={"threads": cpus(), "memory_limit": "1GB",
                                 "temp_directory": spill_dir})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['dir']}/{t}.parquet/*.parquet')")
    out = {}
    for q, sql in oracle["sql"].items():
        try:
            out[q] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except duckdb.Error as e:
            out[q] = f"oracle error: {e}"[:300]
    con.close()
    return out


def failures(rec):
    """(attempted, failed, reasons). An op fails if it threw or its output
    check failed (a catalog entry's row count must equal its oracle's);
    an hourly batch also fails if the persisted-RDD count
    after it exceeds the count after the first batch; a failed
    end-of-run check counts as one more failed op."""
    ops = rec["ops"]
    bad = {o["id"]: o["err"] or "output mismatch" for o in ops if not o["ok"]}
    want = rec.get("oracle_rows") or {}
    for o in ops:
        if o["ok"] and o.get("query") in want and want[o["query"]] != o.get("rows"):
            bad[o["id"]] = f"{o['query']}: {o.get('rows')} rows, oracle {want[o['query']]}"
    base = rec.get("persisted_baseline")
    if base is not None:
        counts = [o.get("persisted_after", 0) for o in ops]
        for i in M.persisted_growth(base, counts):
            bad.setdefault(ops[i]["id"], f"persisted RDDs {counts[i]} > {base} after batch 1")
    reasons = [f"op {k}: {v}" for k, v in sorted(bad.items())]
    if rec.get("oracle") and rec.get("oracle_rows") is None:
        reasons.append("catalog row counts unchecked: DuckDB is not importable")
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    reasons += [f"check {c['name']}: {c['detail']}" for c in failed_checks]
    attempted = len(ops)
    return attempted, min(attempted, len(bad) + len(failed_checks)), reasons


def peak_live_heap_mb(rec):
    """Largest heap in use after the clean-up that follows each op."""
    return max(rec["live_heap_mb"][1:], default=0.0)


def end_to_end(rec):
    ms = [o["end"] - o["start"] for o in rec["ops"]]
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "op_p50_ms": {"value": M.median(ms), "unit": "ms"},
        "peak_live_heap_mb": {"value": peak_live_heap_mb(rec), "unit": "MB"},
    }


def passes(ops):
    """Whole passes a catalog run made over its sweep (one op per entry)."""
    entries = {o["query"] for o in ops}
    return max(1, len(ops) // max(1, len(entries)))


def written_per_input(ops):
    """Bytes written to each new sink version per raw page byte (0 for
    workloads that read no pages)."""
    return M.bytes_per_input([o.get("written_bytes", 0) for o in ops],
                             [o.get("raw_bytes", 0) for o in ops])


def named(rec, attempted, failed):
    """The workload's own metrics, by the names the README uses."""
    ops = rec["ops"]
    ms = [o["end"] - o["start"] for o in ops]
    out = {"error_rate": failed / attempted if attempted else 0.0,
           "samples": len(ms), "op_ms": ms, "setup_s": rec["setup_s"],
           "live_heap_mb": rec["live_heap_mb"]}
    w = rec["workload"]
    if w == "initial_load":
        out["build_p50_s"] = M.median(ms) / 1000
    elif w == "hourly_batches":
        p, v = M.tail(ms)
        out.update({
            "batch_p50_s": M.median(ms) / 1000,
            "batch_tail_percentile": p,
            "batch_tail_s": v / 1000 if v is not None else None,
            "batch_rows_per_s": sum(o.get("rows", 0) for o in ops) / (sum(ms) / 1000),
            "written_bytes_per_input_byte": written_per_input(ops),
        })
    elif w == "catalog_sweep":
        out["passes"] = passes(ops)
        out["catalog_s"] = sum(ms) / 1000 / out["passes"]
        out["query_ms"] = {}
        for o in ops:
            out["query_ms"].setdefault(o["query"], []).append(o["end"] - o["start"])
    return out


def per_layer(rec):
    """Per-op means of the layer metrics of a traced run."""
    ops = rec["ops"]
    n = max(len(ops), 1)
    c = rec["counters"]
    stages = c["stages"]
    execs = {e["id"]: e for e in c["execs"]}
    layers = M.file_layers(os.path.join(ROOT, "src", "main", "scala"),
                           os.path.join(HERE, "src"))
    spans = rec["spans"]
    selfs = M.self_times(spans)

    def stage_sum(job, key):
        return sum(stages.get(str(s), {}).get(key, 0) for s in job["stages"])

    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    for o in ops:
        lo, hi = o["start"], o["end"]
        wall = hi - lo
        jobs = [j for j in c["jobs"] if lo <= j["start"] <= hi and "end" in j]
        op_spans = [s for s in spans if s["op"] == o["id"]]
        cats = {}
        for j in jobs:
            cats.setdefault(M.split_category(j, execs, layers), []).append(j)
            add(f"layer.{M.job_layer(j, execs, layers, op_spans)}.task_s",
                stage_sum(j, "task_ms") / 1000)

        def wall_of(js):
            return M.union_length([(j["start"], j["end"]) for j in js], lo, hi) / 1000

        def total(js, key):
            return sum(stage_sum(j, key) for j in js)

        shuffle = "shuffle_write_bytes"
        landing = cats.get("landing", [])
        dims = cats.get("dims", []) + [
            j for j in cats.get("sink", [])
            if M.layer_of_table(M.table_of_write(execs.get(j["exec"], {}).get("write", ""))) == "dims"]
        fact = cats.get("fact", [])
        writes = [j for j in jobs if execs.get(j["exec"], {}).get("write")]
        sink_reads = [j for j in jobs if any(rec["sink_root"] in s
                                             for s in execs.get(j["exec"], {}).get("scans", []))]
        add("ibrd.landing_s", wall_of(landing))
        add("ibrd.landing_shuffle_bytes", total(landing, shuffle))
        add("warehouse.dims_s", wall_of(dims))
        add("warehouse.dims_jobs", len(dims))
        add("warehouse.dims_shuffle_bytes", total(dims, shuffle))
        add("warehouse.fact_s", wall_of(fact))
        add("warehouse.fact_shuffle_bytes", total(fact, shuffle))
        add("sources.page_s", sum(s["end"] - s["start"] for s in op_spans
                                  if s["name"] == "sources.page") / 1000)
        add("sources.sink_write_s", wall_of(writes))
        add("sources.sink_bytes_written", total(writes, "output_bytes"))
        add("sources.sink_read_bytes", total(sink_reads, "input_bytes"))
        add("spark.persisted_rdds", o.get("persisted_rdds", 0))
        add("spark.storage_mem_bytes", o.get("storage_mem_bytes", 0))
        add("spark.gc_s", o.get("gc_ms", 0) / 1000)
        add("spark.jobs", len(jobs))
        add("spark.task_s", total(jobs, "task_ms") / 1000)
        add("spark.shuffle_bytes", total(jobs, shuffle))
        tr = o.get("tracker", {})
        collect_ms = sum(s["end"] - s["start"] for s in op_spans if s["name"] == "semantic.collect")
        sem_jobs = [j for j in jobs if (M.innermost_span(op_spans, j["start"]) or {}).get("name")
                    == "semantic.collect"]
        for k in ("analysis_ms", "optimization_ms", "planning_ms"):
            add(f"semantic.{k}", tr.get(k, 0.0))
        add("semantic.execute_ms", max(0.0, collect_ms - tr.get("optimization_ms", 0.0)
                                       - tr.get("planning_ms", 0.0)) if tr else 0.0)
        add("semantic.jobs_per_visual", len(sem_jobs))
        add("semantic.scan_bytes", total(sem_jobs, "input_bytes"))
        add("plans.graft_rules_ms", tr.get("graft_rules_ms", 0.0))
        covered = M.union_length([(j["start"], j["end"]) for j in jobs], lo, hi)
        for k in M.SPLIT:
            add(f"share.{k}", wall_of(cats.get(k, [])) * 1000 / wall)
        add("share.unexplained", 1 - covered / wall)
        for s in op_spans:
            if s["name"] in SPANS:
                add(f"self.{s['name']}_s", selfs[s["id"]] / 1000)
        if "pack" in o:
            first_job = min((j["start"] for j in jobs), default=hi)
            add(f"operators.{o['pack']}.wall_s", wall / 1000)
            add("operators.compile_s", (first_job - lo) / 1000)
            add("operators.execute_s", (hi - first_job) / 1000)
            add("operators.shuffle_bytes", total(jobs, shuffle))
            add("operators.tmp_dirs_leaked", o.get("tmp_dirs", 0))
    out = {name: {"value": acc.get(name, 0.0) / n, "unit": unit} for name, unit in PER_LAYER}
    # the operators metrics are per pass over the catalog sweep
    per_pass = passes(ops) if rec["workload"] == "catalog_sweep" else n
    for name, _ in OPERATORS:
        out[name]["value"] = acc.get(name, 0.0) / per_pass
    out["sources.written_bytes_per_input_byte"]["value"] = written_per_input(ops)
    return out


PER_LAYER = (
    [("ibrd.landing_s", "s/op"), ("ibrd.landing_shuffle_bytes", "bytes/op"),
     ("warehouse.dims_s", "s/op"), ("warehouse.dims_jobs", "count/op"),
     ("warehouse.dims_shuffle_bytes", "bytes/op"), ("warehouse.fact_s", "s/op"),
     ("warehouse.fact_shuffle_bytes", "bytes/op"),
     ("sources.page_s", "s/op"), ("sources.sink_write_s", "s/op"),
     ("sources.sink_bytes_written", "bytes/op"), ("sources.sink_read_bytes", "bytes/op"),
     ("sources.written_bytes_per_input_byte", "ratio"),
     ("spark.persisted_rdds", "count/op"), ("spark.storage_mem_bytes", "bytes/op"),
     ("spark.gc_s", "s/op"), ("spark.jobs", "count/op"), ("spark.task_s", "s/op"),
     ("spark.shuffle_bytes", "bytes/op"),
     ("semantic.analysis_ms", "ms/op"), ("semantic.optimization_ms", "ms/op"),
     ("semantic.planning_ms", "ms/op"), ("semantic.execute_ms", "ms/op"),
     ("semantic.jobs_per_visual", "count/op"), ("semantic.scan_bytes", "bytes/op"),
     ("plans.graft_rules_ms", "ms/op")]
    + [(f"share.{k}", "ratio") for k in M.SPLIT + ["unexplained"]]
    # no job is called from the plans rules, every call site resolves to a
    # mapped file, and the benchmark's own calls run inside layer spans,
    # so those three would always read 0
    + [(f"layer.{k}.task_s", "s/op") for k in M.LAYERS if k not in ("plans", "spark", "bench")]
    + [(f"self.{k}_s", "s/op") for k in SPANS])
OPERATORS = (
    [(f"operators.{p}.wall_s", "s/pass") for p in PACKS]
    + [("operators.compile_s", "s/pass"), ("operators.execute_s", "s/pass"),
       ("operators.shuffle_bytes", "bytes/pass"), ("operators.tmp_dirs_leaked", "count/pass")])
PER_LAYER += OPERATORS


def report(rec, src_hash):
    attempted, failed, reasons = failures(rec)
    ctx = dict(rec["context"])
    ctx.update({"git_commit": git_commit(), "source_sha256": src_hash,
                "driver_heap": DRIVER_HEAP})
    detail = {"workload": rec["workload"], "seed": rec["seed"], "trace": rec["trace"],
              "named": named(rec, attempted, failed),
              "setup_phases": rec["setup_phases"], "failures": reasons[:20],
              "checks": rec["checks"], "context": ctx}
    metrics = per_layer(rec) if rec["trace"] else end_to_end(rec)
    if rec["trace"]:
        detail["end_to_end_traced"] = {k: v["value"] for k, v in end_to_end(rec).items()}
        selfs = M.self_times(rec["spans"])
        detail["spans"] = [dict(s, workload=rec["workload"], self_ms=selfs[s["id"]])
                           for s in rec["spans"]]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return detail, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced, then traced, and report the difference")
    a = ap.parse_args()
    cp, src_hash = build.build()
    if a.overhead:
        plain = end_to_end(run_once(cp, a.workload, a.seed, a.seconds, False))
        rec = run_once(cp, a.workload, a.seed, a.seconds, True)
        traced = end_to_end(rec)
        print(json.dumps({"tracing_overhead": {
            k: {"untraced": plain[k]["value"], "traced": traced[k]["value"],
                "traced_minus_untraced": traced[k]["value"] - plain[k]["value"],
                "unit": plain[k]["unit"]} for k in plain}}))
    else:
        rec = run_once(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    detail, result = report(rec, src_hash)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
