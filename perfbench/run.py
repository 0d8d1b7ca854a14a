#!/usr/bin/env python3
"""Dataset-lifecycle benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark harness (`build.py`), runs one workload
in a fresh JVM (`local[nproc]`, one closed-loop client), checks every output
(the system's own invariants in the JVM, DuckDB oracles here), and prints a
detail line followed by the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, measured with tracing off.
`--trace 1` adds a traced pass (Spark and Catalyst listeners, FS counters)
and reports the per-layer metrics, including the tracing overhead.
Exits non-zero when a check fails, the build fails, or the run overruns.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# The op type whose latency is the workload's headline figure.
MAIN_OP = {
    "commit_small": "commit",
    "pipeline_bulk": "commit",
    "query_mixed": "query",
}

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("work_s", "s"),
    ("heap_peak_mb", "MB"),
]

# Per-op layer figures, reported as the median over the main op.
OP_LAYERS = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.sched_delay_s", "s"), ("spark.job_s", "s"), ("driver.self_s", "s"),
    ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.actions", "count"),
    ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"), ("jvm.gc_s", "s"),
]
# The same figures, fewer of them, for the other op types.
SECONDARY_OPS = ["transform", "verify", "push", "compact", "ingest", "iter_op"]
SECONDARY_LAYERS = [("spark.jobs", "count"), ("spark.job_s", "s"), ("driver.self_s", "s"),
                    ("spark.task_s", "s"), ("fs.bytes_read", "bytes")]
OTHER_LAYERS = [
    ("chain.blocks", "count"), ("chain.walk_s", "s"),
    ("chain.reread_bytes_per_block", "bytes"), ("ingest.latency_slope_ms_per_block", "ms"),
    ("ingest.state_cache_hit_ratio", "ratio"),
    ("maintenance.verify_jobs_per_slice", "count"), ("maintenance.compact_bytes_rewritten", "bytes"),
    ("sync.objects_copied", "count"), ("sync.bytes_copied", "bytes"), ("sync.mb_per_s", "MB/s"),
    ("query.exec_s", "s"), ("query.files_scanned", "count"),
    ("query.rows_scanned_per_row_returned", "ratio"),
    ("adapter.self_s", "s"), ("adapter.response_bytes", "bytes"),
    ("span.workload.self_s", "s"), ("span.op.self_s", "s"), ("span.job.self_s", "s"),
    ("trace_overhead", "ratio"),
]


def per_layer_units():
    units = dict(OP_LAYERS)
    units.update({f"{t}.{k}": u for t in SECONDARY_OPS for k, u in SECONDARY_LAYERS})
    units.update(dict(OTHER_LAYERS))
    return units


# Spark on JDK 17 needs these opens outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
DEADLINE_S = 170.0


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def by_kind(ops):
    """Wall times of the successful ops, by type and, within a type, kind."""
    out = {}
    for o in ops:
        if o["ok"]:
            out.setdefault((o["type"], o.get("kind", o.get("entry"))), []).append(o["wall_s"])
    return out


def end_to_end(report):
    """End-to-end figures of the untraced pass, plus the detail record."""
    part = report["untraced"]
    ops = part["ops"]
    main = MAIN_OP[report["workload"]]
    setup = report["session_s"] + report["prepare_s"] + report["warmup_s"] + report["fixture_s"]
    kinds = by_kind([o for o in ops if o["type"] == main])
    values = {
        "setup_s": setup,
        # a mix of kinds has a multimodal latency whose median jumps between
        # modes, so a mix reports the geometric mean of per-kind medians
        "op_p50_s": (statistics.geometric_mean([statistics.median(v) for v in kinds.values()])
                     if kinds else 0.0),
        # per kind of op, its median times its count: the run's total op
        # time without letting one stalled op stand for the rest
        "work_s": sum(len(v) * statistics.median(v) for v in by_kind(ops).values()),
        "heap_peak_mb": report["heap_peak_mb"],
    }
    by_type = {}
    for o in ops:
        if o["ok"]:
            by_type.setdefault(o["type"], []).append(o["wall_s"])
    detail = {f"{t}_s": metrics.timing(xs) for t, xs in by_type.items()}
    detail["heap_live_mb"] = report["heap_live_mb"]
    s = report["summary"]
    if s.get("input_bytes"):
        detail["storage_amp"] = s["stored_bytes"] / s["input_bytes"]
    commits = [o for o in ops if o["type"] == "commit" and o["ok"] and "rows" in o]
    if commits:
        detail["ingest_rows_per_s"] = sum(o["rows"] for o in commits) / sum(o["wall_s"] for o in commits)
    return values, detail


def per_layer(report):
    """Per-layer figures of the traced pass."""
    part = report["traced"]
    ops = part["ops"]
    groups = metrics.attribute(part)
    table = {}
    for o in ops:
        table.setdefault(o["type"], []).append((o, metrics.layers(o, groups[o["id"]])))

    def med(op_type, key):
        return median([lay[key] for _, lay in table.get(op_type, [])])

    def ops_of(op_type):
        return [o for o, _ in table.get(op_type, [])]

    main = MAIN_OP[report["workload"]]
    out = {k: med(main, k) for k, _ in OP_LAYERS}
    for t in SECONDARY_OPS:
        out.update({f"{t}.{k}": med(t, k) for k, _ in SECONDARY_LAYERS})

    commits = [o for o in ops_of("commit") if "chain_blocks" in o]
    walks = ops_of("chain_walk")
    out["chain.blocks"] = max([o["chain_blocks"] for o in walks + commits], default=0)
    out["chain.walk_s"] = median([o["wall_s"] for o in walks])
    out["chain.reread_bytes_per_block"] = metrics.slope(
        [(o["chain_blocks"], o.get("fs_bytes_read", 0)) for o in commits])
    out["ingest.latency_slope_ms_per_block"] = metrics.slope(
        [(o["chain_blocks"], o["wall_s"] * 1e3) for o in commits])
    hits = [o["state_cache_hit"] for o in commits if "state_cache_hit" in o]
    out["ingest.state_cache_hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
    verify = table.get("verify", [])
    out["maintenance.verify_jobs_per_slice"] = median(
        [lay["spark.jobs"] / max(1, o["slices"]) for o, lay in verify])
    out["maintenance.compact_bytes_rewritten"] = median(
        [o.get("bytes_rewritten", 0) for o in ops_of("compact")])
    push = ops_of("push")
    out["sync.objects_copied"] = median([o.get("objects_copied", 0) for o in push])
    out["sync.bytes_copied"] = median([o.get("bytes_copied", 0) for o in push])
    out["sync.mb_per_s"] = median([o.get("bytes_copied", 0) / 1e6 / o["wall_s"] for o in push])
    queries = table.get("query", [])
    out["query.exec_s"] = median([lay["spark.job_s"] for _, lay in queries])
    out["query.files_scanned"] = median([lay["files_scanned"] for _, lay in queries])
    out["query.rows_scanned_per_row_returned"] = median(
        [lay["rows_scanned"] / max(1, o.get("rows_returned", 0)) for o, lay in queries])
    out["adapter.self_s"] = median([
        max(0.0, o["wall_s"] - lay["spark.job_s"] - lay["catalyst.analysis_s"]
            - lay["catalyst.optimization_s"] - lay["catalyst.planning_s"])
        for o, lay in queries])
    out["adapter.response_bytes"] = median([o.get("response_bytes", 0) for o, _ in queries])

    span_list = metrics.spans(part, report["workload"])
    selfs = metrics.self_times(span_list)
    out["span.workload.self_s"] = selfs.get(report["workload"], 0.0)
    out["span.op.self_s"] = selfs.get(main, 0.0)
    out["span.job.self_s"] = selfs.get("spark.job", 0.0)
    untraced = (report["untraced"]["wall_s"] + part["untraced_after_wall_s"]) / 2
    out["trace_overhead"] = part["wall_s"] / untraced - 1
    return out, span_list


def java_command(classpath, run_dir, args, cpus):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus),
            "--work", os.path.join(run_dir, "work"), "--out", os.path.join(run_dir, "report.json")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MAIN_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        return fail(f"build failed: {e}", 2)
    t0 = time.monotonic()  # a first run may also build; only the run itself is bounded

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.out_dir(), "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_command(classpath, run_dir, args, cpus), cwd=run_dir,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return fail(f"run exceeded {DEADLINE_S:.0f} s; log in {log_path}", 3)
    if proc.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        return fail(f"JVM exited with {proc.returncode}:\n{tail}", 1)

    with open(os.path.join(run_dir, "report.json")) as fh:
        report = json.load(fh)
    failures = list(report["failures"])
    try:
        failures += oracle.check(args.workload, report["checks"])
    except Exception as e:  # an oracle that cannot run is a failed check
        failures.append(f"oracle: {type(e).__name__}: {e}")

    ops = report["untraced"]["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    attempted = len(ops)
    failed = min(attempted, len(failed_ops) + len(failures))
    values, detail = end_to_end(report)
    detail.update({
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "heap_max_mb": report["heap_max_mb"], "iterations": report["iterations"],
        "samples": {t: d["n"] for t, d in detail.items() if isinstance(d, dict) and "n" in d},
        "error_rate": failed / attempted, "failures": failures + [
            f"op {o['type']}: {o.get('error', '')}" for o in failed_ops],
    })
    if args.trace:
        layer_values, span_list = per_layer(report)
        units = per_layer_units()
        result_metrics = {k: {"value": layer_values[k], "unit": units[k]} for k in units}
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(span_list, fh)
    else:
        result_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    print("perfbench detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
