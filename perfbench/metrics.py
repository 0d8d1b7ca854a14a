"""Statistics, attribution and span logic of the benchmark, kept free of I/O
so `test_perfbench.py` can pin each rule on small hand-made inputs."""
import json
import math
import statistics

# Percentiles considered for a tail figure, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def nearest_rank(xs, p):
    """Nearest-rank percentile of a non-empty list: the value at 1-based rank
    ceil(p/100 * n) of the sorted samples."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], rank


def tail(xs, min_beyond=MIN_BEYOND):
    """Highest ladder percentile with at least `min_beyond` samples above its
    rank, as (percentile, value); None when the sample is too small."""
    best = None
    for p in LADDER:
        if not xs:
            break
        value, rank = nearest_rank(xs, p)
        if len(xs) - rank >= min_beyond:
            best = (p, value)
    return best


def timing(xs):
    """Median, tail percentile and sample count of a list of timings."""
    t = tail(xs)
    out = {"p50": statistics.median(xs) if xs else None, "n": len(xs)}
    if t:
        out["tail_p"], out["tail"] = t
    return out


def quartile_spread(xs):
    """(q1, median, q3, (q3 - q1) / median) as `statistics.quantiles(n=4)`."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3, ((q3 - q1) / q2) if q2 else float("inf")


def slope(points):
    """Least-squares slope of (x, y) points; 0 with fewer than two distinct x."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    mx = statistics.fmean(x for x, _ in points)
    my = statistics.fmean(y for _, y in points)
    num = sum((x - mx) * (y - my) for x, y in points)
    den = sum((x - mx) ** 2 for x, _ in points)
    return num / den


# ------------------------------------------------------------ intervals


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


# ------------------------------------------------------------ attribution


def op_for(ops, job):
    """The op a job belongs to: the op id it carries (set as a local property
    on the submitting thread), else the op whose wall window holds the job's
    start (jobs a server thread runs for an HTTP request)."""
    if job.get("op") is not None:
        return job["op"]
    t = job.get("start_ms")
    for o in ops:
        if t is not None and o["start_ms"] <= t <= o["end_ms"]:
            return o["id"]
    return None


def attribute(part):
    """Group a traced pass's jobs and SQL executions by op id.

    Returns {op_id: {"jobs": [...], "stages": [...], "executions": [...]}}.
    An execution belongs to the op of its jobs; one that ran no job (a
    driver-only action) falls back to its start time's window."""
    ops = part["ops"]
    by_op = {o["id"]: {"jobs": [], "stages": [], "executions": []} for o in ops}
    stages = {s["id"]: s for s in part.get("stages", [])}
    exec_op = {}
    for j in part.get("jobs", []):
        oid = op_for(ops, j)
        if oid is None:
            continue
        by_op[oid]["jobs"].append(j)
        by_op[oid]["stages"] += [stages[s] for s in j.get("stages", []) if s in stages]
        if j.get("execution") is not None:
            exec_op.setdefault(j["execution"], oid)
    plans = {p["id"]: p for p in part.get("plans", [])}
    for x in part.get("executions", []):
        oid = exec_op.get(x["id"])
        if oid is None:
            oid = op_for(ops, {"start_ms": x.get("start_ms")})
        if oid is not None:
            by_op[oid]["executions"].append({**plans.get(x.get("plan"), {}), **x})
    return by_op


def layers(op, grp):
    """Per-layer figures of one op from its attributed jobs, stages and
    executions."""
    jobs, stages, execs = grp["jobs"], grp["stages"], grp["executions"]
    job_s = union_length([(j["start_ms"] / 1e3, j.get("end_ms", j["start_ms"]) / 1e3) for j in jobs])

    def ssum(k):
        return sum(s.get(k, 0.0) for s in stages)

    def xsum(k):
        return sum(x.get(k, 0.0) or 0.0 for x in execs)

    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": ssum("tasks"),
        "spark.sched_delay_s": ssum("sched_delay_s"),
        "spark.job_s": job_s,
        "driver.self_s": max(0.0, op["wall_s"] - job_s),
        "spark.task_s": ssum("task_s"),
        "spark.task_cpu_s": ssum("task_cpu_s"),
        "spark.shuffle_write_bytes": ssum("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": ssum("shuffle_read_bytes"),
        "spark.spill_bytes": ssum("spill_bytes"),
        "catalyst.analysis_s": xsum("analysis_s"),
        "catalyst.optimization_s": xsum("optimization_s"),
        "catalyst.planning_s": xsum("planning_s"),
        "catalyst.actions": len(execs),
        "fs.bytes_read": op.get("fs_bytes_read", 0),
        "fs.bytes_written": op.get("fs_bytes_written", 0),
        "jvm.gc_s": op.get("jvm_gc_s", 0.0),
        "files_scanned": xsum("files_scanned"),
        "rows_scanned": xsum("rows_scanned"),
    }


# ------------------------------------------------------------ spans


def spans(part, workload, trace_id=1):
    """The traced pass as spans: workload -> op -> Spark job -> stage.
    Each span has name, start, end (seconds), parent and trace id."""
    out = []
    ops = part["ops"]
    root = {"id": "w", "name": workload, "parent": None, "trace": trace_id,
            "start": min(o["start_ms"] for o in ops) / 1e3,
            "end": max(o["end_ms"] for o in ops) / 1e3}
    out.append(root)
    groups = attribute(part)
    stages = {s["id"]: s for s in part.get("stages", [])}
    for o in ops:
        oid = f"o{o['id']}"
        out.append({"id": oid, "name": o["type"], "parent": "w", "trace": trace_id,
                    "start": o["start_ms"] / 1e3, "end": o["end_ms"] / 1e3})
        for j in groups[o["id"]]["jobs"]:
            jid = f"j{j['id']}"
            out.append({"id": jid, "name": "spark.job", "parent": oid, "trace": trace_id,
                        "start": j["start_ms"] / 1e3,
                        "end": j.get("end_ms", j["start_ms"]) / 1e3})
            for sid in j.get("stages", []):
                st = stages.get(sid)
                if st and st.get("end_ms"):
                    out.append({"id": f"s{sid}", "name": "spark.stage", "parent": jid,
                                "trace": trace_id, "start": st["start_ms"] / 1e3,
                                "end": st["end_ms"] / 1e3})
    return out


def self_times(span_list):
    """Median self time per span name: duration minus the children's cover."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append(s)
    per_name = {}
    for s in span_list:
        per_name.setdefault(s["name"], []).append(self_time(s, kids.get(s["id"], [])))
    return {n: statistics.median(v) for n, v in per_name.items()}


# ------------------------------------------------------------ output


RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_result(text):
    """The result object of a benchmark run from its captured stdout.

    Tolerates a log prefix on every line (sbt's `[info] `) and a capture
    that kept only the tail: the last line that parses as a JSON object
    with the result keys wins."""
    for line in reversed(text.splitlines()):
        start = line.find("{")
        if start < 0:
            continue
        try:
            obj = json.loads(line[start:])
        except ValueError:
            continue
        if isinstance(obj, dict) and RESULT_KEYS <= obj.keys():
            return obj
    return None
