"""Arithmetic shared by run.py and make_oracle.py: medians and the tail
percentile rule, interval unions for self time, the canonical digest of a
result relation, and the per-layer metrics derived from a traced run's
spans. Pure functions, unit-tested in test_benchlib.py."""
import hashlib
import math
import statistics


# ----------------------------------------------------------------------
# Timings
# ----------------------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def tail_percentile(xs):
    """The highest nearest-rank percentile with at least ten samples above
    it, as (p, value, n); None when fewer than eleven samples exist."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    rank = math.ceil(p * n / 100)
    return p, sorted(xs)[rank - 1], n


# ----------------------------------------------------------------------
# Intervals
# ----------------------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


# ----------------------------------------------------------------------
# Canonical digests (same canonical form as tools/compare_oracle.canon)
# ----------------------------------------------------------------------

def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        raise TypeError(f"list-typed output column: {v!r:.60}")
    return str(v)


def canon(df):
    """Sorted canonical rows of a pandas frame: columns ordered by lowercased
    name, floats rounded to 9 decimals, cells joined by '|'."""
    cols = sorted(df.columns, key=str.lower)
    columns = [list(map(_cell, df[c].tolist())) for c in cols]
    if not columns:
        return [""] * len(df)
    return sorted("|".join(r) for r in zip(*columns))


def digest(df):
    """(sha256, rows) of a relation's canonical form, column names included."""
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(c.lower() for c in df.columns)).encode())
    rows = canon(df)
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return h.hexdigest(), len(rows)


# ----------------------------------------------------------------------
# Per-layer metrics from a traced run
# ----------------------------------------------------------------------

COUNT_KEYS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes", "input_records",
              "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "fetch_wait_ms", "spill_disk_bytes")
MB = 1048576.0


def tree(spans):
    """id -> span, and parent id -> children ids."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    return by_id, kids


def nesting_violations(spans):
    """Spans that are not inside their parent: every job inside its
    operation, every operation inside its pass. Jobs with no operation
    count as violations too."""
    by_id, _ = tree(spans)
    bad = []
    for s in spans:
        if s["kind"] not in ("job", "op"):
            continue
        p = by_id.get(s["parent"])
        want = "op" if s["kind"] == "job" else "pass"
        if (p is None or p["kind"] != want or s["end_ms"] < 0
                or s["start_ms"] < p["start_ms"] or s["end_ms"] > p["end_ms"]):
            bad.append(s)
    return bad


def pass_layers(pass_span, by_id, kids):
    """Counts and times for one traced pass."""
    ops = [by_id[i] for i in kids.get(pass_span["id"], []) if by_id[i]["kind"] == "op"]
    jobs, first_job = [], 0.0
    for op in ops:
        op_jobs = [by_id[i] for i in kids.get(op["id"], []) if by_id[i]["kind"] == "job"]
        if op_jobs:
            first_job += (min(j["start_ms"] for j in op_jobs) - op["start_ms"]) / 1000.0
        jobs += op_jobs
    stages = [by_id[i] for j in jobs for i in kids.get(j["id"], []) if by_id[i]["kind"] == "stage"]
    c = {k: sum(s["counts"].get(k, 0.0) for s in stages) for k in COUNT_KEYS}
    c["peak_exec_bytes"] = max([s["counts"].get("peak_exec_bytes", 0.0) for s in stages] or [0.0])
    wall_ms = pass_span["end_ms"] - pass_span["start_ms"]
    c["jobs"] = len(jobs)
    c["self_s"] = self_time(pass_span["start_ms"], pass_span["end_ms"],
                            [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1000.0
    c["first_job_s"] = first_job
    c["wall_s"] = wall_ms / 1000.0
    return c


def layer_metrics(raw, op_names, cores):
    """Every per-layer metric of a traced run, by name."""
    by_id, kids = tree(raw["spans"])
    traced = [p for p in raw["passes"] if p["kind"] == "traced"]
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    per = [pass_layers(by_id[p["span"]], by_id, kids) for p in traced]
    pass_s = median([p["wall_s"] for p in traced])

    def med(key):
        return median([p[key] for p in per])

    probes = [p for p in raw["passes"] if p["kind"] == "probe"]
    m = {}
    for name in op_names:
        walls = [o["wall_s"] for p in traced + probes for o in p["ops"] if o["name"] == name]
        m[f"operators.{name}_s"] = median(walls) if walls else 0.0
    m.update(raw["probes"])
    input_bytes = med("input_bytes")
    m.update({
        "Tables.input_mb": input_bytes / MB,
        "Tables.input_rows": med("input_records"),
        "driver.jobs": med("jobs"),
        "driver.self_s": med("self_s"),
        "driver.first_job_s": med("first_job_s"),
        "executor.tasks": med("tasks"),
        "executor.run_s": med("run_ms") / 1000.0,
        "executor.cpu_s": med("cpu_ns") / 1e9,
        "executor.busy_frac": median([p["run_ms"] / 1000.0 / (p["wall_s"] * cores) for p in per]),
        "exchange.shuffle_write_mb": med("shuffle_write_bytes") / MB,
        "exchange.shuffle_read_mb": med("shuffle_read_bytes") / MB,
        "exchange.fetch_wait_s": med("fetch_wait_ms") / 1000.0,
        "memory.gc_s": med("gc_ms") / 1000.0,
        "memory.spill_mb": med("spill_disk_bytes") / MB,
        "memory.peak_exec_mb": med("peak_exec_bytes") / MB,
        "storage.output_mb": med("output_bytes") / MB,
        "storage.write_amp": med("output_bytes") / input_bytes if input_bytes else 0.0,
        "trace.overhead_s": pass_s - median([p["wall_s"] for p in timed]),
    })
    return m
