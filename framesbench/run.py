#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 framesbench/run.py --workload frames_core --seed 1 --seconds 10 --trace 0

Builds the program from source (framesbench/build.py), starts one JVM with
one SparkSession (local[N], N = cores, shuffle partitions = N, AQE on) and
drives the named workload as a closed loop with one client. The first pass
writes every operation's output and is checked against the oracle digests
in framesbench/oracle/digests.json; later passes are timed. Prints the
session shape and every metric by name with its unit, then one JSON line.
Exits nonzero when an operation fails or an output does not match.

--trace 1 adds traced passes (the benchmark's own SparkListener records
pass -> operation -> job -> stage spans) and layer probes, and prints the
per-layer metrics instead of the end-to-end ones.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402
import inputs  # noqa: E402

# The JVM flags build.sbt gives every forked run, so the benchmark runs the
# program the way the repository's own mains do, except the heap: sized for
# the sf0.01 inputs, fixed and pre-touched, so peak RSS does not swing with
# the collector's heap-growth decisions (heap pressure shows in memory.gc_s).
# No perf-data file and a temp dir inside the run directory: a run writes
# only inside its checkout.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms768m", "-Xmx768m", "-XX:+AlwaysPreTouch", "-XX:ParallelGCThreads=8",
    "-XX:-UsePerfData"]

DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s


def load_spec():
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def all_ops(spec):
    return [op for w in spec["workloads"].values() for op in w["ops"] + w["probe_ops"]]


def correctness(raw, digests, trace):
    """(attempted, failures) over the check and timed passes: an operation
    fails when it throws, when its check-pass output's digest differs from
    the oracle's, or (traced runs) when a span is not inside its parent."""
    import duckdb
    con = duckdb.connect()
    counted = [p for p in raw["passes"] if p["kind"] != "warmup"]
    failures = [f"{o['name']} ({p['kind']} pass): {o['error']}"
                for p in counted for o in p["ops"] if not o["ok"]]
    for p in raw["passes"]:
        if p["kind"] not in ("cold", "probe_check"):
            continue
        for o in (o for o in p["ops"] if o["ok"]):
            want = digests.get(o["name"])
            path = os.path.join(raw["check_dir"], o["name"])
            if want is None or not os.path.isdir(path):
                failures.append(f"{o['name']} (check pass): no stored digest or no output")
                continue
            got, rows = benchlib.digest(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
            if got != want["digest"]:
                failures.append(f"{o['name']} (check pass): digest mismatch, {rows} rows "
                                f"vs oracle {want['rows']} rows")
    if trace:
        failures += [f"span nesting: {s['kind']} {s['name']} not inside its parent"
                     for s in benchlib.nesting_violations(raw["spans"])]
    return sum(len(p["ops"]) for p in counted), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_spec()
    if a.workload not in spec["workloads"]:
        print(f"unknown workload {a.workload}", file=sys.stderr)
        return 2
    w = spec["workloads"][a.workload]
    try:
        classes = build.build(os.getcwd())
        jars = build.spark_jars(os.getcwd())
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    os.makedirs(build.build_dir(), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=build.build_dir())
    proc = None

    def stop(*_):
        raise SystemExit(3)
    signal.signal(signal.SIGTERM, stop)
    try:
        # set-up: inputs generated three times into fresh directories (the
        # median is reported), the last copy is used
        gen = []
        tables = inputs.TABLES if a.trace else w["tables"]
        for i in range(3):
            g0 = time.monotonic()
            d = os.path.join(run_dir, f"inputs{i}")
            inputs.generate(d, a.seed, tables, csv=w["csv"] or bool(a.trace))
            gen.append(time.monotonic() - g0)
            if i < 2:
                shutil.rmtree(d)
        d0 = time.monotonic()
        with open(os.path.join(HERE, "oracle", "digests.json")) as f:
            digests = json.load(f)["digests"]
        digest_load = time.monotonic() - d0

        raw_path = os.path.join(run_dir, "raw.json")
        log_path = os.path.join(run_dir, "jvm.log")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
               "-cp", f"{classes}:{os.path.join(jars, '*')}",
               "framesbench.Main", "bench", a.workload, str(a.seconds), str(a.trace),
               d, run_dir, raw_path]
        j0 = time.monotonic()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=DEADLINE_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                rc = "timeout"
        jvm_s = time.monotonic() - j0
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"benchmark JVM failed ({rc})", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
        if (raw["all_ops"] != {k: v["ops"] for k, v in spec["workloads"].items()} or
                raw["probe_ops"] != {k: v["probe_ops"] for k, v in spec["workloads"].items()
                                     if v["probe_ops"]}):
            print("operation lists in layers.json and Ops.scala differ", file=sys.stderr)
            return 1

        c0 = time.monotonic()
        attempted, failures = correctness(raw, digests, a.trace)
        check_s = time.monotonic() - c0
        failed = len(failures)
        for line in failures:
            print(f"FAILED {line}")

        sess = raw["session"]
        print(f"framesbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
              f"trace={a.trace}")
        print(f"session: master={sess['master']} shuffle_partitions={sess['shuffle_partitions']} "
              f"aqe={sess['aqe']} max_heap_mb={sess['max_heap_mb']:.0f} "
              f"spark={sess['spark_version']} jvm_flags={' '.join(sess['jvm_flags'])}")
        timed = [p["wall_s"] for p in raw["passes"] if p["kind"] == "timed"]
        warm = [p["wall_s"] for p in raw["passes"] if p["kind"] == "warmup"]
        cold = raw["passes"][0]["wall_s"]
        # set-up is everything before the first timed pass
        setup_s = benchlib.median(gen) + digest_load + raw["session_s"] + cold + sum(warm)
        pass_s = benchlib.median(timed)
        tail = benchlib.tail_percentile(timed)
        print(f"setup: input generation {benchlib.median(gen):.3f} s (median of {len(gen)}), "
              f"digest load {digest_load:.4f} s, session {raw['session_s']:.3f} s, "
              f"cold check pass {cold:.3f} s, warm-up {len(warm)} passes {sum(warm):.3f} s "
              f"({' '.join(f'{x:.3f}' for x in warm)})")
        print(f"check: outputs digested and compared in {check_s:.3f} s; "
              f"JVM process {jvm_s:.3f} s")
        print(f"passes: n={len(timed)} median={pass_s:.4f} s "
              f"({' '.join(f'{x:.3f}' for x in timed)}) " +
              (f"p{tail[0]}={tail[1]:.4f} s" if tail else
               "(no tail percentile: fewer than 11 passes)"))

        for op in w["ops"]:
            walls = [o["wall_s"] for p in raw["passes"] if p["kind"] == "timed"
                     for o in p["ops"] if o["name"] == op]
            first = next(o["wall_s"] for o in raw["passes"][0]["ops"] if o["name"] == op)
            print(f"op {op:<36} median {benchlib.median(walls):8.4f} s  cold {first:8.4f} s")

        if a.trace:
            metrics = benchlib.layer_metrics(raw, all_ops(spec), sess["cores"])
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            os.makedirs(os.path.join(build.build_dir(), "traces"), exist_ok=True)
            trace_path = os.path.join(build.build_dir(), "traces",
                                      f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(raw_path, trace_path)
            print(f"trace: {len(raw['spans'])} spans written to {trace_path}")
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "rows_per_s": w["input_rows"] / pass_s,
                "peak_rss_mb": raw["vmhwm_kb"] / 1024.0,
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for name, value in metrics.items():
            print(f"{name:<44} {value:>16.6f} {units[name]}")
        # reported, not in the JSON metrics (see layers.json "reported")
        print(f"{'cold_pass_s':<44} {cold:>16.6f} s")
        print(f"{'failed_frac':<44} {failed / attempted:>16.6f} ratio "
              f"({failed} of {attempted} operations)")
        correct = failed == 0
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
        return 0 if correct else 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
