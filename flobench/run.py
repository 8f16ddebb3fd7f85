#!/usr/bin/env python3
"""Benchmark of the flospark engine and catalog.

Usage (from the root of a checkout):

    python3 flobench/run.py --workload log_append --seed 1 --seconds 20 --trace 0

Builds the library and the harness in `flobench/` with sbt (once per source
state), makes the workload's inputs from the seed, runs the workload in one
JVM with a local Spark session on half the cores, checks its outputs and prints
one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics of a traced
run, whose even passes are traced and odd passes are not.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# rows of each generated input table, per workload
INPUTS = {
    "log_append": {},
    "log_scan": {"events": 100_000},
    "catalog": {"events": 10_000, "lineitem": 60_000, "documents": 300},
}

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
]

QUERIES = ["dedup_components", "q1_pricing_summary", "q_asof_native", "text_quality_model"]

PER_LAYER = [
    ("trace.traced_pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("spark.session_start_s", "s", "lower"),
    ("append.ack_p50_ms", "ms", "lower"),
    ("append.ack_p75_ms", "ms", "lower"),
    ("append.visible_p50_ms", "ms", "lower"),
    ("append.visible_p75_ms", "ms", "lower"),
    ("engine.produce_call_ms", "ms", "lower"),
    ("engine.ack_read_ms", "ms", "lower"),
    ("engine.jobs_per_append", "count", "lower"),
    ("engine.tasks_per_append", "count", "lower"),
    ("engine.stream_files", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.planning_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("scan.produce_events_per_s", "ev/s", "higher"),
    ("scan.read_events_per_s", "ev/s", "higher"),
    ("engine.bulk_count_job_s", "s", "lower"),
    ("engine.bulk_write_job_s", "s", "lower"),
    ("engine.bulk_outside_jobs_s", "s", "lower"),
    ("engine.bulk_shuffle_write_bytes", "bytes", "lower"),
    ("engine.read_plan_ms", "ms", "lower"),
    ("engine.read_execute_ms", "ms", "lower"),
    ("engine.read_files_scanned", "count", "lower"),
    ("engine.read_rows_scanned", "count", "lower"),
    ("engine.read_useful_ratio", "ratio", "higher"),
    ("engine.status_ms", "ms", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
] + [(f"query.{q}.{k}", "s", "lower") for q in QUERIES for k in ("build_s", "execute_s")] + [
    ("operators.quality_model_build_s", "s", "lower"),
    ("spark.plan_ms", "ms", "lower"),
    ("spark.execute_s", "s", "lower"),
    ("spark.execute_jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.codegen_compiles", "count", "lower"),
    ("jvm.jit_ms", "ms", "lower"),
]

HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 160
TARGET = os.path.join(HERE, "target")
ADD_OPENS = [
    arg for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                  "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                  "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[flobench] {msg}", file=sys.stderr, flush=True)


def sources():
    """The files the build reads: the library's and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    h = hashlib.sha1()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            old, cp = fh.read().split("\n", 1)
        if old == stamp and all(os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log("building with sbt")
    t0 = time.time()
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export flobench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S).returncode
    with open(os.path.join(TARGET, "build.log")) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if "flobench" in ln and ln.startswith(os.sep) and os.pathsep in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def run_jvm(cp, args, work):
    data = os.path.join(work, "data")
    os.makedirs(data)
    gen.write(data, args.seed, INPUTS[args.workload])
    out = os.path.join(work, "result.json")
    env = dict(os.environ, GRAFT_FIXTURE_DIR=os.path.join(work, "fixtures"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap: page faults on new heap regions fall in JVM
    # start and not in the timed passes. Huge pages: without them, runs of
    # one seed differed by up to 25% from one JVM to the next.
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseTransparentHugePages",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "flobench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        rc = subprocess.run(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        raise SystemExit(f"workload {args.workload} failed (jvm exit {rc})")
    with open(out) as fh:
        return json.load(fh), data


def samples(raw, name):
    """A sample series from every timed pass, traced or not."""
    s = raw["samples"]
    return s.get(name, []) + s.get(name + "@traced", [])


def figures(raw, workload):
    """The workload's own end-to-end figures, printed for readers."""
    f = {}
    if workload == "log_append":
        for k in ("ack", "visible"):
            for q in (50, 75, 90):
                f[f"{k}_p{q}_ms"] = stats.percentile(samples(raw, f"{k}_ms"), q)
    if workload == "log_scan":
        produce = samples(raw, "produce_s")
        f["produce_events_per_s"] = raw["counts"]["batch_events"] * len(produce) / sum(produce)
        f["read_events_per_s"] = sum(samples(raw, "read_events")) / sum(samples(raw, "read_s"))
    if workload == "catalog":
        for q in QUERIES:
            for k in ("build_s", "execute_s"):
                f[f"{q}.{k}"] = round(stats.median(samples(raw, f"{q}.{k}")), 4)
    return f


def self_times(spans_file, raw):
    """Each span name's self time (its duration minus the part its child
    spans cover), summed and divided by the number of traced passes."""
    with open(spans_file) as fh:
        spans = [json.loads(ln) for ln in fh if ln.strip()]
    child_ns = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    passes = max(1, sum(raw["passes_traced"]))
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child_ns.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e9 / passes
    return {k: round(v, 4) for k, v in out.items()}


def layer_metrics(raw, workload):
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m.update(raw["layers"])
    traced = [s for s, t in zip(raw["passes_s"], raw["passes_traced"]) if t]
    untraced = [s for s, t in zip(raw["passes_s"], raw["passes_traced"]) if not t]
    m["trace.traced_pass_s"] = stats.median(traced)
    m["trace.untraced_pass_s"] = stats.median(untraced)
    m["trace.overhead_ratio"] = m["trace.traced_pass_s"] / m["trace.untraced_pass_s"] - 1
    m["spark.codegen_compiles"] = stats.median(raw["samples"]["pass.codegen_compiles"])
    m["jvm.jit_ms"] = stats.median(raw["samples"]["pass.jit_ms"])
    f = figures(raw, workload)
    if workload == "log_append":
        for k in ("ack", "visible"):
            for q in (50, 75):
                m[f"append.{k}_p{q}_ms"] = f[f"{k}_p{q}_ms"] or 0.0
    if workload == "log_scan":
        m["scan.produce_events_per_s"] = f["produce_events_per_s"]
        m["scan.read_events_per_s"] = f["read_events_per_s"]
    unknown = set(m) - {name for name, _, _ in PER_LAYER}
    if unknown:
        raise SystemExit(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return m


def oracle_failures(raw, data):
    """Compare the catalog's dumped results with their DuckDB oracles; log
    and return the number of queries that differ."""
    import oracle
    verdicts = oracle.check(data, sorted(INPUTS["catalog"]), raw["extra"]["dump_dir"],
                            raw["extra"]["oracle_sql"])
    raw["counts"]["oracle_checked"] = len(verdicts)
    for name, why in verdicts.items():
        if why is not None:
            log(f"FAILED oracle {name}: {why}")
    return len(verdicts), sum(why is not None for why in verdicts.values())


def traced_metrics(raw, work, workload):
    """Per-layer metrics of a traced run; prints self times and the tracing
    overhead, and keeps the span file."""
    last = os.path.join(TARGET, "last")
    os.makedirs(last, exist_ok=True)
    spans = os.path.join(work, "spans.jsonl")
    shutil.copy(spans, os.path.join(last, f"{workload}.spans.jsonl"))
    metrics = layer_metrics(raw, workload)
    print("flobench self time per traced pass (s) "
          + json.dumps(self_times(spans, raw), sort_keys=True))
    note = "setup_s: no untraced run of this workload on record"
    if os.path.exists(os.path.join(last, f"{workload}.json")):
        with open(os.path.join(last, f"{workload}.json")) as fh:
            before = json.load(fh)["setup_s"]
        note = (f"setup_s {raw['setup_s']:.3f} s vs {before:.3f} s untraced "
                f"({raw['setup_s'] / before - 1:+.1%})")
    print(f"flobench tracing overhead: pass_s {metrics['trace.overhead_ratio']:+.1%} "
          f"(traced vs untraced passes of this run); {note}")
    return metrics


def untraced_metrics(raw, workload):
    """End-to-end metrics of an untraced run; kept for a later traced run."""
    metrics = {"setup_s": raw["setup_s"], "pass_s": stats.median(raw["passes_s"])}
    os.makedirs(os.path.join(TARGET, "last"), exist_ok=True)
    with open(os.path.join(TARGET, "last", f"{workload}.json"), "w") as fh:
        json.dump(metrics, fh)
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated runner still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no flospark sources next to flobench/ (run from the root of a checkout)")
    cp = build()
    work = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        raw, data = run_jvm(cp, args, work)
        attempted, failed = raw["attempted"], raw["failed"]
        for f in raw["failures"]:
            log(f"FAILED {f}")
        if args.workload == "catalog":
            checked, wrong = oracle_failures(raw, data)
            attempted, failed = attempted + checked, failed + wrong

        env = dict(raw["env"], counts=raw["counts"], wall_s=round(time.time() - t0, 1),
                   passes_s=[round(s, 3) for s in raw["passes_s"]],
                   timed_samples={k: len(v) for k, v in raw["samples"].items()},
                   pass_jit_ms=stats.median(raw["samples"]["pass.jit_ms"]),
                   pass_codegen_compiles=stats.median(raw["samples"]["pass.codegen_compiles"]))
        print("flobench env " + json.dumps(env, sort_keys=True))
        print("flobench figures " + json.dumps(figures(raw, args.workload), sort_keys=True))
        if args.trace:
            metrics = traced_metrics(raw, work, args.workload)
            units = {n: u for n, u, _ in PER_LAYER}
        else:
            metrics = untraced_metrics(raw, args.workload)
            units = {n: u for n, u, _ in END_TO_END}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
