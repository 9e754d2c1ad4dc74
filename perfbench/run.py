#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program if needed (build.py), generates the workload's inputs
from the seed (gen.py, cached on disk by seed, outside timing), runs the
harness in one fresh JVM, checks every operation's output, and prints one
JSON object as the last line of standard output. See README.md for the
workloads and metric definitions.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
RUNS = os.path.join(HERE, ".run")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
SAMPLE = os.path.join(ROOT, "src", "test", "resources", "citybike_rides.csv.gz")
DEADLINE_S = 170

# the operations whose latencies ops.p50_s summarizes, per workload
PRIMARY = {"citybike_load": ("etl", "load"), "query_mix": ("query",), "cdc_fold": ("fold",)}

PER_LAYER = [
    "queries.build_s", "queries.exec_s",
    "planning.analysis_s", "planning.optimization_s", "planning.physical_s", "planning.executions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.input_mb", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.core_utilization", "exec.self_s",
    "codegen.compiles", "codegen.compile_s", "jvm.jit_s", "jvm.gc_s", "jvm.heap_peak_mb",
    "operators.opcache_keys", "operators.opcache_alternations", "cache.entries", "cache.mb",
    "etl.parse_s", "etl.member_dim_s", "etl.rideable_dim_s", "etl.station_dim_s", "etl.date_dim_s",
    "etl.fact_s", "etl.fact_rows", "etl.date_dim_rows",
    "sources.load_s", "sources.written_mb", "sources.files_written", "sources.stored_bytes_ratio",
    "streaming.fold_s", "streaming.read_s", "streaming.compact_s", "streaming.state_files",
    "ops.failed_frac", "ops.p50_s", "trace.wall_s", "trace.root_cover_frac", "trace.root_self_s",
]


def load_settings():
    with open(os.path.join(HERE, "settings.json"), encoding="utf-8") as f:
        return json.load(f)


def load_expected():
    """{(dataset, query): {"rows", "digest"}} from expected/queries.tsv."""
    out = {}
    with open(os.path.join(HERE, "expected", "queries.tsv"), encoding="utf-8") as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            dataset, name, rows, digest = line.rstrip("\n").split("\t")
            out[(dataset, name)] = {"rows": int(rows), "digest": digest}
    return out


def cached(kind, key, make, keep=4):
    """Runs `make(dir)` once per (kind, key) and caches its directory and
    return value; keeps the `keep` most recently used entries per kind.
    """
    base = os.path.join(CACHE, kind)
    d = os.path.join(base, key)
    meta = os.path.join(d, "meta.json")
    if not os.path.isfile(meta):
        tmp = d + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        value = make(tmp)
        with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
            json.dump(value, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(meta)
    entries = sorted((e for e in os.listdir(base) if ".tmp" not in e),
                     key=lambda e: os.path.getmtime(os.path.join(base, e)), reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    with open(meta, encoding="utf-8") as f:
        return d, json.load(f)


def scaled(n, seconds, settings):
    return max(1, round(n * seconds / settings["reference_seconds"]))


def prepare(workload, seed, seconds, settings):
    """The harness plan for one run; generates (or reuses) its inputs."""
    w = settings["workloads"][workload]
    if workload == "citybike_load":
        n = scaled(w["rides"], seconds, settings)
        d, expect = cached("rides", "seed%d-n%d" % (seed, n),
                           lambda out: gen.rides(SAMPLE, seed, n, out))
        return {"rides": d, "expect": expect, "csv_bytes": expect["csv_bytes"]}
    if workload == "cdc_fold":
        # two batches at least, so that an earlier batch can be replayed
        b = max(2, scaled(w["batches"], seconds, settings))
        replay_after = min(w["replay_after"], b - b % w["read_every"]) or b
        params = (seed, w["keys"], b, w["ops_per_batch"], w["read_every"], replay_after)
        d, meta = cached("cdc", "seed%d-k%d-b%d-o%d-r%d-a%d" % params,
                         lambda out: gen.cdc(*params, out))
        return {"base": os.path.join(d, "base.parquet"), "log": os.path.join(d, "log.parquet"),
                "buckets": w["buckets"], "batches": b, "read_every": w["read_every"],
                "compact_every": w["compact_every"], "replay_after": replay_after,
                "replay_id": meta["replay_id"], "reads": meta["reads"]}
    expected = load_expected()
    dataset = "x%d" % w["scale"]
    data, _ = cached("fixture", dataset, lambda out: gen.scaled_fixture(FIXTURE, w["scale"], out))
    lists = [(dataset, data, w["warehouse"][:scaled(len(w["warehouse"]), seconds, settings)]),
             ("sf0.01", FIXTURE, w["pipeline"][:scaled(len(w["pipeline"]), seconds, settings)])]
    queries = []
    for i in range(max(len(names) for _, _, names in lists)):
        for ds, d, names in lists:
            if i < len(names):
                e = expected.get((ds, names[i]), {"rows": -1, "digest": "missing"})
                queries.append({"name": names[i], "data": d, "rows": e["rows"], "digest": e["digest"]})
    return {"queries": queries}


def java_command(settings, classes, jars, work, plan_path, result_path):
    opens = []
    for p in settings["jdk_add_opens"]:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java"] + opens + [
        "-Xmx" + settings["driver_heap"],
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "perfbench.Harness", plan_path, result_path])


def run_harness(plan, settings, classes, jars, work, timeout):
    os.makedirs(os.path.join(work, "tmp"))
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_command(settings, classes, jars, work, plan_path, result_path),
                                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness exceeded %d s" % timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness exited with %d:\n%s" % (code, tail))
    with open(result_path, encoding="utf-8") as f:
        return json.load(f)


def tail_percentile(values, floor=10):
    """The highest of p99/p95/p90/p75 with at least `floor` samples beyond
    it, as (percent, value) by nearest rank; None if no percentile has.
    """
    v = sorted(values)
    n = len(v)
    for pct in (99, 95, 90, 75):
        rank = -(-pct * n // 100)  # ceil
        if n - rank >= floor:
            return pct, v[rank - 1]
    return None


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def latencies(workload, ops):
    """Sorted seconds of the workload's main operations that passed."""
    return sorted(o["seconds"] for o in ops if o["ok"] and o["kind"] in PRIMARY[workload])


def summarize(workload, result, trace):
    """(attempted, failed, metrics) of one harness result. Failed operations
    count against `attempted` and stay out of the latency statistics.
    """
    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    if not trace:
        return len(ops), failed, {
            "setup_s": (result["setup_s"], "s"),
            "wall_s": (result["wall_s"], "s"),
        }
    lat = latencies(workload, ops)
    spans = result["spans"]
    roots = [(s["start_ms"], s["end_ms"]) for s in spans if s["parent"] == -1]
    root_s = sum(e - s for s, e in roots) / 1e3
    children = {}
    for s in spans:
        if s["parent"] != -1:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    root_self = sum((s["end_ms"] - s["start_ms"]) - covered(children.get(i, []))
                    for i, s in enumerate(spans) if s["parent"] == -1) / 1e3
    # self time of each full-output action: the part no Spark job covers
    jobs = [(s["start_ms"], s["end_ms"]) for s in spans if s["layer"] == "exec" and s["name"].startswith("job")]
    exec_self = sum((e - b) - covered([(max(js, b), min(je, e)) for js, je in jobs if js < e and je > b])
                    for b, e in ((s["start_ms"], s["end_ms"]) for s in spans
                                 if s["layer"] == "exec" and s["name"] == "exec")) / 1e3
    layers = dict(result["layers"])
    layers.update({
        "ops.failed_frac": failed / len(ops) if ops else 0.0,
        "ops.p50_s": statistics.median(lat) if lat else 0.0,
        "trace.wall_s": result["wall_s"],
        "trace.root_cover_frac": root_s / result["wall_s"] if result["wall_s"] > 0 else 0.0,
        "trace.root_self_s": root_self,
        "exec.self_s": exec_self,
    })
    return len(ops), failed, {k: (float(layers.get(k, 0.0)), unit_of(k)) for k in PER_LAYER}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "utilization")):
        return "ratio"
    return "count"


def untraced_log(workload, seconds, settings, classes):
    """Where untraced wall times of this build, settings and size are kept."""
    key = hashlib.sha256(json.dumps([settings, seconds, os.path.basename(classes)], sort_keys=True).encode())
    return os.path.join(OUT, "%s-%s-untraced.jsonl" % (workload, key.hexdigest()[:12]))


def record_untraced(path, wall_s):
    os.makedirs(OUT, exist_ok=True)
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps({"wall_s": wall_s}) + "\n")


def tracing_overhead(path, traced_wall_s):
    if not os.path.isfile(path):
        return None
    with open(path, encoding="utf-8") as f:
        walls = [json.loads(line)["wall_s"] for line in f if line.strip()]
    return traced_wall_s / statistics.median(walls) - 1 if walls else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    settings = load_settings()
    classes, jars = build.ensure()
    plan = prepare(args.workload, args.seed, args.seconds, settings)
    os.makedirs(RUNS, exist_ok=True)
    work = tempfile.mkdtemp(prefix=args.workload + "-", dir=RUNS)
    try:
        plan.update({"workload": args.workload, "trace": bool(args.trace), "work": work,
                     "settings": {k: settings[k] for k in ("cpus", "spark_conf")}})
        result = run_harness(plan, settings, classes, jars, work,
                             DEADLINE_S - (time.time() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, metrics = summarize(args.workload, result, args.trace)
    untraced = untraced_log(args.workload, args.seconds, settings, classes)
    for o in result["ops"]:
        print("perfbench: %-8s %-32s %8.3f s  %s" % (
            o["kind"], o["name"], o["seconds"], "ok" if o["ok"] else "FAILED " + o["error"]))
    lat = latencies(args.workload, result["ops"])
    tail = tail_percentile(lat)
    print("perfbench: set-up %.3f s" % result["setup_s"])
    print("perfbench: %s %d operations, %d failed; main operations p50 %s; %s" % (
        args.workload, attempted, failed, "%.3f s" % statistics.median(lat) if lat else "-",
        "p%d %.3f s" % tail if tail else "no tail percentile (%d samples, needs 40+)" % len(lat)))
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, "%s-seed%d-spans.json" % (args.workload, args.seed)), "w") as f:
            json.dump(result["spans"], f)
        overhead = tracing_overhead(untraced, result["wall_s"])
        if overhead is not None:
            print("perfbench: tracing overhead %+.1f%% of the untraced median wall_s" % (100 * overhead))
    else:
        record_untraced(untraced, result["wall_s"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
