"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness in
one JVM, checks the outputs and prints one JSON result as the last line
of stdout. With --trace 0 it reports the end-to-end metrics, with
--trace 1 the per-layer metrics of a separately traced run, and writes
the traced run's per-layer table, per-query reconciliation and spans to
.bench_build/perfbench/out/. Workloads, metrics and the layer each
metric belongs to are described in perfbench/NOTES.md.

--cpus N runs Spark on N cores instead of all (the single-threaded
baseline in NOTES.md uses --cpus 1).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

OUT = os.path.join(build.OUT, "out")
PINNED = os.path.join(HERE, "digests.json")
BATCH_SF = 0.02
BATCH_DATA_SEED = 42  # batch tables are fixed so outputs check against pinned digests
STREAM_SF = 0.1       # customer dimension of the stream: 15 000 rows
WARM_FILES = [10_000]
BACKLOG_FILES = [10_000] * 4  # 10 000 rows: the reference's maxOffsetsPerTrigger
STEADY_ROWS = 5_000  # one file per two 2 s trigger intervals: 1 250 events/s
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("stream_enrich", "batch_mix")

# metric names and units, as BENCHMARK.json at the checkout's root lists them
with open(os.path.join(build.ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# micro-batch durationMs key -> per-layer metric (mean per batch)
STREAM_DURATIONS = {"latestOffset": "source.latest_offset_ms", "getBatch": "source.get_batch_ms",
                    "triggerExecution": "stream.trigger_ms",
                    "queryPlanning": "stream.query_planning_ms", "walCommit": "stream.wal_commit_ms",
                    "commitOffsets": "stream.commit_offsets_ms", "addBatch": "stream.add_batch_ms"}


def steady_files(seconds):
    """one file per two trigger intervals, for about 6/5 of the run's seconds"""
    return [STEADY_ROWS] * max(4, round(seconds * 0.3))


def stage_inputs(workload, seed, seconds, work):
    """Generate the workload's inputs under `work`; return the pinned
    digests file to check against (batch) or None."""
    tables = os.path.join(work, "tables")
    if workload == "stream_enrich":
        gen.write_tables(tables, STREAM_SF, seed, only=("customer",))
        n_cust = int(150_000 * STREAM_SF)
        stage = os.path.join(work, "stream", "stage")
        gen.write_stream(os.path.join(stage, "warm"), seed, WARM_FILES, n_cust, key=0)
        files = gen.write_stream(os.path.join(stage, "all"), seed, BACKLOG_FILES + steady_files(seconds),
                                 n_cust, key=1)
        for i, f in enumerate(files):
            part = "backlog" if i < len(BACKLOG_FILES) else "steady"
            os.makedirs(os.path.join(stage, part), exist_ok=True)
            os.rename(os.path.join(stage, "all", f["file"]), os.path.join(stage, part, f["file"]))
        return None
    gen.write_tables(tables, BATCH_SF, BATCH_DATA_SEED)
    return PINNED


def run_jvm(args, work, classpath, pinned):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
            "-Djava.io.tmpdir=" + work,
            "-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(args.cpus)]
    if pinned:
        cmd += ["--pinned", pinned]
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    ready = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY "):
                ready = int(line.split()[1]) / 1000.0
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0 or ready is None:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(f"harness exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh), ready - launched


def batch_metrics(r):
    medians = {q: stats.median(t) for q, t in r["queries"].items() if t}
    samples = [x * 1000 for t in r["queries"].values() for x in t]
    failed = r["failed"] + sum(1 for t in r["queries"].values() if not t)
    return {"work_s": sum(medians.values()), "latency_p50_ms": stats.median(samples),
            "samples_ms": samples}, r["attempted"], failed, {"medians_s": medians,
                                                              "errors": r["errors"]}


def stream_metrics(r, seconds):
    file_batch = stats.source_log(r["checkpoint"])
    an = stats.steady_analysis(r["published"], r["steady"], file_batch)
    checks = dict(r["checks"])
    checks["steady_files_committed"] = not an["missing"]
    checks["backlog_steady"] = not stats.backlog_grows(an["backlog"])
    checks["catchup_files_committed"] = len(file_batch) == len(BACKLOG_FILES) + len(steady_files(seconds))
    attempted = len(r["catchup"]) + len(r["steady"]) + len(checks)
    failed = sum(1 for ok in checks.values() if not ok)
    lat = an["latency_ms"] or [0.0]
    extra = {"checks": checks, "backlog": an["backlog"], "trigger_wait_ms": an["trigger_wait_ms"],
             "catchup_rows_per_s": sum(BACKLOG_FILES) / r["drain_s"], "latency_ms": lat,
             "late_ms": [p["at_ms"] - p["due_ms"] for p in r["published"]],
             "published_rows": sum(BACKLOG_FILES) + sum(steady_files(seconds)),
             "catchup_batch_ms": [b["durations"].get("triggerExecution") for b in r["catchup"]]}
    return {"work_s": r["drain_s"], "latency_p50_ms": stats.median(lat),
            "samples_ms": lat}, attempted, failed, extra


def layer_metrics(r, e2e, extra):
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(r["trace"]["layers"])
    if r["kind"] == "stream":
        batches = r["catchup"] + r["steady"]
        for key, name in STREAM_DURATIONS.items():
            vals = [b["durations"].get(key, 0) for b in batches]
            layers[name] = sum(vals) / len(vals) if vals else 0.0
        layers["stream.batches"] = float(len(batches))
        layers["source.backlog_files_max"] = float(max(extra["backlog"] or [0]))
        layers["stream.trigger_wait_ms"] = stats.median(extra["trigger_wait_ms"] or [0.0])
        layers["gen.late_ms_max"] = float(max(extra["late_ms"] or [0]))
        # numInputRows counts every scan of a batch, so the waste ratio
        # divides by the rows actually published
        layers["sink.view_write_amp"] = layers["sink.view_rows_written"] / extra["published_rows"]
    pct, value, n = stats.tail(e2e["samples_ms"])
    layers["latency_tail_ms"] = value
    layers["traced.work_s"] = e2e["work_s"]
    return layers, {"latency_tail_percentile": pct, "latency_tail_samples": n}


def write_artifact(args, r, layers, tail_info, extra):
    """Per-layer table, reconciliation and spans of a traced run, with
    the tracing overhead against this checkout's untraced runs."""
    os.makedirs(OUT, exist_ok=True)
    untraced = []
    path = os.path.join(OUT, f"{args.workload}-untraced.jsonl")
    if os.path.exists(path):
        with open(path) as fh:
            untraced = [e["work_s"] for e in map(json.loads, filter(str.strip, fh))
                        if e["cpus"] == args.cpus]
    overhead = (layers["traced.work_s"] / stats.median(untraced) - 1.0) if untraced else None
    art = {"workload": args.workload, "seed": args.seed, "cpus": args.cpus,
           "layers": layers, **tail_info,
           "tracing_overhead": {"traced_work_s": layers["traced.work_s"],
                                "untraced_work_s_median": stats.median(untraced) if untraced else None,
                                "untraced_runs": len(untraced), "overhead_share": overhead}}
    if r["kind"] == "batch":
        rows, tol = [], 0.10
        for q in r["trace"]["per_query"]:
            acc = q["planning_ms"] + q["driver_gap_ms"] + q["busy_ms"]
            q["accounted_share"] = acc / q["wall_ms"] if q["wall_ms"] else 1.0
            q["reconciled"] = abs(q["accounted_share"] - 1.0) <= tol
            rows.append(q)
        art["reconciliation"] = {"tolerance": tol, "rows": rows,
                                 "reconciled": sum(q["reconciled"] for q in rows),
                                 "total": len(rows)}
    else:
        art["stream"] = {k: extra[k] for k in ("catchup_rows_per_s", "latency_ms", "backlog",
                                               "trigger_wait_ms", "late_ms")}
    art["spans"] = r["trace"]["spans"]
    name = f"{args.workload}-seed{args.seed}-cpus{args.cpus}-trace.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(art, fh, indent=1)
    return os.path.join(OUT, name)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        pinned = stage_inputs(args.workload, args.seed, args.seconds, work)
        gen_s = time.time() - t0
        r, jvm_setup_s = run_jvm(args, work, classpath, pinned)
        if r["kind"] == "batch":
            e2e, attempted, failed, extra = batch_metrics(r)
        else:
            e2e, attempted, failed, extra = stream_metrics(r, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e.update(setup_s=gen_s + jvm_setup_s, peak_rss_mb=r["peak_rss_mb"])
    print(json.dumps({"jit_wait_ms": r["jit_wait_ms"], **{
        k: v for k, v in extra.items()
        if k in ("medians_s", "errors", "checks", "catchup_batch_ms", "latency_ms")}}), file=sys.stderr)
    if args.trace:
        layers, tail_info = layer_metrics(r, e2e, extra)
        print(f"trace artifact: {write_artifact(args, r, layers, tail_info, extra)}", file=sys.stderr)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{args.workload}-untraced.jsonl"), "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "cpus": args.cpus, "work_s": e2e["work_s"]}) + "\n")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
