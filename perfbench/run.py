#!/usr/bin/env python3
"""graft's benchmark: one workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run it from the root of a graft checkout. It builds graft and the harness
(``build.py``), makes the workload's inputs from ``--seed``, runs the
harness JVM (``perfbench.Main``) for ``--seconds`` of measurement, and
prints one JSON line per metric followed by a final summary line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the summary holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics. The same lines are written
to ``$CARGO_TARGET_DIR/results/<workload>-seed<N>-trace<T>.json``
(default ``.bench_build``). Every temporary directory a run creates is
deleted before it exits. See README.md in this directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dashboard", "cdc_ingest")
# the end-to-end metrics of BENCHMARK.json, per workload: (source metric,
# scale, unit). "read" is an HTTP request on dashboard and a FINAL read on
# cdc_ingest; "refresh" is client A's four-endpoint refresh on dashboard
# and the time until a dropped batch shows in FINAL on cdc_ingest. The
# tail is p75: a run has 30-60 reads, too few for a steady p90 (p90 and
# the sample counts are in the per-metric record lines).
END_TO_END = {
    "dashboard": {
        "read_p50_ms": ("request_p50_ms", 1, "ms"),
        "read_p75_ms": ("request_p75_ms", 1, "ms"),
        "reads_per_s": ("requests_per_s", 1, "1/s"),
        "refresh_p50_ms": ("refresh_p50_ms", 1, "ms"),
    },
    "cdc_ingest": {
        "read_p50_ms": ("final_read_p50_ms", 1, "ms"),
        "read_p75_ms": ("final_read_p75_ms", 1, "ms"),
        "reads_per_s": ("final_reads_per_s", 1, "1/s"),
        "refresh_p50_ms": ("freshness_p50_s", 1000, "ms"),
    },
}
JVM_TIMEOUT_S = 160
BATCH_INTERVAL_S = 0.5
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def make_inputs(workload, seed, seconds, data):
    if workload == "dashboard":
        gen.write_tables(os.path.join(data, "tables"), seed)
    else:
        # five set-up batches, then one per interval of the window
        n = 5 + int(-(-seconds // BATCH_INTERVAL_S))
        gen.write_cdc_batches(os.path.join(data, "batches"), seed, n)


def run_jvm(args, work, data, out, spans, t0):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        # C1 only: the JIT settles within set-up, which halves the spread.
        # C1-only shrinks the code cache to 48 MB, which Spark's generated
        # code can fill; keep the tiered default of 240 MB.
        "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
        "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out, "--spans", spans,
        "--t0-ms", str(int(t0 * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def summarize(workload, trace, raw):
    m = {k: v["value"] for k, v in raw["metrics"].items()}
    attempted, failed = raw["attempted"], raw["failed"]
    record = dict(raw["metrics"])
    record["error_rate"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    if trace:
        metrics = {k: v for k, v in raw["metrics"].items() if k != "setup_s"}
    else:
        metrics = {"setup_s": {"value": m["setup_s"], "unit": "s"}}
        for name, (src, scale, unit) in END_TO_END[workload].items():
            metrics[name] = {"value": m[src] * scale, "unit": unit}
        metrics["heap_after_gc_mb"] = {"value": m["heap_after_gc_mb"], "unit": "MB"}
    return record, {"correct": failed == 0 and all(
                        isinstance(v["value"], (int, float)) for v in metrics.values()),
                    "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = os.path.join(results, f"{name}-spans.jsonl") if args.trace else ""
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for d in ("tmp", "data"):
            os.makedirs(os.path.join(work, d))
        data = os.path.join(work, "data")
        out = os.path.join(work, "result.json")
        t0 = time.time()
        make_inputs(args.workload, args.seed, args.seconds, data)
        code = run_jvm(args, work, data, out, spans, t0)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"harness JVM failed (exit {code})\n")
            return 1
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record, summary = summarize(args.workload, args.trace, raw)
    for f in raw["failures"]:
        sys.stderr.write(f"check failed: {f}\n")
    lines = [json.dumps({"name": k, "value": v["value"], "unit": v["unit"]})
             for k, v in record.items()]
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        f.write("\n".join(lines + [json.dumps(summary)]) + "\n")
    print("\n".join(lines))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
