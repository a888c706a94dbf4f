#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program if its sources
changed, makes the workload's inputs from the seed, runs it in a fresh
JVM and Spark application, checks the outputs, and prints every metric
with its unit; the last stdout line is the result as one JSON object.
With --trace 1 it first makes one untraced run of the same workload,
seed and length (the baseline of trace.overhead_ratio), then a traced
run that records spans (written to the run's directory under
.bench_out/), and prints the per-layer metrics instead.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pb import build, hotelgen, metrics, oracle, workloads  # noqa: E402

HEAP = "4g"
RUN_LIMIT_S = 170


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, plan, run_dir, deadline):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{build.spark_classpath()}",
           "graftbench.Main", plan_path]
    # Spark prefers this variable over spark.local.dir; keep its shuffle
    # and block files in the run directory too
    env = {**os.environ, "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded its time limit; see {log.name}")
    if code != 0:
        raise SystemExit(f"perfbench: JVM exited with {code}; see {log.name}")
    with open(plan["out"]) as fh:
        return json.load(fh)


def expected_counts(root, classes, digest, build_dir, names, deadline):
    sql_path = os.path.join(build_dir, f"oracle_sql-{digest}.json")
    if not os.path.exists(sql_path):
        run_dir = os.path.join(build_dir, "oracle-run")
        os.makedirs(run_dir, exist_ok=True)
        run_jvm(classes, {"mode": "oracle-sql", "out": sql_path}, run_dir, deadline)
    with open(sql_path) as fh:
        oracle_sql = json.load(fh)
    return oracle.expected_counts(oracle_sql, os.path.join(root, workloads.DATA),
                                  names, os.path.join(build_dir, f"expected-{digest}.json"))


def stage_stream(run_dir, seed, seconds):
    """Generate the 92 days; pre-stage history into the watched dir and
    leave the last WARM_DAYS + `seconds` days for the live generator."""
    staging = os.path.join(run_dir, "staging")
    watched = os.path.join(run_dir, "watched")
    days = hotelgen.generate(staging, seed)
    n_live = workloads.WARM_DAYS + min(seconds, workloads.MAX_LIVE_DAYS)
    history, live = days[:-n_live], days[-n_live:]
    for d in days:
        os.makedirs(os.path.dirname(os.path.join(watched, d["dir"])), exist_ok=True)
    for d in history:
        os.rename(os.path.join(staging, d["dir"]), os.path.join(watched, d["dir"]))
    return {
        "watched": watched, "staging": staging,
        "checkpoint": os.path.join(run_dir, "checkpoint"),
        "live_days": [d["dir"] for d in live],
        "warm_days": workloads.WARM_DAYS,
        "warmup_reads": workloads.WARMUP_READS,
        "backfill_rows": sum(d["rows"] for d in history),
        # committed rows once live day i is in: the reader waits for them
        "live_rows_cum": [sum(d["rows"] for d in days[:len(history) + i + 1])
                          for i in range(len(live))],
        "total_rows": sum(d["rows"] for d in days),
        "shape": hotelgen.shape(days),
        "max_files_per_trigger": workloads.MAX_FILES_PER_TRIGGER,
        "cadence_ms": workloads.CADENCE_MS,
        "catchup_timeout_s": 60,
    }


def run_once(args, root, classes, digest, build_dir, trace, deadline):
    run_id = f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    run_dir = os.path.join(root, ".bench_out", "runs", run_id)
    os.makedirs(run_dir)
    data_dir = os.path.join(root, workloads.DATA)
    plan = {"mode": "batch", "trace": bool(trace), "cpus": cpus(),
            "setups": workloads.SETUPS, "run_dir": run_dir,
            "out": os.path.join(run_dir, "raw.json"), "data_dir": data_dir,
            "seed": args.seed, "warmup_queries": []}
    if args.workload == workloads.STREAM:
        plan["mode"] = "stream"
        plan["stream"] = stage_stream(run_dir, args.seed, args.seconds)
    else:
        plan["queries"] = workloads.batch_queries(args.workload)
        plan["passes"] = workloads.PASSES
        plan["warmup_queries"] = workloads.WARMUP[args.workload]
        expected = expected_counts(root, classes, digest, build_dir,
                                   [q["name"] for q in plan["queries"]], deadline)
    raw = run_jvm(classes, plan, run_dir, deadline)

    view = None
    if plan["mode"] == "stream":
        view = metrics.stream_view(raw, plan["stream"]["checkpoint"],
                                   plan["stream"]["backfill_rows"],
                                   plan["stream"]["warm_days"])
        problems, attempted = metrics.check_stream(raw, view, plan["stream"]["live_days"])
        if (view["backfill_end_ms"] is None or not view["measured_fresh"]
                or not view["measured_reads"]):
            raise SystemExit(f"perfbench: stream run produced no samples: {problems}")
        samples = metrics.stream_samples(raw, view)
    else:
        verdicts = metrics.check_batch(raw, expected)
        problems = [f"{c['name']}: {verdicts[c['id']]}" for c in raw["calls"]
                    if verdicts[c["id"]]]
        attempted = len(raw["calls"])
        samples = metrics.batch_samples(raw)
    values, tails = metrics.end_to_end(raw, samples)
    detail = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": trace, "source_digest": digest,
              **raw["meta"], "heap": HEAP, "problems": problems, "tails": tails,
              "end_to_end": values}
    if view is not None:
        detail["data_shape"] = plan["stream"]["shape"]
    if trace:
        span_list = metrics.spans(raw, run_id, view)
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
            for s in span_list:
                fh.write(json.dumps(s) + "\n")
        detail["spans"] = os.path.join(run_dir, "spans.jsonl")
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for sub in ("tmp", "spark-local", "staging", "watched", "checkpoint", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    layer_in = (raw, span_list, view) if trace else None
    return values, attempted, len(problems), detail, layer_in


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    deadline = time.time() + RUN_LIMIT_S
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes, digest = build.build(root, build_dir)
    # the first run in a checkout may spend its limit on the build
    deadline = max(deadline, time.time() + RUN_LIMIT_S / 2)

    base_attempted = base_failed = 0
    if args.trace:
        # the overhead baseline: the same code, seed and length, untraced,
        # in its own fresh JVM just before the traced run; its ops count
        untraced, base_attempted, base_failed, _, _ = run_once(
            args, root, classes, digest, build_dir, 0, deadline)
    values, attempted, failed, detail, layer_in = run_once(
        args, root, classes, digest, build_dir, args.trace, deadline)
    attempted += base_attempted
    failed += base_failed

    if args.trace:
        layer = metrics.per_layer(*layer_in, values["total_s"] / untraced["total_s"])
        out = {n: {"value": layer[n], "unit": u} for n, u, _ in metrics.per_layer_spec()}
    else:
        out = {n: {"value": values[n], "unit": u} for n, u, _, _ in metrics.END_TO_END}
    meta = {k: detail[k] for k in ("workload", "seed", "cpus", "spark", "heap_mb",
                                   "source_digest", "tails", "problems", "run")}
    print("perfbench: " + json.dumps(meta))
    for n, v in out.items():
        print(f"  {n:34s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
