"""From one run's raw record (written by perfbench/scala/Main.scala) to
checks, spans and named metrics."""
import glob
import json
import os
import re

from . import stats
from .workloads import LATE_LIMIT_S

LAYERS = ["engine", "ops", "streaming"]
LAYER_COUNTERS = [
    ("calls", "count", "higher"), ("call_s", "s", "lower"),
    ("driver_only_s", "s", "lower"), ("jobs", "count", "lower"),
    ("stages", "count", "lower"), ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"), ("task_wait_s", "s", "lower"),
    ("failed_tasks", "count", "lower"), ("shuffle_read_bytes", "bytes", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
    ("gc_s", "s", "lower"), ("input_bytes", "bytes", "lower"),
]
STREAM_COUNTERS = [
    ("batches", "count", "higher"), ("input_rows", "count", "higher"),
    ("latest_offset_ms", "ms", "lower"), ("get_batch_ms", "ms", "lower"),
    ("query_planning_ms", "ms", "lower"), ("add_batch_ms", "ms", "lower"),
    ("wal_commit_ms", "ms", "lower"), ("commit_offsets_ms", "ms", "lower"),
    ("pickup_wait_s", "s", "lower"), ("emit_ratio", "ratio", "higher"),
    ("state_rows_total", "count", "lower"), ("state_rows_updated", "count", "lower"),
    ("state_commit_ms", "ms", "lower"), ("state_update_ms", "ms", "lower"),
    ("state_memory_bytes", "bytes", "lower"),
    ("first_batch_s", "s", "lower"), ("batch_p50_s", "s", "lower"),
    ("batch_tail_s", "s", "lower"), ("backfill_rows_per_s", "1/s", "higher"),
]
OTHER_COUNTERS = [
    ("ops.retained_rdds", "count", "lower"), ("ops.retained_bytes", "bytes", "lower"),
    ("jvm.gc_s", "s", "lower"), ("gen.lateness_s", "s", "lower"),
    ("gen.drops", "count", "higher"), ("trace.overhead_ratio", "ratio", "lower"),
]
PHASES = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
           "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
           "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}

END_TO_END = [
    # name, unit, better, bound. The timings repeat to about 5-12%
    # (interquartile range over median, ten seeds) on a 4-core host
    # shared with other machines, and a driver's two sets of runs met
    # host drift of up to 20% between them; every bound is the largest
    # allowed.
    ("setup_s", "s", "lower", 0.25),
    ("retained_heap_mb", "MB", "lower", 0.25),
    ("total_s", "s", "lower", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("latency_tail_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_tail_s", "s", "lower", 0.25),
    ("query_geomean_s", "s", "lower", 0.25),
]


def per_layer_spec():
    out = [(f"{l}.{n}", u, b) for l in LAYERS for n, u, b in LAYER_COUNTERS]
    out += [(f"streaming.{n}", u, b) for n, u, b in STREAM_COUNTERS]
    return out + OTHER_COUNTERS


# ---------------------------------------------------------------- batch

def check_batch(raw, expected):
    """Per call: ok, or why not. A call fails on an exception, or when
    its counted rows differ from the oracle / seed-commit count."""
    verdicts = {}
    for c in raw["calls"]:
        if c["error"]:
            verdicts[c["id"]] = "error: " + c["error"][:200]
        elif c["name"] not in expected:
            verdicts[c["id"]] = "no expected row count"
        elif c["rows"] != [expected[c["name"]]]:
            verdicts[c["id"]] = f"rows {c['rows']} != {expected[c['name']]}"
        else:
            verdicts[c["id"]] = None
    return verdicts


def batch_samples(raw):
    """latency_*: the query walls of pass 1, whose sum is the board
    total; query_*: the walls of the same queries in the later passes.
    Every pass is a fresh session after the warm-up, so each pays its
    own session memos."""
    walls = {}
    for c in raw["calls"]:
        walls.setdefault(c["pass"] == 1, []).append((c["end_ms"] - c["start_ms"]) / 1000)
    return {"total": sum(walls[True]), "latency": walls[True], "query": walls[False]}


# --------------------------------------------------------------- stream

def source_log_batches(checkpoint):
    """{day dir: (first batch, last batch)} holding that day's files,
    from the file source's metadata log (compacted or not)."""
    seen = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                m = re.search(r"(year=\d+/month=\d+/day=\d+)", e["path"])
                if m:
                    lo, hi = seen.get(m.group(1), (e["batchId"], e["batchId"]))
                    seen[m.group(1)] = (min(lo, e["batchId"]), max(hi, e["batchId"]))
    return seen


def stream_view(raw, checkpoint, backfill_rows, warm_days):
    """Per-day freshness, reader walls and batch records of one stream
    run. The first `warm_days` live days and their reads are checked
    but not sampled (warm-up before timing)."""
    s = raw["stream"]
    batches = sorted(s["batches"], key=lambda b: b["batch"])
    by_id = {b["batch"]: b for b in batches}
    for b in batches:
        b["end_ms"] = b["start_ms"] + b["duration_ms"]["triggerExecution"]
    backfill_end, cum = None, 0
    for b in batches:
        cum += b["input_rows"]
        if cum >= backfill_rows:
            backfill_end = b["end_ms"]
            break
    log = source_log_batches(checkpoint)
    due = {d["day"]: d["due_ms"] / 1000 for d in s["drops"]}
    committed, pickup = {}, []
    for d in s["drops"]:
        lo, hi = log.get(d["day"], (None, None))
        if hi in by_id:
            # the day is in the result once the batch with its last file commits
            committed[d["day"]] = by_id[hi]["end_ms"] / 1000
            pickup.append((by_id[lo]["start_ms"] - d["at_ms"]) / 1000)
    fresh = stats.freshness(due, committed)
    measured = {d["day"] for d in s["drops"][warm_days:]}
    return {
        "batches": batches, "backfill_end_ms": backfill_end,
        "fresh": fresh,
        "pickup": pickup,
        "lateness": stats.drop_lateness([d["due_ms"] / 1000 for d in s["drops"]],
                                        [d["at_ms"] / 1000 for d in s["drops"]]),
        "measured_fresh": [v for d, v in fresh.items() if d in measured],
        "measured_reads": [(r["end_ms"] - r["start_ms"]) / 1000 for r in s["reads"]
                           if not r["error"] and int(r["id"][1:]) >= warm_days],
    }


def check_stream(raw, view, live_days):
    """Named failures of the stream run (each counts as one failed op)."""
    s = raw["stream"]
    fails = []
    if s["failure"]:
        fails.append("stream failed: " + s["failure"][:200])
    if not s["backfilled"]:
        fails.append("backfill not committed in time")
    if not s["caught_up"]:
        fails.append("live days not committed in time")
    fails += [f"day {d} never committed" for d in live_days if d not in view["fresh"]]
    fails += [f"drop {i} late by {x:.3f} s" for i, x in enumerate(view["lateness"])
              if x > LATE_LIMIT_S]
    fails += ["read failed: " + r["error"][:200] for r in s["reads"] if r["error"]]
    if not s["sink_equals_batch"]:
        fails.append("sink differs from batch cityDayAgg over the same files")
    if not s["top10_equals_golden"]:
        fails.append("stream top10 differs from goldenPipeline")
    attempted = len(live_days) + len(s["reads"]) + len(s["batches"]) + 2
    return fails, attempted


def stream_samples(raw, view):
    return {"total": (view["backfill_end_ms"] - raw["stream"]["start_ms"]) / 1000,
            "latency": view["measured_fresh"],
            "query": view["measured_reads"]}


# ----------------------------------------------------------- end to end

def end_to_end(raw, samples):
    lat_tail, lat_q, lat_n = stats.tail(samples["latency"])
    q_tail, q_q, q_n = stats.tail(samples["query"])
    values = {
        "setup_s": stats.median(raw["setup_s"]),
        "retained_heap_mb": raw["retained_heap_bytes"] / 2**20,
        "total_s": samples["total"],
        "latency_p50_s": stats.median(samples["latency"]),
        "latency_tail_s": lat_tail,
        "query_p50_s": stats.median(samples["query"]),
        "query_tail_s": q_tail,
        "query_geomean_s": stats.geomean(samples["query"]),
    }
    tails = {"latency_tail_s": {"percentile": lat_q, "samples": lat_n},
             "query_tail_s": {"percentile": q_q, "samples": q_n}}
    return values, tails


# -------------------------------------------------------------- tracing

def spans(raw, run_id, view=None):
    """Span tree run -> setup / call, batch, read, drop -> job -> stage.
    Times in epoch ms; every span carries the run id."""
    out = []

    def add(sid, parent, name, kind, layer, start, end):
        out.append({"run": run_id, "id": sid, "parent": parent, "name": name,
                    "kind": kind, "layer": layer, "start_ms": start, "end_ms": end})

    for i, s in enumerate(raw["setups"]):
        add(f"setup{i}", "run", "setup", "setup", None, s["start_ms"], s["end_ms"])
    for c in raw.get("calls", []):
        add(c["id"], "run", c["name"], "call", c["layer"], c["start_ms"], c["end_ms"])
    if view is not None:
        for b in view["batches"]:
            add(f"b{b['batch']}", "run", f"batch {b['batch']}", "batch", "streaming",
                b["start_ms"], b["end_ms"])
        for r in raw["stream"]["reads"]:
            add(r["id"], "run", "top10+citySeries", "read", "engine",
                r["start_ms"], r["end_ms"])
        for i, d in enumerate(raw["stream"]["drops"]):
            add(f"d{i}", "run", d["day"], "drop", "gen", d["due_ms"], d["at_ms"])
    owners = {s["id"] for s in out}
    job_of_stage = {}
    for j in raw["jobs"]:
        # a micro-batch of the workload's own stream, else the call that
        # ran the job (a registered query may run a stream inside it)
        owner = f"b{j['batch']}"
        if owner not in owners:
            owner = j["call"]
        if owner in owners:
            add(f"job{j['id']}", owner, f"job {j['id']}", "job", None,
                j["start_ms"], j["end_ms"])
            for st in j.get("stage_ids", []):
                job_of_stage.setdefault(st, f"job{j['id']}")
    for st in raw["stages"]:
        parent = job_of_stage.get(st["id"])
        if parent is not None and st["complete_ms"] > 0:
            add(f"stage{st['id']}.{st['attempt']}", parent, f"stage {st['id']}",
                "stage", None, st["submit_ms"], st["complete_ms"])
    first = min(s["start_ms"] for s in out)
    last = max(s["end_ms"] for s in out)
    out.insert(0, {"run": run_id, "id": "run", "parent": None, "name": "run",
                   "kind": "run", "layer": None, "start_ms": first, "end_ms": last})
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = stats.self_time(s["start_ms"], s["end_ms"],
                                       children.get(s["id"], []))
    return out


def per_layer(raw, span_list, view, overhead_ratio):
    by_id = {s["id"]: s for s in span_list}
    stage_owner = {}
    for s in span_list:
        if s["kind"] == "stage":
            stage_owner[s["id"]] = by_id[s["parent"]]["parent"]
    stage_rec = {f"stage{st['id']}.{st['attempt']}": st for st in raw["stages"]}
    m = {}
    for layer in LAYERS:
        calls = [s for s in span_list
                 if s["layer"] == layer and s["kind"] in ("call", "batch", "read")]
        ids = {c["id"] for c in calls}
        stages = [stage_rec[sid] for sid, owner in stage_owner.items() if owner in ids]
        jobs = [s for s in span_list if s["kind"] == "job" and s["parent"] in ids]
        driver = 0.0
        for c in calls:
            mine = [(by_id[sid]["start_ms"], by_id[sid]["end_ms"])
                    for sid, owner in stage_owner.items() if owner == c["id"]]
            driver += stats.driver_only(c["start_ms"], c["end_ms"], mine)
        v = {
            "calls": len(calls),
            "call_s": sum(c["end_ms"] - c["start_ms"] for c in calls) / 1000,
            "driver_only_s": driver / 1000, "jobs": len(jobs),
            "stages": len(stages), "tasks": sum(s["tasks"] for s in stages),
            "executor_run_s": sum(s["run_ms"] for s in stages) / 1000,
            "task_wait_s": sum(s["wait_ms"] for s in stages) / 1000,
            "failed_tasks": sum(s["failed_tasks"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000,
            "input_bytes": sum(s["input_bytes"] for s in stages),
        }
        m.update({f"{layer}.{k}": x for k, x in v.items()})

    # stream progress and state: the workload's own stream, or the
    # streams that registered queries (q_stream_agg) run inside a board
    batches = sorted(view["batches"] if view else raw["batches"],
                     key=lambda b: b["batch"])

    def med(xs):
        return stats.median(xs) if xs else 0.0

    durs = [b["duration_ms"]["triggerExecution"] / 1000 for b in batches]
    total = sum(b["state_rows_total"] for b in batches)
    sv = {
        "batches": len(batches), "input_rows": sum(b["input_rows"] for b in batches),
        **{k: med([b["duration_ms"].get(p, 0) for b in batches])
           for k, p in PHASES.items()},
        "pickup_wait_s": med(view["pickup"]) if view else 0.0,
        "emit_ratio": sum(b["state_rows_updated"] for b in batches) / total if total else 0.0,
        "state_rows_total": batches[-1]["state_rows_total"] if batches else 0,
        "state_rows_updated": sum(b["state_rows_updated"] for b in batches),
        "state_commit_ms": med([b["state_commit_ms"] for b in batches]),
        "state_update_ms": med([b["state_update_ms"] for b in batches]),
        "state_memory_bytes": batches[-1]["state_memory_bytes"] if batches else 0,
        "first_batch_s": ((batches[0]["end_ms"] - raw["stream"]["start_ms"]) / 1000
                          if view and batches else 0.0),
        "batch_p50_s": med(durs),
        "batch_tail_s": stats.tail(durs)[0] if durs else 0.0,
        "backfill_rows_per_s": 0.0,
    }
    if view and view["backfill_end_ms"]:
        sv["backfill_rows_per_s"] = raw["stream"]["backfill_rows"] / (
            (view["backfill_end_ms"] - raw["stream"]["start_ms"]) / 1000)
    m.update({f"streaming.{k}": x for k, x in sv.items()})
    m.update({
        "ops.retained_rdds": raw["retained_rdds"],
        "ops.retained_bytes": raw["retained_bytes"],
        "jvm.gc_s": raw["jvm_gc_ms"] / 1000,
        "gen.lateness_s": max(view["lateness"]) if view and view["lateness"] else 0.0,
        "gen.drops": len(raw["stream"]["drops"]) if view else 0,
        "trace.overhead_ratio": overhead_ratio,
    })
    return m
