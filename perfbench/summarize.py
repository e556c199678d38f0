#!/usr/bin/env python3
"""Per-layer metrics of one traced benchmark run.

Reads the files a traced run keeps (result.json, spans.jsonl and, for
stream_state, progress.jsonl) and prints one metric per line, or returns
them as a dict to run.py. Span and counter totals are taken per traced
pass and reported as the median over those passes.

Usage: python3 perfbench/summarize.py perfbench/.out/<run>
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

KERNELS = ("minhash_bands", "simhash32", "qdot", "text_stats")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_rows")
BYTES = {"shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"}

# name -> unit, in the order they are reported
PER_LAYER = {
    "queries.construct_ms": "ms", "queries.construct_jobs": "count",
    "memo.build_ms": "ms", "memo.reuse_ms": "ms",
    "memo.persisted_bytes": "B", "memo.persisted_rdds": "count",
    "planning.plan_ms": "ms",
    "exec.ms": "ms",
    **{f"exec.{f}": ("B" if f in BYTES else "ms" if f.endswith("_ms") else "count") for f in SPARK_FIELDS},
    "exec.idle_slot_ms": "ms",
    **{f"plans.{k}_rows_per_s": "rows/s" for k in KERNELS},
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.rocksdb_sync_ms": "ms", "streaming.rocksdb_zip_ms": "ms",
    "streaming.rocksdb_flush_ms": "ms",
    "streaming.state_instances": "count", "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "B",
    "streaming.first_batch_ms": "ms", "streaming.batch_p90_ms": "ms",
    "env.steal_s": "s", "env.task_slots": "count",
    "trace.overhead_pct": "%",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))]


def query_layers(spans, slots):
    """Construct / plan / exec totals per traced pass, medians over passes."""
    per_pass = defaultdict(lambda: defaultdict(float))
    first_op = {}
    for s in spans:
        if s["name"] == "op":
            first_op.setdefault(s["pass"], s["op"])
    for s in spans:
        p, ms = per_pass[s["pass"]], (s["end_ns"] - s["start_ns"]) / 1e6
        if s["name"] == "construct":
            p["queries.construct_ms"] += ms
            p["queries.construct_jobs"] += s["spark"]["jobs"]
            p["memo.build_ms" if first_op[s["pass"]] == s["op"] else "memo.reuse_ms"] += ms
        elif s["name"] == "plan":
            p["planning.plan_ms"] += ms
        elif s["name"] == "exec":
            p["exec.ms"] += ms
            for f in SPARK_FIELDS:
                p[f"exec.{f}"] += s["spark"][f]
        elif s["name"] == "pass":
            for k in ("persisted_bytes", "persisted_rdds"):
                p[f"memo.{k}"] += s["attrs"].get(k, 0.0)
    for p in per_pass.values():
        p["exec.idle_slot_ms"] = p["exec.ms"] * slots - p["exec.task_run_ms"]
    keys = {k for p in per_pass.values() for k in p}
    return {k: _median([p.get(k, 0.0) for p in per_pass.values()]) for k in keys}


def stream_layers(progress, result):
    """Micro-batch phases and state-store costs from StreamingQueryProgress."""
    # Idle triggers also report progress; only micro-batches with input count.
    timed = [r for r in progress if r["timed"] and r["progress"]["numInputRows"] > 0]
    out = {"streaming.batches": len(timed),
           "streaming.input_rows": sum(r["progress"]["numInputRows"] for r in timed)}
    phases = {"add_batch_ms": "addBatch", "planning_ms": "queryPlanning",
              "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
    for name, key in phases.items():
        out[f"streaming.{name}"] = _median([r["progress"]["durationMs"].get(key, 0) for r in timed])

    def per_batch(fn):
        return _median([sum(fn(o) for o in r["progress"]["stateOperators"]) for r in timed])
    out["streaming.state_commit_ms"] = per_batch(lambda o: o["commitTimeMs"])
    out["streaming.state_update_ms"] = per_batch(lambda o: o["allUpdatesTimeMs"])
    for name, key in (("rocksdb_sync_ms", "rocksdbCommitFileSyncLatencyMs"),
                      ("rocksdb_zip_ms", "rocksdbSaveZipFilesLatencyMs"),
                      ("rocksdb_flush_ms", "rocksdbCommitFlushLatency")):
        out[f"streaming.{name}"] = per_batch(lambda o, key=key: o.get("customMetrics", {}).get(key, 0))

    peaks = defaultdict(lambda: [0, 0, 0])
    for r in progress:
        ops = r["progress"]["stateOperators"]
        pk = peaks[r["op"]]
        pk[0] = max(pk[0], sum(o["numRowsTotal"] for o in ops))
        pk[1] = max(pk[1], sum(o["memoryUsedBytes"] for o in ops))
        pk[2] = max(pk[2], sum(o.get("numStateStoreInstances", 0) for o in ops))
    out["streaming.state_rows_peak"] = sum(v[0] for v in peaks.values())
    out["streaming.state_bytes_peak"] = sum(v[1] for v in peaks.values())
    out["streaming.state_instances"] = sum(v[2] for v in peaks.values())
    out["streaming.first_batch_ms"] = _median(
        [v for k, v in result.items() if k.startswith("first_batch_ms.")])
    out["streaming.batch_p90_ms"] = _p90(
        [o["ms"] for o in result["ops"] if result["passes"][o["pass"]]["traced"]])
    return out


def summarize(run_dir):
    """{metric: (value, unit)} for every per-layer metric."""
    run_dir = Path(run_dir)
    result = json.loads((run_dir / "result.json").read_text())
    slots = int(result["slots"])
    values = dict.fromkeys(PER_LAYER, 0.0)
    spans_path = run_dir / "spans.jsonl"
    if spans_path.exists():
        spans = [json.loads(l) for l in spans_path.read_text().splitlines() if l]
        values.update(query_layers(spans, slots))
    prog_path = run_dir / "progress.jsonl"
    if prog_path.exists():
        progress = [json.loads(l) for l in prog_path.read_text().splitlines() if l]
        values.update(stream_layers(progress, result))
    for k, rate in result.get("kernels", {}).items():
        values[f"plans.{k}_rows_per_s"] = rate
    values["env.steal_s"] = result.get("steal_s", 0.0)
    values["env.task_slots"] = slots
    # Each traced pass against the mean of the untraced passes either
    # side of it, which cancels a linear warming trend.
    ms = [p["ms"] for p in result["passes"]]
    ratios = [ms[i] / ((ms[i - 1] + ms[i + 1]) / 2) for i, p in enumerate(result["passes"])
              if p["traced"] and 0 < i < len(ms) - 1]
    if ratios:
        values["trace.overhead_pct"] = 100.0 * (_median(ratios) - 1.0)
    return {k: (float(values[k]), PER_LAYER[k]) for k in PER_LAYER}


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    for name, (value, unit) in summarize(sys.argv[1]).items():
        print(f"{name:32s} {value:16.3f} {unit}")
