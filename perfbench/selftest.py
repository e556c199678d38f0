#!/usr/bin/env python3
"""Self-test of the correctness checks.

Runs each workload once on a short window with its inputs and outputs
kept, confirms the untouched outputs pass, then corrupts them one way at
a time and confirms that the check reports the corruption and that
run.py's scoring counts the operation as failed. For every operation:
  - drop a row, alter a value, add a row of its output;
  - graph_memo also: alter the output fingerprint of its timed run
    (timed output against the checked warm-up output);
  - stream_state also: drop its last progress event (input-row
    conservation) and alter its final state row count (state
    conservation).
A graph_memo row corruption misses the cached oracle result, so DuckDB
runs that query's oracle live: the test takes a few minutes.
Exits non-zero if any corruption goes unnoticed.

Usage: python3 perfbench/selftest.py [--workloads graph_memo,stream_state]
"""
import argparse
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import run  # noqa: E402


def rewrite(rows_dir, fn):
    """Replace an output directory's rows by fn(table)."""
    files = sorted(rows_dir.glob("*.parquet"))
    table = pq.ParquetDataset([str(f) for f in files]).read()
    for f in files:
        f.unlink()
    pq.write_table(fn(table), rows_dir / "part-0.parquet")


def drop_row(t):
    return t.slice(0, t.num_rows - 1)


def add_row(t):
    return pa.concat_tables([t, t.slice(0, 1)])


def alter_value(t):
    """Change the first row's first numeric cell by one."""
    for i, field in enumerate(t.schema):
        if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
            col = t.column(i).to_pylist()
            col[0] = col[0] + 1
            return t.set_column(i, field, pa.array(col, type=field.type))
    raise ValueError("no numeric column to alter")


def progress_lines(out):
    return (out / "progress.jsonl").read_text().splitlines()


def drop_progress(out, op):
    lines = progress_lines(out)
    i = max(j for j, l in enumerate(lines) if json.loads(l)["op"] == op)
    (out / "progress.jsonl").write_text("\n".join(lines[:i] + lines[i + 1:]) + "\n")


def alter_state(out, op):
    lines = progress_lines(out)
    i = max(j for j, l in enumerate(lines) if json.loads(l)["op"] == op)
    rec = json.loads(lines[i])
    rec["progress"]["stateOperators"][0]["numRowsTotal"] += 1
    lines[i] = json.dumps(rec)
    (out / "progress.jsonl").write_text("\n".join(lines) + "\n")


def alter_fingerprint(out, op):
    result = json.loads((out / "result.json").read_text())
    o = next(o for o in result["ops"] if o["name"] == op)
    rows, h = o["fingerprint"].split(":")
    o["fingerprint"] = f"{rows}:{int(h) + 1}"
    (out / "result.json").write_text(json.dumps(result))


def selftest(workload):
    proc = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                           "--seed", "1", "--seconds", "1", "--trace", "0", "--keep-work"],
                          capture_output=True, text=True)
    kept = re.search(r"kept (\S+)", proc.stderr)
    if proc.returncode != 0 or not kept:
        sys.exit(f"{workload}: run failed\n{proc.stderr[-2000:]}")
    work = Path(kept.group(1))
    data, out = work / "data", work / "out"
    result = json.loads((out / "result.json").read_text())
    cases = []
    for op in sorted({o["name"] for o in result["ops"]}):
        cases += [(op, kind, lambda op=op, fn=fn: rewrite(out / "rows" / op, fn))
                  for kind, fn in (("drop a row", drop_row), ("alter a value", alter_value),
                                   ("add a row", add_row))]
        if workload == "graph_memo":
            cases += [(op, "alter the timed output fingerprint", lambda op=op: alter_fingerprint(out, op))]
        if workload == "stream_state":
            cases += [(op, "drop a progress event", lambda op=op: drop_progress(out, op)),
                      (op, "alter final state rows", lambda op=op: alter_state(out, op))]
    missed = 0
    try:
        correct, attempted, failed = run.score(result, run.check(workload, data, out, result))
        print(f"{workload}: untouched outputs: correct={correct} failed={failed}/{attempted}")
        missed += not correct or failed > 0
        pristine = work / "pristine"
        shutil.copytree(out, pristine)
        for op, label, corrupt in cases:
            shutil.rmtree(out)
            shutil.copytree(pristine, out)
            corrupt()
            result = json.loads((out / "result.json").read_text())
            verdicts = run.check(workload, data, out, result)
            correct, attempted, failed = run.score(result, verdicts)
            op_count = sum(o["name"] == op for o in result["ops"])
            caught = verdicts.get(op) is not None and not correct and failed == op_count
            missed += not caught
            print(f"{workload}: {op}: {label}: {'caught' if caught else 'MISSED'} "
                  f"(correct={correct} failed={failed}/{attempted}; {verdicts.get(op)})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return missed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="graph_memo,stream_state")
    args = ap.parse_args()
    missed = sum(selftest(w) for w in args.workloads.split(","))
    print("self-test", "FAILED" if missed else "passed")
    sys.exit(1 if missed else 0)


if __name__ == "__main__":
    main()
