#!/usr/bin/env python3
"""graft benchmark: run one workload, check its outputs, print metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {graph_memo,stream_state}
      --seed N --seconds S --trace {0,1}

Builds graft and the benchmark's JVM runner with sbt when the sources
changed, generates the workload's fixed inputs, runs the JVM runner
(the seed sets the order of operations in each pass), checks the
outputs against a computation made apart from the program, and prints
one JSON object as the last line of stdout:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see summarize.py). Each run's result, spans and
progress files are kept under perfbench/.out/.
"""
import time

START = time.time()  # the set-up clock starts with the process

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("graph_memo", "stream_state")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep 10 s for the checks
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def ensure_build():
    """Classpath of the compiled runner, and the seconds spent building."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"graft sources not found under {ROOT}")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    state = BENCH / ".build" / "classpath.json"
    if state.exists():
        saved = json.loads(state.read_text())
        if saved["digest"] == digest.hexdigest() and all(
                Path(p).exists() for p in saved["classpath"].split(os.pathsep)):
            return saved["classpath"], 0.0
    t0 = time.time()
    state.parent.mkdir(parents=True, exist_ok=True)
    # sbt must resolve from its local caches only: the build never fetches.
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} {SBT_OPTS.format(home=Path.home())}".strip())
    log("building graft and the benchmark runner with sbt")
    with open(state.parent / "sbt.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        raise SystemExit(f"sbt build failed; see {state.parent / 'sbt.log'}")
    state.write_text(json.dumps({"digest": digest.hexdigest(), "classpath": lines[-1]}))
    return lines[-1], time.time() - t0


def run_jvm(classpath, args, work, data, out, budget_s):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", str(data), "--out", str(out)]
    # Spark gets one task slot per core the process may run on.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(work / "jvm.log", "w") as jlog:
        try:
            proc = subprocess.run(cmd, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                  timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"JVM runner did not finish within {budget_s:.0f} s")
    if proc.returncode != 0 or not (out / "result.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"JVM runner failed (exit {proc.returncode}):\n{tail}")
    return json.loads((out / "result.json").read_text())


def check(workload, data, out, result):
    """{operation name: reason or None} from the correctness checks."""
    import checks
    if workload == "stream_state":
        progress = {}
        for line in (out / "progress.jsonl").read_text().splitlines():
            if line:
                r = json.loads(line)
                progress.setdefault(r["op"], []).append(r["progress"])
        return checks.check_stream(str(data / "events.parquet"), str(out / "rows"),
                                   int(result["steps"]), progress)
    warm = result["warm_errors"]
    verdicts = checks.check_batch(str(data), str(out / "rows"),
                                  {k: v for k, v in result["oracle_sql"].items() if k not in warm})
    for name, reason in checks.check_fingerprints(result["ops"], result["warm_fingerprints"]).items():
        verdicts[name] = verdicts.get(name) or reason
    return verdicts


def score(result, verdicts):
    """(correct, attempted, failed). An operation fails when it threw, or
    when its output failed a check; any failed check makes the run
    incorrect."""
    wrong = {k: v for k, v in verdicts.items() if v}
    for name, reason in sorted(wrong.items()):
        log(f"check failed: {name}: {reason}")
    failed = 0
    for o in result["ops"]:
        if o["error"] is not None:
            log(f"operation failed: {o['name']} (pass {o['pass']}): {o['error']}")
        failed += o["error"] is not None or o["name"] in wrong or o["name"] in result.get("warm_errors", {})
    return not wrong, len(result["ops"]), int(failed)


def end_to_end(result, setup_s):
    passes = [p for p in result["passes"] if not p["traced"]]
    plain = {p["index"] for p in passes}
    ops = [o["ms"] for o in result["ops"] if o["pass"] in plain and o["error"] is None]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["ms"] for p in passes) / 1000.0, "s"),
        "op_p50_ms": (statistics.median(ops) if ops else 0.0, "ms"),
        "cpu_s": (statistics.median(p["cpu_ms"] for p in passes) / 1000.0, "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--keep-work", action="store_true",
                    help="keep the run's inputs and outputs (used by selftest.py)")
    args = ap.parse_args()

    classpath, build_s = ensure_build()
    sys.path.insert(0, str(BENCH))
    import gen
    import summarize

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    data, out = work / "data", work / "out"
    data.mkdir(parents=True)
    try:
        t0 = time.time()
        gen.generate(args.workload, str(data))
        t1 = time.time()
        budget = RUN_LIMIT_S - (t1 - START - build_s)
        result = run_jvm(classpath, args, work, data, out, budget)
        setup_s = int(result["setup_end_ms"]) / 1000.0 - START - build_s
        t2 = time.time()
        verdicts = check(args.workload, data, out, result)
        log(f"build {build_s:.1f} s, inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
        keep = BENCH / ".out" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for name in ("result.json", "spans.jsonl", "progress.jsonl", "jvm.log"):
            src = work / name if name == "jvm.log" else out / name
            if src.exists():
                shutil.copy(src, keep / name)
        metrics = summarize.summarize(keep) if args.trace else end_to_end(result, setup_s)
    finally:
        if args.keep_work:
            log(f"kept {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed = score(result, verdicts)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
