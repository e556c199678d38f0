#!/usr/bin/env python3
"""Summarize a graft.PlanAudit run (one JSON line per query).

Usage:
  python3 scripts/plan_audit.py <audit.jsonl>            # summary + flags
  python3 scripts/plan_audit.py <audit.jsonl> <old.jsonl> # + diff vs snapshot
  python3 scripts/plan_audit.py --strict <audit.jsonl>   # regression GATE

Flags raised (scale smells, not hard failures — some are adjudicated
and documented in BASELINE.md / query scaladoc):
  multi-scan   a FACT table (lineitem/orders/events/documents/
               embeddings) scanned more than once in the final plan
  cartesian    CartesianProduct / BroadcastNestedLoopJoin present
               (fine for 1-row scalar attaches and dim-pair frames;
               wrong for anything fact-sized)
  funnel       >1 SinglePartition exchange

--strict exits 1 if any query MULTI-SCANS a fact without an entry in
scripts/plan_audit_allowlist.json (the per-query adjudication into the
SURVEY §5 classes: two-role scans, k-pass token pipelines, evaluation
queries, ANN index-build passes). cartesian/funnel flags alone do not
gate — they are the bounded-frame classes 1/5 by construction. A new
multi-scan means either fix the plan (Fence.keepAll above the shared
aggregate or repartition + pre-materialized isnotnull, see SURVEY §5) or
consciously adjudicate it here.
"""
import json, os, signal, sys

ALLOWLIST = os.path.join(os.path.dirname(__file__), "plan_audit_allowlist.json")

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # no traceback under `| head`

FACTS = {"lineitem", "orders", "events", "documents", "embeddings"}


def load(path):
    out = {}
    for line in open(path):
        line = line.strip()
        if not line.startswith('{"q"'):
            continue
        r = json.loads(line)
        out[r["q"]] = r
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv
    cur = load(args[0])
    old = load(args[1]) if len(args) > 1 else None
    flags = []
    for q, r in sorted(cur.items()):
        f = []
        multi = {t: c for t, c in r.get("scans", {}).items() if t in FACTS and c > 1}
        if multi:
            f.append("multi-scan " + ",".join(f"{t}x{c}" for t, c in multi.items()))
        if r.get("cartesian", 0):
            f.append(f"cartesian x{r['cartesian']}")
        if r.get("single", 0) > 1:
            f.append(f"funnel x{r['single']}")
        if f:
            flags.append((q, "; ".join(f), r))
    print(f"{len(cur)} queries audited; {len(flags)} flagged")
    for q, msg, r in flags:
        print(f"  {q:26s} {msg}  (exch={r.get('exch')}, reused={r.get('reused')})")
    if old is not None:
        print("\n-- diff vs snapshot --")
        for q in sorted(set(cur) | set(old)):
            a, b = old.get(q), cur.get(q)
            if a is None:
                print(f"  NEW   {q}")
                continue
            if b is None:
                print(f"  GONE  {q}")
                continue
            keys = ("scans", "exch", "single", "reused", "cartesian")
            d = [k for k in keys if a.get(k) != b.get(k)]
            if d:
                print(f"  DIFF  {q}: " + ", ".join(
                    f"{k} {a.get(k)}->{b.get(k)}" for k in d))
    if strict:
        allow = json.load(open(ALLOWLIST)) if os.path.exists(ALLOWLIST) else {}
        bad = []
        for q, r in sorted(cur.items()):
            multi = {t: c for t, c in r.get("scans", {}).items()
                     if t in FACTS and c > 1}
            if multi and q not in allow:
                bad.append((q, multi))
        if bad:
            print("\nSTRICT GATE FAILED — unadjudicated fact multi-scans:")
            for q, m in bad:
                print(f"  {q}: {m}  (fix the plan or add to {ALLOWLIST})")
            return 1
        print(f"\nstrict gate OK: every fact multi-scan is adjudicated "
              f"({len(allow)} allowlist entries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
