#!/usr/bin/env python3
"""Profile whole registry partitions, to check that each workload's mix
has its partition's shape.

    python3 perfbench/profile.py [relational] [curation]

Run from the repository root (it builds and generates inputs as
`run.py` does). For each partition it runs every query of the
partition in one harness process, as a benchmark run does: the oracle
pass, then one untraced and one traced pass (seed 1).
From the traced pass it takes each query's wall, construct / plan /
consume time, the jobs fired while it was built and while it was
consumed, and the storage it left held. It prints, for the whole
partition and for the workload's mix (a subset of the same pass), the
figures that set the workload's character (the mix's weighted: its
estimate for the partition), writes the per-query rows to
`.bench_build/profile/<partition>.json`, and checks every output
against the DuckDB oracle. A partition takes minutes; the curation
partition about six.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

LIMIT_S = 1500


def per_query(out):
    """One row per query of the traced pass."""
    jobs = {}
    for j in out.get("jobs", []):
        jobs.setdefault(j["phase"], []).append(j)
    traced = [p for p in out["passes"] if p["traced"]]
    rows = []
    for q in traced[0]["queries"] if traced else []:
        if "wall_s" not in q:
            continue
        tag = f"{q['query']}|{q['pass']}|"
        cons, used = jobs.get(tag + "construct", []), jobs.get(tag + "consume", [])
        rows.append({
            "query": q["query"], "wall_s": q["wall_s"], "construct_s": q["construct_s"],
            "plan_s": q["plan_s"], "consume_s": q["consume_s"],
            "construct_jobs": len(cons), "consume_jobs": len(used),
            "run_s": sum(j["run_ms"] for j in cons + used) / 1e3,
            "held_rdds": q["held_rdds"], "held_mb": q["held_bytes"] / run.MB,
            "checkpoint_leaves": q["checkpoint_leaves"], "exchanges": q["exchanges"]})
    return rows


def shape(rows, cores, weights):
    """The figures that characterise a set of queries, each row counted
    `weights[query]` times: for the mix, its estimate of the partition."""
    w = lambda r: weights.get(r["query"], 0)  # noqa: E731
    rows = [r for r in rows if w(r)]
    tot = lambda k: sum(w(r) * r[k] for r in rows)  # noqa: E731
    n, wall = sum(w(r) for r in rows), tot("wall_s")
    return {
        "queries": n,
        "wall_s": wall,
        "query_p50_s": check.tail_percentile([r["wall_s"] for r in rows],
                                             [w(r) for r in rows], 0.5, 0)[0],
        "construct_s": tot("construct_s"),
        "construct_share": tot("construct_s") / wall,
        "plan_share": tot("plan_s") / wall,
        "construct_jobs": tot("construct_jobs"),
        "consume_jobs": tot("consume_jobs"),
        "held_rdds": tot("held_rdds"),
        "held_mb": tot("held_mb"),
        "checkpoint_leaves": tot("checkpoint_leaves"),
        "exchanges": tot("exchanges"),
        "core_util": tot("run_s") / (wall * cores),
    }


def main():
    parts = sys.argv[1:] or ["relational", "curation"]
    if any(p not in WORKLOADS for p in parts):
        sys.exit(f"usage: {sys.argv[0]} [relational] [curation]")
    cp = run.build()
    gen.generate(run.DATA)
    oracle = check.Oracle(run.DATA, os.path.join(run.STATE, "oracle", "v1"))
    os.makedirs(os.path.join(run.STATE, "profile"), exist_ok=True)
    bad = 0
    for part in parts:
        work = os.path.join(run.STATE, "work", f"profile-{part}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            got = run.run_harness(cp, ["--partition", part, "--seed", "1", "--seconds", "0",
                                       "--trace", "1"],
                                  work, os.path.join(work, "out.json"), time.time() + LIMIT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if got is None:
            sys.exit(1)
        out, results = got
        names = out[part]
        fails = run.failures_of(out, results, oracle, part, names)
        bad += len(fails)
        for op, why in fails:
            print(f"FAIL {part} {op}: {why}")
        rows = per_query(out)
        spec = WORKLOADS[part]
        whole = shape(rows, out["cores"], {r["query"]: 1 for r in rows})
        kept = shape(rows, out["cores"], {r["query"]: 1 for r in rows
                                          if r["query"] not in spec["excluded"]})
        sub = shape(rows, out["cores"], spec["mix"])
        with open(os.path.join(run.STATE, "profile", f"{part}.json"), "w") as f:
            json.dump({"partition": whole, "kept": kept, "mix": sub, "queries": rows}, f, indent=1)
        print(f"\n{part}, one traced pass: the whole partition, the partition without "
              f"{spec['excluded'] or 'exclusions'}, and the weighted mix "
              f"({len(spec['mix'])} queries); the ratio is mix / kept")
        for k in whole:
            ratio = sub[k] / kept[k] if kept[k] else float("nan")
            print(f"  {k:20s} {whole[k]:10.3f} {kept[k]:10.3f} {sub[k]:10.3f}  x{ratio:.2f}")
        print("  heaviest build-time queries:",
              ", ".join(f"{r['query']} {r['construct_jobs']}j/{r['construct_s']:.2f}s" for r in
                        sorted(rows, key=lambda r: -r["construct_s"])[:8]))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
