#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program from
source together with the benchmark harness (`perfbench/build.sbt`),
generates the input tables (`gen.py`) and caches DuckDB oracle answers;
all of that lives under `.bench_build/`. The harness JVM then sets up a
Spark session on `local[<cores>]`, warms up with one pass over the
workload's query mix and times further passes for `--seconds`, at least
three (`Main.scala`). This script weights the timings (`workloads.py`),
checks every output and prints one JSON line per run: a detail line
with every measured number and its sample count, then the result line,
which is the last line of standard output.

Exit codes: 0 when every output checked out, 1 when some operation
failed (the result line says which count), 2 for bad usage or a tree
without the program's sources, 3 when the build fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import check  # noqa: E402
import gen  # noqa: E402
import selftest  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(STATE, "data", "v1")
MB = 1024.0 * 1024.0
RUN_LIMIT_S = 170  # the harness is killed after this; a run must end within 180 s

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SPARK_HOME"):
        # the Spark distribution whose bin/ on PATH holds spark-submit
        homes = [os.path.dirname(os.path.abspath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            log("no Spark distribution: set SPARK_HOME")
            sys.exit(3)
        env["SPARK_HOME"] = homes[0]
    log("building program + harness (sbt) ...")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch"] + opts + ["writeClasspath"], cwd=HERE,
                            stdout=out, stderr=subprocess.STDOUT, env=env,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        log(f"build failed (rc={rc}); see {os.path.join(STATE, 'build.log')}")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


# ---- harness process ---------------------------------------------------------

# The harness JVM runs C1 only. With C2 the pass walls kept falling for
# five passes after the first (a 16-query relational mix: 8.2 -> 5.5 s
# on 4 cores), ~40 s of warm-up a run that the benchmark's run budget
# does not hold; with C1 they are nearly flat after the first pass. So
# exec and kernel figures are C1 figures, and a change that relies on C2
# (inlining, loop or vector optimisation) may not show in them.
JIT_OPTS = ["-XX:TieredStopAtLevel=1"]


def harness_args(wl, args):
    """Main's arguments for one benchmark run of workload `wl`."""
    out = ["--queries", ",".join(WORKLOADS[wl]["mix"]), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    stream = WORKLOADS[wl]["stream"] if args.trace == 1 else None
    if stream:
        out += ["--stream-slices", str(stream["slices"]), "--stream-batches", str(stream["batches"])]
    return out


def run_harness(cp, main_args, work, out_file, deadline):
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC", *JIT_OPTS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graft.perfbench.Main", "run",
           "--data", DATA, "--work", work, "--out", out_file, *main_args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        log(f"harness exited with {rc}:\n{tail}")
        return None
    with open(out_file) as f:
        out = json.load(f)
    with open(out_file + ".results.json") as f:
        results = json.load(f)
    return out, results


# ---- metrics ---------------------------------------------------------------

def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def timed_passes(out, traced):
    return [p for p in out["passes"] if p["kind"] == "timed" and p["traced"] == traced]


def pass_total(p, weights, key="wall_s"):
    """A pass's weighted sum of a per-query figure: the mix's estimate of
    that figure over a whole pass of its partition."""
    return sum(weights[q["query"]] * q.get(key, 0) for q in p["queries"])


def end_to_end(out, weights):
    untraced = timed_passes(out, False)
    qs = [q for p in untraced for q in p["queries"] if "wall_s" in q]
    walls, ws = [q["wall_s"] for q in qs], [weights[q["query"]] for q in qs]
    by_query = {}
    for q in qs:
        by_query.setdefault(q["query"], []).append(q["wall_s"])
    # each query's median over the timed passes, so a pass slowed by
    # another tenant of the host weighs less than in a per-pass total
    mix = sum(weights[name] * check.median(v) for name, v in by_query.items())
    tail, pct = check.tail_percentile(walls, ws) if walls else (0.0, 0.0)
    held = [pass_total(p, weights, "held_bytes") / MB for p in untraced]
    return {
        "setup_s": dict(metric(out["setup_s"], "s", 1), jvm_boot_s=out["jvm_boot_s"],
                        init_s=out["init_s"], session_inputs_s=out["session_inputs_s"],
                        oracle_pass_s=out["passes"][0]["wall_s"]),
        "mix_wall_s": dict(metric(mix, "s", len(untraced)),
                           passes=[pass_total(p, weights) for p in untraced],
                           pass_clock_s=[p["wall_s"] for p in untraced]),
        "query_p50_s": metric(check.tail_percentile(walls, ws, 0.5, 0)[0] if walls else 0.0,
                              "s", len(walls)),
        "query_p90_s": dict(metric(tail, "s", len(walls)), percentile=round(pct, 4)),
        "held_storage_mb": metric(check.median(held), "MB", len(held)),
    }


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) intervals."""
    covered, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            covered += e - s
            cur = e
    return covered / 1e6


def per_layer(out, weights):
    """Per-layer figures of the traced passes, each a weighted sum over
    the mix (an estimate for one pass over the partition) averaged over
    the traced passes, or a ratio of two such sums."""
    cores = out["cores"]
    traced, untraced = timed_passes(out, True), timed_passes(out, False)
    n = max(len(traced), 1)
    qs = [q for p in traced for q in p["queries"] if "wall_s" in q]
    jobs = out.get("jobs", [])
    by_tag = {}
    for j in jobs:
        by_tag.setdefault(j["phase"], []).append(j)
    phases = {(p["query"], p["pass"], p["phase"]): p for p in out.get("phases", [])}

    def jobs_of(q, *names):
        return [j for ph in names for j in by_tag.get(f"{q['query']}|{q['pass']}|{ph}", [])]

    def span(q, phase):
        p = phases.get((q["query"], q["pass"], phase))
        return (p["start_us"], p["end_us"]) if p else (0, 0)

    def covered(q, phase):
        lo, hi = span(q, phase)
        return union_s([(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs_of(q, phase)], lo, hi)

    def per_pass(f):
        """Weighted sum of f(query) over the traced passes, per pass."""
        return sum(weights[q["query"]] * f(q) for q in qs) / n

    def job_sum(k, *names):
        return lambda q: sum(j[k] if k else 1 for j in jobs_of(q, *names))

    body = ("construct", "plan", "consume")
    wall = per_pass(lambda q: q["wall_s"])
    construct = per_pass(lambda q: q["construct_s"])
    consume = per_pass(lambda q: q["consume_s"])
    cov = {ph: per_pass(lambda q, ph=ph: covered(q, ph)) for ph in body}
    run_s = per_pass(job_sum("run_ms", *body)) / 1e3
    consume_jobs = per_pass(job_sum(None, "consume"))
    tot = lambda k: per_pass(job_sum(k, *body))  # noqa: E731
    m = {
        "builders.construct_s": (construct, "s"),
        "builders.construct_jobs": (per_pass(job_sum(None, "construct")), "count"),
        "builders.construct_share": (construct / wall if wall else 0.0, "ratio"),
        "builders.self_s": (construct - cov["construct"], "s"),
        "catalyst.plan_s": (per_pass(lambda q: q["plan_s"]), "s"),
        "catalyst.analysis_s": (per_pass(lambda q: q["tracker_analysis_s"]), "s"),
        "catalyst.optimization_s": (per_pass(lambda q: q["tracker_optimization_s"]), "s"),
        "catalyst.planning_s": (per_pass(lambda q: q["tracker_planning_s"]), "s"),
        "catalyst.exchanges": (per_pass(lambda q: q["exchanges"]), "count"),
        "catalyst.checkpoint_leaves": (per_pass(lambda q: q["checkpoint_leaves"]), "count"),
        "catalyst.self_s": (per_pass(lambda q: q["plan_s"]) - cov["plan"], "s"),
        "exec.consume_s": (consume, "s"),
        "exec.jobs": (consume_jobs, "count"),
        "exec.stages": (per_pass(job_sum("stages", "consume")), "count"),
        "exec.tasks": (per_pass(job_sum("tasks", "consume")), "count"),
        "exec.ms_per_job": (consume * 1e3 / consume_jobs if consume_jobs else 0.0, "ms"),
        "exec.dead_air_s": (wall - sum(cov.values()), "s"),
        "exec.cpu_s": (tot("cpu_ns") / 1e9, "s"),
        "exec.run_s": (run_s, "s"),
        "exec.core_util": (run_s / (wall * cores) if wall else 0.0, "ratio"),
        "exec.shuffle_read_mb": (tot("shuffle_read_bytes") / MB, "MB"),
        "exec.shuffle_write_mb": (tot("shuffle_write_bytes") / MB, "MB"),
        "exec.spill_mb": (tot("spill_bytes") / MB, "MB"),
        "exec.input_mb": (tot("input_bytes") / MB, "MB"),
        "exec.failed_tasks": (tot("failed_tasks"), "count"),
        "exec.self_s": (consume + cov["construct"] + cov["plan"], "s"),
        "planmode.held_rdds": (per_pass(lambda q: q["held_rdds"]), "count"),
        "planmode.held_mb": (per_pass(lambda q: q["held_bytes"]) / MB, "MB"),
        "planmode.release_s": (per_pass(lambda q: q["release_s"]), "s"),
        "tables.read_hit_ms": (check.median(out["tables"]["hit_ms"]), "ms"),
        "tables.read_miss_ms": (check.median(out["tables"]["miss_ms"]), "ms"),
        "trace.overhead_s": (check.median([pass_total(p, weights) for p in traced])
                             - check.median([pass_total(p, weights) for p in untraced]), "s"),
    }
    m.update(stream_layer(out.get("stream"), jobs))
    return {k: metric(v, u, len(qs)) for k, (v, u) in m.items()}


def stream_layer(st, jobs):
    """stream.* metrics; all 0 on a run without the stream segment."""
    names = ["batch_p50_ms", "add_batch_ms", "engine_overhead_ms", "jobs_per_batch",
             "ingest_rows_per_s", "ledger_files", "ledger_mb", "batch_drift",
             "reconcile_s", "attrition_view_s"]
    units = ["ms", "ms", "ms", "count", "rows/s", "count", "MB", "ratio", "s", "s"]
    if not st or not st.get("batches"):
        return {f"stream.{k}": (0.0, u) for k, u in zip(names, units)}
    b = st["batches"]
    trig = [x["trigger_ms"] for x in b]
    windows = [(x["start_ms"], x["start_ms"] + x["trigger_ms"]) for x in b]
    in_batch = [j for j in jobs if any(s <= j["start_ms"] <= e for s, e in windows)]
    k = min(3, len(trig))
    first, last = sum(trig[:k]) / k, sum(trig[-k:]) / k
    vals = [check.median(trig), check.median([x["add_batch_ms"] for x in b]),
            check.median([x["trigger_ms"] - x["add_batch_ms"] for x in b]),
            len(in_batch) / len(b), sum(x["rows"] for x in b) / st["ingest_s"],
            st.get("ledger_files", 0), st.get("ledger_bytes", 0) / MB,
            last / first if first else 0.0, st.get("reconcile_s", 0.0),
            st.get("attrition_view_s", 0.0)]
    return {f"stream.{k}": (v, u) for k, v, u in zip(names, vals, units)}


# ---- checks ----------------------------------------------------------------

def failures(wl, out, results, oracle):
    spec = WORKLOADS[wl]
    batches = spec["stream"]["batches"] if out["traced"] and spec["stream"] else None
    return failures_of(out, results, oracle, spec["partition"], spec["mix"], batches)


def failures_of(out, results, oracle, partition, mix, stream_batches=None):
    """Every failed operation as (op, reason); each one counts once."""
    fails = [(e["op"], e["error"]) for e in out["errors"]]
    reg, rel, cur = set(out["registry"]), set(out["relational"]), set(out["curation"])
    if rel | cur != reg or rel & cur:
        fails.append(("partition", f"relational+curation != registry "
                                   f"(missing {sorted(reg - rel - cur)}, overlap {sorted(rel & cur)})"))
    part = rel if partition == "relational" else cur
    for q in mix:
        if q not in part:
            fails.append((q, f"not a {partition} query"))
    for q, res in results.items():
        sql = out["oracle_sql"].get(q)
        if sql is None:
            fails.append((q, "no oracle SQL"))
            continue
        try:
            want = oracle.answer(q, sql)
        except Exception as e:  # the oracle side failing is a failed check too
            fails.append((q, f"oracle error: {str(e)[:200]}"))
            continue
        why = check.compare(res["columns"], res["rows"], want["columns"], want["rows"])
        if why:
            fails.append((q, f"oracle mismatch: {why}"))
    fails += parenting_failures(out.get("phases", []), out.get("jobs", []))
    if stream_batches is not None:
        fails += stream_failures(out.get("stream") or {}, stream_batches)
    return fails


PARENT_SLACK_MS = 5  # job event times are epoch ms, phase times epoch us


def parenting_failures(phases, jobs):
    """Traced runs: a job tagged with a query phase must start inside that
    phase, and a job that starts inside a query's construct..consume
    window must carry one of that query's phase tags. Either failing
    means the per-phase job counts and times are billed to the wrong
    phase."""
    fails = []
    span = {f"{p['query']}|{p['pass']}|{p['phase']}": (p["start_us"] / 1e3, p["end_us"] / 1e3)
            for p in phases}
    windows = {}
    for p in phases:
        if p["pass"] >= 0 and p["phase"] in ("construct", "plan", "consume"):
            key = f"{p['query']}|{p['pass']}"
            lo, hi = windows.get(key, (float("inf"), float("-inf")))
            windows[key] = (min(lo, p["start_us"] / 1e3), max(hi, p["end_us"] / 1e3))
    for j in jobs:
        tag, st = j["phase"], j["start_ms"]
        if tag in span and not tag.startswith("stream|"):
            lo, hi = span[tag]
            if not lo - PARENT_SLACK_MS <= st <= hi + PARENT_SLACK_MS:
                fails.append((tag.split("|")[0], f"job {j['job']} tagged {tag} starts "
                                                 f"{st - hi if st > hi else st - lo:+.0f} ms outside it"))
        for key, (lo, hi) in windows.items():
            if lo + PARENT_SLACK_MS < st < hi - PARENT_SLACK_MS and not tag.startswith(key + "|"):
                fails.append((key.split("|")[0], f"job {j['job']} starts inside {key} "
                                                 f"but is tagged {tag!r}"))
    return fails


def stream_failures(st, planned):
    fails = []
    b = st.get("batches", [])
    if len(b) != planned:
        fails.append(("stream.ingest", f"{len(b)} micro-batches, expected {planned}"))
    delivered = sum(x["rows"] for x in b)
    raw = [r for r in st.get("view_before", []) if r and r[0] == "0_raw"]
    docs_in = raw[0][1] if raw else None
    if not (delivered == st.get("history_rows") == docs_in):
        fails.append(("stream.conservation", f"docs_in {docs_in}, delivered {delivered}, "
                                             f"history {st.get('history_rows')}"))
    if "parity_got" in st:
        why = check.compare(st["columns"], st["parity_got"], st["columns"], st["parity_want"])
        if why:
            fails.append(("stream.parity", f"attritionView != pipelineRun: {why}"))
    return fails


def attempted(out):
    n = sum(len(p["queries"]) for p in out["passes"])
    st = out.get("stream")
    if st:
        n += len(st.get("batches", [])) + 3  # reconcile, conservation, parity
    return n


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("no program sources under src/main/scala: run from the repository root")
        sys.exit(2)
    broken = selftest.run()
    if broken:
        log("benchmark self-test failed: " + "; ".join(broken))
        sys.exit(1)
    cp = build()
    gen.generate(DATA)
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        got = run_harness(cp, harness_args(args.workload, args), work,
                          os.path.join(work, "out.json"), time.time() + RUN_LIMIT_S)
        if got is None:
            sys.exit(1)
        out, results = got
        os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
        shutil.copy(os.path.join(work, "out.json"), os.path.join(
            STATE, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
        oracle = check.Oracle(DATA, os.path.join(STATE, "oracle", "v1"))
        fails = failures(args.workload, out, results, oracle)
        n_ops = attempted(out)
        weights = WORKLOADS[args.workload]["mix"]
        e2e = end_to_end(out, weights)
        detail = dict(e2e)
        detail["fail_ratio"] = metric(len(fails) / n_ops, "ratio", n_ops)
        detail["ops_attempted"] = metric(n_ops, "count", n_ops)
        if args.trace:
            layers = per_layer(out, weights)
            for k in ("stream.ingest_rows_per_s", "stream.batch_p50_ms", "stream.reconcile_s"):
                detail[k.split(".", 1)[1]] = layers[k]
            metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            trace_file = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
            st = out.get("stream") or {}
            with open(trace_file, "w") as f:
                json.dump({"spans": check.spans(out.get("phases", []), out.get("jobs", []),
                                                out.get("stages", []), st.get("batches", []))}, f)
        else:
            metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
                       for k in ("setup_s", "mix_wall_s")}
        spec = WORKLOADS[args.workload]
        print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                          "partition_queries": len(out[spec["partition"]]),
                          "mix_weight": round(sum(weights.values()), 6), "excluded": spec["excluded"],
                          "detail": detail,
                          "failures": [{"op": op, "why": why} for op, why in fails]}))
        print(json.dumps({"correct": not fails, "attempted": n_ops, "failed": len(fails),
                          "metrics": metrics}))
        sys.exit(1 if fails else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
