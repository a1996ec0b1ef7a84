"""Self-tests of the benchmark's own checks, run at the start of every run
(and standalone: `python3 perfbench/selftest.py`). Each test feeds the
checker a case it must flag or pass; `run()` returns what went wrong.
The registry-partition test needs the harness's registry listing, so it
runs inside `run.py`'s `failures` on every run instead."""
import copy
import sys


def _result():
    return {"columns": ["k", "v", "ts"],
            "rows": [[1, 0.5, "2024-01-01 00:00:00.000000"],
                     [2, 1e-12, "2024-01-02 00:00:00.000000"]]}


def test_corrupted_row(check):
    good = _result()
    want = {"columns": ["ts", "k", "v"],  # same answer, other column and row order
            "rows": [[r[2], r[0], r[1]] for r in reversed(good["rows"])]}
    assert check.compare(good["columns"], good["rows"], want["columns"], want["rows"]) is None
    bad = copy.deepcopy(good)
    bad["rows"][1][1] = 2e-9  # beyond the float tolerance
    assert check.compare(bad["columns"], bad["rows"], want["columns"], want["rows"])
    bad = copy.deepcopy(good)
    bad["rows"][0][0] = 3
    assert check.compare(bad["columns"], bad["rows"], want["columns"], want["rows"])
    assert check.compare(good["columns"], good["rows"][:1], want["columns"], want["rows"])


def test_throwing_query(run):
    out = {"errors": [{"op": "q_max_per_group", "pass": 2, "error": "threw in consume: boom"}],
           "registry": ["q_max_per_group"], "relational": ["q_max_per_group"], "curation": [],
           "oracle_sql": {}, "passes": [], "traced": False}
    fails = run.failures_of(out, {}, None, "relational", ["q_max_per_group"])
    assert ("q_max_per_group", "threw in consume: boom") in fails, fails


def test_partition(run):
    out = {"errors": [], "registry": ["a", "b", "c"], "relational": ["a"], "curation": ["b", "a"],
           "oracle_sql": {}, "passes": [], "traced": False}
    ops = [op for op, _ in run.failures_of(out, {}, None, "relational", ["a"])]
    assert ops == ["partition"], ops


def test_parity_mismatch(run):
    rows = [["0_raw", 10, 100, 0, 0, 0], ["7_pack", 8, 80, 0, 0, 2]]
    st = {"batches": [{"rows": 6}, {"rows": 4}], "history_rows": 10,
          "view_before": rows, "columns": ["stage", "n_docs", "n_tokens", "docs_dropped",
                                           "tokens_dropped", "n_seqs"],
          "parity_got": rows, "parity_want": rows}
    assert run.stream_failures(st, 2) == []
    bad = dict(st, parity_want=[rows[0], ["7_pack", 8, 80, 0, 0, 3]])
    assert [op for op, _ in run.stream_failures(bad, 2)] == ["stream.parity"]
    lost = dict(st, batches=[{"rows": 6}, {"rows": 3}])
    assert "stream.conservation" in [op for op, _ in run.stream_failures(lost, 2)]


def test_job_parenting(run):
    phases = [{"query": "q", "pass": 2, "phase": ph, "start_us": a * 1000, "end_us": b * 1000}
              for ph, a, b in [("construct", 100, 200), ("plan", 200, 210),
                               ("consume", 210, 400), ("release", 400, 420)]]
    job = lambda i, tag, t: {"job": i, "phase": tag, "start_ms": t}  # noqa: E731
    good = [job(1, "q|2|construct", 150), job(2, "q|2|consume", 300), job(3, "", 500)]
    assert run.parenting_failures(phases, good) == []
    early = good + [job(4, "q|2|consume", 150)]  # tagged consume, starts while building
    assert len(run.parenting_failures(phases, early)) == 1
    untagged = good + [job(5, "", 250)]  # starts inside the query with no tag
    assert [op for op, _ in run.parenting_failures(phases, untagged)] == ["q"]


def test_tail_percentile(check):
    for n, pct in [(100, 0.90), (150, 0.90), (60, 50 / 60), (11, 1 / 11)]:
        xs = list(range(n))
        v, p = check.tail_percentile(xs)
        assert abs(p - pct) < 1e-9, (n, p)
        beyond = n - 1 - xs.index(v)
        assert beyond >= 10, (n, beyond)
        # the next rank up would pass p90 or leave fewer than 10 beyond
        assert p >= 0.90 - 1e-9 or beyond - 1 < 10, (n, p)


def run():
    import check
    import run as runner
    broken = []
    for name, fn, arg in [("corrupted row", test_corrupted_row, check),
                          ("throwing query", test_throwing_query, runner),
                          ("registry partition", test_partition, runner),
                          ("parity mismatch", test_parity_mismatch, runner),
                          ("job parenting", test_job_parenting, runner),
                          ("tail percentile", test_tail_percentile, check)]:
        try:
            fn(arg)
        except Exception as e:  # an assertion or a crash: the checker is broken
            broken.append(f"{name}: {type(e).__name__} {e}")
    return broken


if __name__ == "__main__":
    failed = run()
    print("\n".join(failed) or "all self-tests pass")
    sys.exit(1 if failed else 0)
