"""Output checks and metric helpers for the benchmark.

- `Oracle.answer` runs a query's `SparkEntry.oracleSql` in DuckDB over the
  benchmark's tables (cached on disk per SQL text);
- `compare` decides whether two results agree, with the normalization of
  `tools/compare.py`: columns sorted by name, rows sorted, exact equality
  except floats, which agree within 1e-9 (relative above 1);
- `tail_percentile` is the tail-latency helper;
- `spans` turns the traced run's phases, jobs and stages into a span tree.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import statistics
import uuid

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---- values -------------------------------------------------------------

def canon(v):
    """A DuckDB value in the JVM side's canonical form (see Canon.scala)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in v.items()}
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def sort_key(v):
    if v is None:
        return "~"
    if isinstance(v, float):
        return "%.9g" % v
    if isinstance(v, list):
        return "[" + ",".join(sort_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{sort_key(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def approx_eq(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(approx_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(approx_eq(a[k], b[k]) for k in a)
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [[r[i] for i in order] for r in rows]
        return sorted(out, key=sort_key)

    for i, (g, w) in enumerate(zip(norm(got_cols, got_rows), norm(want_cols, want_rows))):
        if not approx_eq(g, w):
            return f"row {i}: {json.dumps(g)[:160]} != {json.dumps(w)[:160]}"
    return None


# ---- oracle -------------------------------------------------------------

class Oracle:
    """DuckDB answers for oracle SQL, cached on disk per (data, SQL)."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = None

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
        except Exception:
            pass
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return con

    def answer(self, name, sql):
        os.makedirs(self.cache_dir, exist_ok=True)
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{digest}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = self._connect()
        rel = self.con.sql(sql)
        ans = {"columns": list(rel.columns), "rows": [[canon(v) for v in r] for r in rel.fetchall()]}
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ans, f)
        os.replace(tmp, path)
        return ans


# ---- statistics ---------------------------------------------------------

def tail_percentile(samples, weights=None, target=0.90, min_beyond=10):
    """(value, percentile) at the highest weighted nearest-rank percentile
    <= target that still leaves at least `min_beyond` samples above it.
    A sample's weight is the number of partition queries it stands for
    (1 each when `weights` is None)."""
    pairs = sorted(zip(samples, weights or [1] * len(samples)))
    n, total = len(pairs), sum(w for _, w in pairs)
    cum, i = 0.0, 0
    for i, (_, w) in enumerate(pairs):
        cum += w
        if cum >= target * total - 1e-9:
            break
    i = max(min(i, n - 1 - min_beyond), 0)
    return pairs[i][0], sum(w for _, w in pairs[:i + 1]) / total


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- spans --------------------------------------------------------------

def spans(phases, jobs, stages, batches):
    """Span tree of a traced run: query -> phase -> job -> stage, and
    batch -> add_batch / engine_overhead. A job is parented to the phase
    that submitted it (its "query|pass|phase" tag), or, for a streaming
    micro-batch's jobs, to the batch whose trigger window holds its start.
    Times are epoch microseconds."""
    out = []

    def add(name, layer, start, end, parent):
        out.append({"id": len(out) + 1, "parent": parent, "name": name, "layer": layer,
                    "start_us": start, "end_us": end})
        return len(out)

    by_query = {}
    for p in phases:
        by_query.setdefault((p["query"], p["pass"]), []).append(p)
    phase_span = {}
    for (q, ps), parts in by_query.items():
        parts.sort(key=lambda p: p["start_us"])
        body = [p for p in parts if p["phase"] in ("construct", "plan", "consume")]
        root = add(q, "query", body[0]["start_us"], body[-1]["end_us"], None) if body else None
        for p in parts:
            phase_span[f"{q}|{ps}|{p['phase']}"] = add(
                p["phase"], LAYER_OF.get(p["phase"], "stream"), p["start_us"], p["end_us"], root)
    batch_spans = []
    for b in batches:
        s = b["start_ms"] * 1000
        e = s + b["trigger_ms"] * 1000
        sid = add(f"batch {b['batch']}", "stream", s, e, phase_span.get("stream|-1|ingest"))
        add("add_batch", "stream", s, s + b["add_batch_ms"] * 1000, sid)
        add("engine_overhead", "stream", s + b["add_batch_ms"] * 1000, e, sid)
        batch_spans.append((s, e, sid))
    job_span = {}
    for j in jobs:
        st = j["start_ms"] * 1000
        parent = phase_span.get(j["phase"])
        if j["phase"] == "stream|-1|ingest":
            parent = next((sid for s, e, sid in batch_spans if s <= st <= e), parent)
        job_span[j["job"]] = add(f"job {j['job']}", "exec", st,
                                 max(st, j["end_ms"] * 1000), parent)
    for s in stages:
        add(f"stage {s['stage']}", "exec", s["start_ms"] * 1000, s["end_ms"] * 1000,
            job_span.get(s["job"]))
    return out


LAYER_OF = {"construct": "builders", "plan": "catalyst", "consume": "exec",
            "release": "planmode"}
