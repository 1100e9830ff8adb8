"""Seeded input generator for the three benchmark workloads.

The same (workload, seed) always yields byte-identical files; a different
seed yields different files with the same sizes.  Every input set carries
a ``manifest.json`` with its fingerprint (sha256 over the data files) and
its sizes, which each result records.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Workloads:

* ``serve``  - sf0.1-shaped ``lineitem`` / ``events`` / ``embeddings``
  tables plus ``requests.jsonl``: the seeded jx request mix, each request
  with the DuckDB SQL twin its response is checked against.
* ``curate`` - a ``documents`` corpus in the shape of the sf0.1 table
  (word-soup text, 20 sources, 5 languages) with a stated share of
  near-duplicates, written with several row groups.
* ``ingest`` - per micro-batch a raw mozlog text log (with PERFHERDER_DATA
  log lines and a stated share of malformed lines) and an ``events``
  slice, a delivery schedule of readout cycles that each redeliver one of
  their batch ids, and the per-batch ground truth the stores are checked
  against.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 7

# Sizes.  sf0.1 has 600k lineitem and 100k events rows; the serve tables
# are smaller so that one request costs about a second on 4 cores.
SERVE_LINEITEM = 120_000
SERVE_EVENTS = 40_000
SERVE_VECTORS = 1_000
# block 0 is the timed mix, block 1 the set-up's warm pass
SERVE_BLOCKS = 2
CURATE_DOCS = 200
CURATE_DUP_SHARE = 0.05
CURATE_ROW_GROUPS = 4
# a readout cycle delivers two new batches, then redelivers one of them;
# the last cycle is the set-up's, the others are timed
INGEST_CYCLES = 4
INGEST_BATCHES = 2 * INGEST_CYCLES
INGEST_EVENTS_PER_BATCH = 500
INGEST_SOURCES_PER_BATCH = 3
INGEST_TESTS_PER_SOURCE = 4
INGEST_MALFORMED_SHARE = 0.02

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1500
WORDS = ("a the spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data vector join customer").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000


def _write(table, path, row_groups=1):
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def _events(rng, n, id0=0, t0=JAN_2024_US, span_us=30 * DAY_US):
    ts = np.sort(rng.integers(t0, t0 + span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(70.0, n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng, n):
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = JAN_2024_US - rng.integers(8 * 365, 29 * 365, n) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, n // 4 + 1, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20_001, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


# ------------------------------------------------------------------ serve

# One block of the request mix: each of the ten datacube templates once,
# two dashboard refreshes and one kNN probe, in a seeded order. A run
# completes whole blocks, so every run's mix has the same shares.
SERVE_BLOCK = list(range(10)) + ["dashboard", "dashboard", "knn"]


def _serve_request(rng, kind):
    """One request of the given kind with seeded literals: the template
    name, the endpoint, the jx body and its DuckDB SQL twin (None for the
    kNN probe, which checks.py compares with the query-key oracle)."""
    fmt = ["list", "table"][int(rng.integers(0, 2))]
    if kind == "dashboard":
        lo = int(rng.integers(1, 25))
        hi = lo + int(rng.integers(1, 7))
        body = {"from_day": f"2024-01-{lo:02d}", "to_day": f"2024-01-{hi:02d}",
                "format": fmt}
        sql = f"""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
                  FROM events WHERE strftime(ts, '%Y-%m-%d')
                    BETWEEN '2024-01-{lo:02d}' AND '2024-01-{hi:02d}'
                  GROUP BY 1 ORDER BY 1"""
        return "dashboard", "/dashboard", body, sql
    if kind == "knn":
        return ("knn", "/query",
                {"corpus_op": {"op": "knn_join", "corpus": {"from": "embeddings"}},
                 "format": fmt}, None)
    t = kind
    if t == 0:
        q = int(rng.integers(5, 46))
        body = {"from": "lineitem", "where": {"gte": ["l_quantity", q]},
                "groupby": ["l_returnflag", "l_linestatus"],
                "select": [{"name": "n", "value": ".", "aggregate": "count"},
                           {"name": "sum_line", "value": "l_linenumber", "aggregate": "sum"},
                           {"name": "max_qty", "value": "l_quantity", "aggregate": "max"}],
                "sort": ["l_returnflag", "l_linestatus"], "format": fmt}
        sql = f"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                         CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
                         max(l_quantity) AS max_qty
                  FROM lineitem WHERE l_quantity >= {q}
                  GROUP BY 1, 2 ORDER BY 1, 2"""
        return "groupby", "/query", body, sql
    if t == 1:
        v = round(float(rng.uniform(0, 200)), 2)
        body = {"from": "events", "where": {"gte": ["value", v]},
                "edges": ["event_type"],
                "select": [{"name": "n", "value": ".", "aggregate": "count"}],
                "sort": ["event_type"]}
        sql = f"""SELECT event_type, count(*) AS n FROM events
                  WHERE value >= {v} GROUP BY 1 ORDER BY 1"""
        return "edges", "/query", body, sql
    if t in (2, 3):
        kind = "range" if t == 2 else "duration"
        step = int(rng.choice([25, 50, 100]))
        top = step * int(rng.integers(4, 11))
        body = {"from": "events",
                "edges": [{"name": "bucket", "value": "value",
                           "domain": {"type": kind, "min": 0, "max": top,
                                      "interval": step}}],
                "select": [{"name": "n", "value": ".", "aggregate": "count"},
                           {"name": "max_v", "value": "value", "aggregate": "max"}],
                "sort": ["bucket"]}
        sql = f"""SELECT floor(value / {step}.0) * {step}.0 AS bucket,
                         count(*) AS n, max(value) AS max_v
                  FROM events WHERE value >= 0 AND value < {top}
                  GROUP BY 1 ORDER BY 1"""
        return kind, "/query", body, sql
    if t == 4:
        lim = int(rng.integers(100, 501))
        body = {"from": "events",
                "select": [{"name": "event_id", "value": "event_id"},
                           {"name": "event_type", "value": "event_type"},
                           {"name": "ts", "value": "ts"}],
                "window": [{"name": "rn", "edges": ["event_type"],
                            "sort": ["ts", "event_id"]},
                           {"name": "min3", "value": "event_id", "aggregate": "min",
                            "edges": ["event_type"], "sort": ["ts", "event_id"],
                            "range": {"min": -2, "max": 0}}],
                "sort": ["event_type", "rn"], "limit": lim, "format": fmt}
        sql = f"""SELECT event_id, event_type, rn, min3 FROM (
                    SELECT event_id, event_type,
                           row_number() OVER w AS rn,
                           min(event_id) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min3
                    FROM events
                    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
                  ORDER BY event_type, rn LIMIT {lim}"""
        return "window", "/query", body, sql
    if t == 5:
        b = int(rng.choice([25, 50, 100]))
        lim = int(rng.integers(100, 501))
        body = {"from": "events",
                "select": [{"name": "event_id", "value": "event_id"},
                           {"name": "value", "value": "value"}],
                "window": [{"name": "rn", "edges": [{"name": "vb", "value": {"floor": ["value", b]}}],
                            "sort": ["event_id"]},
                           {"name": "bmax", "value": "value", "aggregate": "max",
                            "edges": [{"name": "vb", "value": {"floor": ["value", b]}}],
                            "sort": ["event_id"]}],
                "sort": ["event_id"], "limit": lim, "format": fmt}
        sql = f"""SELECT event_id, value, rn, bmax FROM (
                    SELECT event_id, value, row_number() OVER w AS rn,
                           max(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bmax
                    FROM events
                    WINDOW w AS (PARTITION BY floor(value / {b}.0) * {b}.0 ORDER BY event_id))
                  ORDER BY event_id LIMIT {lim}"""
        return "window_edges", "/query", body, sql
    if t == 6:
        v = round(float(rng.uniform(0, 100)), 2)
        body = {"from": "sessions.evs", "where": {"gte": ["evs.value", v]},
                "groupby": ["evs.event_type"],
                "select": [{"name": "n", "value": ".", "aggregate": "count"},
                           {"name": "max_value", "value": "evs.value", "aggregate": "max"},
                           {"name": "n_events", "value": "evs.event_id", "aggregate": "cardinality"}],
                "sort": ["event_type"], "format": fmt}
        sql = f"""SELECT event_type, count(*) AS n, max(value) AS max_value,
                         count(DISTINCT event_id) AS n_events
                  FROM events WHERE value >= {v} GROUP BY 1 ORDER BY 1"""
        return "deep_from", "/query", body, sql
    if t == 7:
        m = int(rng.integers(15, 35))
        body = {"from": {"from": "events", "groupby": ["user_id"],
                         "select": [{"name": "n_ev", "value": ".", "aggregate": "count"},
                                    {"name": "max_value", "value": "value", "aggregate": "max"}]},
                "where": {"gte": ["n_ev", m]},
                "select": [{"name": "n_users", "value": ".", "aggregate": "count"},
                           {"name": "sum_ev", "value": "n_ev", "aggregate": "sum"},
                           {"name": "max_of_max", "value": "max_value", "aggregate": "max"}],
                "format": fmt}
        sql = f"""SELECT count(*) AS n_users, CAST(sum(n_ev) AS BIGINT) AS sum_ev,
                         max(max_value) AS max_of_max
                  FROM (SELECT user_id, count(*) AS n_ev, max(value) AS max_value
                        FROM events GROUP BY user_id) WHERE n_ev >= {m}"""
        return "nested_from", "/query", body, sql
    if t == 8:
        c = int(rng.integers(20, 200))
        lim = int(rng.integers(100, 301))
        body = {"from": "events",
                "select": [{"name": "event_id", "value": "event_id"},
                           {"name": "vplus", "value": {"add": ["value", {"literal": 1}]}},
                           {"name": "cat", "value": {"case": [
                               {"when": {"gt": ["value", c]}, "then": {"literal": "big"}},
                               {"literal": "small"}]}},
                           {"name": "ukey", "value": {"concat": ["event_type", "user_id"],
                                                      "separator": ":"}}],
                "sort": ["event_id"], "limit": lim, "format": fmt}
        sql = f"""SELECT event_id, value + 1.0 AS vplus,
                         CASE WHEN value > {c} THEN 'big' ELSE 'small' END AS cat,
                         event_type || ':' || CAST(user_id AS VARCHAR) AS ukey
                  FROM events ORDER BY event_id LIMIT {lim}"""
        return "select_expr", "/query", body, sql
    p = float(rng.choice([0.25, 0.5, 0.75]))
    body = {"from": "lineitem", "groupby": ["l_returnflag"],
            "select": [{"name": "p", "value": "l_quantity", "aggregate": "percentile",
                        "percentile": p},
                       {"name": "n", "value": ".", "aggregate": "count"}],
            "sort": ["l_returnflag"], "format": fmt}
    sql = f"""SELECT l_returnflag,
                     percentile_cont({p}) WITHIN GROUP (ORDER BY l_quantity) AS p,
                     count(*) AS n
              FROM lineitem GROUP BY 1 ORDER BY 1"""
    return "percentile", "/query", body, sql


def gen_serve(rng, out):
    _write(_lineitem(rng, SERVE_LINEITEM), f"{out}/lineitem.parquet")
    _write(_events(rng, SERVE_EVENTS), f"{out}/events.parquet")
    _write(_embeddings(rng, SERVE_VECTORS), f"{out}/embeddings.parquet")
    kinds = [SERVE_BLOCK[j] for _ in range(SERVE_BLOCKS)
             for j in rng.permutation(len(SERVE_BLOCK))]
    with open(f"{out}/requests.jsonl", "w") as f:
        for i, kind in enumerate(kinds):
            tpl, path, body, sql = _serve_request(rng, kind)
            f.write(json.dumps({"id": i, "block": i // len(SERVE_BLOCK),
                                "template": tpl, "path": path,
                                "body": json.dumps(body, sort_keys=True),
                                "sql": sql}, sort_keys=True) + "\n")
    return {"rows": SERVE_LINEITEM + SERVE_EVENTS + SERVE_VECTORS,
            "requests": len(kinds), "row_groups": 3}


# ----------------------------------------------------------------- curate

def _doc_text(rng):
    n = int(rng.integers(8, 95))
    return " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])


def _corpus(rng, n):
    n_dup = int(round(n * CURATE_DUP_SHARE))
    texts = [_doc_text(rng) for _ in range(n)]
    # near-duplicates: copies of an earlier corpus doc (ids >= 10 are the
    # corpus, < 10 the held-out benchmark) with one extra trailing word
    dup_ids = np.sort(rng.choice(np.arange(n // 2, n), n_dup, replace=False))
    for d in dup_ids:
        texts[d] = texts[int(rng.integers(10, n // 2))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), n_dup


def gen_curate(rng, out):
    table, n_dup = _corpus(rng, CURATE_DOCS)
    _write(table, f"{out}/documents.parquet", CURATE_ROW_GROUPS)
    return {"docs": CURATE_DOCS, "rows": CURATE_DOCS, "row_groups": CURATE_ROW_GROUPS,
            "dup_share": n_dup / CURATE_DOCS, "dup_docs": n_dup}


# ----------------------------------------------------------------- ingest

def _batch_log(rng, b):
    """(text lines, sessions truth, malformed count) of one micro-batch."""
    lines = []
    t = 1_470_000_000.0 + b * 10_000.0
    for s in range(INGEST_SOURCES_PER_BATCH):
        source = f"b{b}-task{s}"
        lines.append({"action": "suite_start", "time": round(t, 3), "source": source,
                      "thread": "MainThread",
                      "tests": [f"dom/t{k}.html" for k in range(INGEST_TESTS_PER_SOURCE)]})
        for k in range(INGEST_TESTS_PER_SOURCE):
            test = f"dom/t{k}.html"
            t += 0.1
            lines.append({"action": "test_start", "time": round(t, 3), "test": test,
                          "source": source, "thread": "MainThread"})
            n_sub = int(rng.integers(2, 12))
            for j in range(n_sub):
                t += 0.013
                failed = rng.random() < 0.15
                line = {"action": "test_status", "time": round(t, 3), "test": test,
                        "source": source, "subtest": f"sub{j}",
                        "status": "FAIL" if failed else "PASS", "expected": "PASS"}
                if failed:
                    line["message"] = f"assertion {j} failed"
                lines.append(line)
            if rng.random() < 0.3:
                t += 0.007
                suite = {"framework": {"name": "talos"}, "suites": [{
                    "name": "tp5", "extraOptions": ["e10s"], "value": 212.5,
                    "subtests": [{"name": f"page{k}", "value": 212.5,
                                  "replicates": [round(float(x), 1) for x in
                                                 rng.normal(212, 4, 3)],
                                  "unit": "ms", "lowerIsBetter": True}]}]}
                lines.append({"action": "log", "time": round(t, 3), "source": source,
                              "level": "INFO",
                              "message": "PERFHERDER_DATA: " + json.dumps(suite)})
            if rng.random() < 0.05:
                t += 0.005
                lines.append({"action": "crash", "time": round(t, 3), "test": test,
                              "source": source, "signature": "libxul.so + 0x123",
                              "minidump_path": "minidumps/x.dmp"})
            t += 0.05
            lines.append({"action": "test_end", "time": round(t, 3), "test": test,
                          "source": source, "status": "OK", "expected": "OK"})
        lines.append({"action": "suite_end", "time": round(t + 0.01, 3), "source": source})
        t += 1.0
    text = [json.dumps(l, sort_keys=True) for l in lines]
    n_bad = max(1, int(round(len(text) * INGEST_MALFORMED_SHARE)))
    for i in sorted(rng.choice(len(text), n_bad, replace=False)):
        # a line cut mid-record, as a truncated upload leaves it
        text[i] = text[i][: len(text[i]) // 2] + f" <truncated b{b} l{i}>"
    return text, _sessions(text), n_bad


def _sessions(text):
    """Ground truth of sessionizing the lines that still parse: per
    (source, test) the start/end times, subtest and failure counts, crash
    flag and the message of the last failing subtest."""
    out = {}
    for raw in text:
        try:
            l = json.loads(raw)
        except ValueError:
            continue
        if l.get("test") is None:
            continue
        s = out.setdefault((l.get("source"), l["test"]), {
            "source": l.get("source"), "test": l["test"], "start_time": None,
            "end_time": None, "subtest_count": 0, "fail_count": 0, "crash": False,
            "last": None})
        a, t = l["action"], l["time"]
        if a == "test_start":
            s["start_time"] = t if s["start_time"] is None else min(s["start_time"], t)
        elif a == "test_end":
            s["end_time"] = t if s["end_time"] is None else max(s["end_time"], t)
        elif a == "test_status":
            s["subtest_count"] += 1
            if l.get("status") != l.get("expected"):
                s["fail_count"] += 1
                if s["last"] is None or t > s["last"][0]:
                    s["last"] = (t, l.get("message"))
        elif a == "crash":
            s["crash"] = True
    rows = []
    for s in out.values():
        last = s.pop("last")
        s["last_fail_message"] = last[1] if last else None
        s["duration"] = (s["end_time"] - s["start_time"]
                         if s["start_time"] is not None and s["end_time"] is not None
                         else None)
        s["ok"] = s["fail_count"] == 0 and not s["crash"]
        rows.append(s)
    return rows


def gen_ingest(rng, out):
    os.makedirs(f"{out}/logs", exist_ok=True)
    os.makedirs(f"{out}/events", exist_ok=True)
    per_batch = []
    n_lines = n_bad = 0
    span = 30 * DAY_US // INGEST_BATCHES
    for b in range(INGEST_BATCHES):
        text, sessions, bad = _batch_log(rng, b)
        with open(f"{out}/logs/batch_{b:04d}.log", "w") as f:
            f.write("\n".join(text) + "\n")
        ev = _events(rng, INGEST_EVENTS_PER_BATCH, b * INGEST_EVENTS_PER_BATCH,
                     JAN_2024_US + b * span, span)
        _write(ev, f"{out}/events/batch_{b:04d}.parquet")
        day = ev.column("ts").to_numpy().astype("datetime64[D]").astype(str)
        counts = {}
        for d, e in zip(day, ev.column("event_type").to_pylist()):
            counts[f"{d}|{e}"] = counts.get(f"{d}|{e}", 0) + 1
        per_batch.append({"batch": b, "lines": len(text), "malformed": bad,
                          "sessions": sessions, "sketch_n": counts})
        n_lines += len(text)
        n_bad += bad
    # delivery order: every batch once, in order; the third slot of each
    # cycle redelivers one of the cycle's two batches (at-least-once
    # delivery), so every run exercises the idempotent writes
    schedule = []
    for c in range(INGEST_CYCLES):
        schedule += [2 * c, 2 * c + 1, 2 * c + int(rng.integers(0, 2))]
    with open(f"{out}/schedule.json", "w") as f:
        json.dump(schedule, f)
    with open(f"{out}/truth.json", "w") as f:
        json.dump(per_batch, f, sort_keys=True)
    return {"rows": INGEST_BATCHES * INGEST_EVENTS_PER_BATCH + n_lines,
            "batches": INGEST_BATCHES, "log_lines": n_lines,
            "malformed_share": n_bad / n_lines, "row_groups": 1,
            "cycles": INGEST_CYCLES, "redeliveries": len(schedule) - INGEST_BATCHES}


GENERATORS = {"serve": gen_serve, "curate": gen_curate, "ingest": gen_ingest}


def fingerprint(out):
    """sha256 over every data file (name and bytes), manifest excluded."""
    h = hashlib.sha256()
    total = 0
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                data = f.read()
            h.update(data)
            total += len(data)
    return h.hexdigest()[:16], total


def generate(workload, seed, out):
    """Write the inputs of (workload, seed) into ``out`` and return the
    manifest."""
    os.makedirs(out, exist_ok=True)
    # the workload name is mixed into the seed so that two workloads with
    # the same --seed do not share a random stream
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    sizes = GENERATORS[workload](rng, out)
    fp, total = fingerprint(out)
    manifest = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
                "fingerprint": fp, "bytes": total, **sizes}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
