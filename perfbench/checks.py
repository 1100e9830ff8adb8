"""Correctness checks: every output the JVM reports is compared, outside
the timed window, with DuckDB or with the generator's ground truth.

* serve  - each kept response (at least one per template) against the
  DuckDB SQL twin of its request (same literals); the kNN probe against
  the ``jx_knn_join`` query-key oracle; dashboard counts exactly and
  distinct-user estimates within 5%.
* curate - each chain's full output against its query key's
  ``SparkEntry.oracleSql`` over the generated corpus, where DuckDB can run
  that oracle within a run; the rules chain for what holds without its
  oracle (see ORACLE_CHAINS).
* ingest - the stores against the per-batch truth, over the distinct
  batches delivered (a redelivered batch must not count twice).

DuckDB results are cached per input fingerprint.
"""
import json
import math
import os
import re

import duckdb


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def _key(row):
    return json.dumps(row, default=str, sort_keys=True)


def _same_rows(actual, expected):
    """Multiset compare of row lists with float tolerance; returns a
    description of the first difference, or None."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    for a, e in zip(sorted(actual, key=_key), sorted(expected, key=_key)):
        if len(a) != len(e) or not all(_close(x, y) for x, y in zip(a, e)):
            return f"row {a} != expected {e}"
    return None


def _plain(v):
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if hasattr(v, "isoformat"):
        return str(v)
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


class Oracle:
    """DuckDB over the input tables, with results cached per fingerprint."""

    def __init__(self, inputs_dir, fingerprint, cache_dir):
        self.inputs_dir = inputs_dir
        self.path = os.path.join(cache_dir, f"{fingerprint}.json")
        self.cache = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.cache = json.load(f)
        self.con = None
        self.dirty = False

    def rows(self, sql):
        if sql not in self.cache:
            if self.con is None:
                self.con = duckdb.connect()
                self.con.execute("SET threads=4")
                for name in os.listdir(self.inputs_dir):
                    if name.endswith(".parquet"):
                        self.con.execute(
                            f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.inputs_dir, name)}')")
            cur = self.con.execute(sql)
            self.cache[sql] = {"columns": [d[0] for d in cur.description],
                               "rows": [_plain(list(r)) for r in cur.fetchall()]}
            self.dirty = True
        return self.cache[sql]

    def save(self):
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.path)


# ------------------------------------------------------------------ serve

def response_rows(body, columns):
    """The rows of a jx response (list, table or cube format) in the
    given column order."""
    doc = json.loads(body)
    fmt = doc["meta"]["format"]
    if fmt == "list":
        return [[r.get(c) for c in columns] for r in doc["data"]]
    if fmt == "table":
        idx = [doc["header"].index(c) for c in columns]
        return [[r[i] for i in idx] for r in doc["data"]]
    edges = doc["edges"]
    parts = [[p["value"] for p in e["domain"]["partitions"]] for e in edges]
    names = [e["name"] for e in edges]
    out = []

    def walk(dim, coords):
        if dim == len(edges):
            cell = {n: parts[d][i] for d, (n, i) in enumerate(zip(names, coords))}
            for agg, arr in doc["data"].items():
                v = arr
                for i in coords:
                    v = v[i]
                cell[agg] = v
            out.append([cell.get(c) for c in columns])
            return
        for i in range(len(parts[dim])):
            walk(dim + 1, coords + [i])

    walk(0, [])
    return out


def check_serve(inputs_dir, outputs, oracle, problems):
    with open(os.path.join(inputs_dir, "requests.jsonl")) as f:
        reqs = {r["id"]: r for r in map(json.loads, f)}
    templates = {r["template"] for r in reqs.values()}
    seen = set()
    for resp in outputs["responses"]:
        tpl, req = resp["template"], reqs[resp["id"]]
        seen.add(tpl)
        where = f"serve {tpl} request {resp['id']}"
        if resp["status"] != 200:
            problems.append(f"{where}: status {resp['status']}")
            continue
        sql = req["sql"] if tpl != "knn" else outputs["knn_oracle_sql"]
        want = oracle.rows(sql)
        cols = want["columns"]
        if tpl == "dashboard":
            got = response_rows(resp["body"], ["event_type", "n", "users_est"])
            exp = {r[0]: r for r in want["rows"]}
            if sorted(g[0] for g in got) != sorted(exp):
                problems.append(f"{where}: event types {[g[0] for g in got]}")
            for et, n, users in got:
                if et in exp and (n != exp[et][1] or
                                  abs(users - exp[et][2]) > max(1.0, 0.05 * exp[et][2])):
                    problems.append(f"{where}: {et} n={n} users~{users}, exact {exp[et]}")
            continue
        got = response_rows(resp["body"], cols)
        exp = want["rows"]
        if "n" in cols:  # dense cubes carry empty domain parts; SQL omits them
            i = cols.index("n")
            got = [r for r in got if r[i] not in (0, None)]
            exp = [r for r in exp if r[i] not in (0, None)]
        diff = _same_rows(got, exp)
        if diff:
            problems.append(f"{where}: {diff}")
    for tpl in sorted(templates - seen):
        problems.append(f"serve {tpl}: no response kept to check")
    return len(outputs["responses"])


# ----------------------------------------------------------------- curate

# chains whose query-key oracle DuckDB can run within a benchmark run.
# The rules oracle costs too much (89 s at 150 docs on 4 cores), so the
# rules chain is checked for what holds without it: every kept doc is a
# corpus doc and its final_md5 is the md5 of its hygienic text (the
# oracle's `hyg` step)
ORACLE_CHAINS = ("plain", "order")
# chains whose library function itself cuts the output (trainOrderOf keeps
# the first 300 instances), so the oracle keeps its LIMIT
LIMITED_CHAINS = ("order",)
HYGIENIC_MD5 = r"""
    SELECT doc_id, md5(regexp_replace(regexp_replace(regexp_replace(
             trim(regexp_replace(text, '[ \t\n\r\x01]+', ' ', 'g')),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS final_md5
    FROM documents WHERE doc_id >= 10"""


def check_curate(outputs, oracle, problems):
    n = 0
    for chain in ORACLE_CHAINS:
        out = outputs[chain]
        # the query keys cut the output to its first rows; the check
        # compares the whole output, so the oracle runs without the cut
        sql = out["oracle_sql"].strip()
        if chain not in LIMITED_CHAINS:
            sql = re.sub(r"\s+LIMIT\s+\d+\s*$", "", sql)
        want = oracle.rows(sql)
        if len(want["columns"]) != len(out["columns"]):
            problems.append(f"curate {chain}: columns {out['columns']} vs {want['columns']}")
            continue
        diff = _same_rows(out["rows"], want["rows"])
        if diff:
            problems.append(f"curate {chain} ({out['key']}): {diff}")
        n += 1
    md5 = dict(oracle.rows(HYGIENIC_MD5)["rows"])
    out, cols = outputs["rules"], outputs["plain"]["columns"]
    i_doc, i_md5 = cols.index("doc_id"), cols.index("final_md5")
    if out["columns"] != cols or not out["rows"]:
        problems.append(f"curate rules: columns {out['columns']}, {len(out['rows'])} rows")
    else:
        bad = [r for r in out["rows"] if md5.get(r[i_doc]) != r[i_md5]]
        if bad:
            problems.append(f"curate rules: {len(bad)} rows whose doc or text is not the "
                            f"corpus's, e.g. {bad[0]}")
        n += 1
    return n


# ----------------------------------------------------------------- ingest

def check_ingest(inputs_dir, outputs, problems):
    with open(os.path.join(inputs_dir, "truth.json")) as f:
        truth = {b["batch"]: b for b in json.load(f)}
    done = sorted(set(outputs["processed"]))
    if not done:
        problems.append("ingest: no batch delivered")
        return 0
    if len(done) == len(outputs["processed"]):
        # the schedule redelivers a batch in every cycle; without one the
        # double-count check below would prove nothing
        problems.append("ingest: no batch was redelivered in the timed window")
    cols = ["source", "test", "start_time", "end_time", "subtest_count", "fail_count",
            "crash", "duration", "ok", "last_fail_message"]
    want = [[s[c] for c in cols] for b in done for s in truth[b]["sessions"]]
    diff = _same_rows(outputs["sessions"], want)
    if diff:
        problems.append(f"ingest sessions: {diff}")
    dead = {int(b): n for b, n in outputs["dead"]}
    if sorted(dead) != done:
        problems.append(f"ingest dead letters under batch ids {sorted(dead)}, "
                        f"expected {done}")
    for b in done:
        if dead.get(b) != truth[b]["malformed"]:
            problems.append(f"ingest dead letters of batch {b}: {dead.get(b)}, "
                            f"expected {truth[b]['malformed']}")
    sk = {}
    for b in done:
        for k, n in truth[b]["sketch_n"].items():
            sk[k] = sk.get(k, 0) + n
    diff = _same_rows(outputs["sketch_n"], [k.split("|") + [n] for k, n in sk.items()])
    if diff:
        problems.append(f"ingest sketch store counts: {diff}")
    return len(done)


def check(workload, inputs_dir, manifest, outputs, cache_dir):
    problems = []
    oracle = Oracle(inputs_dir, manifest["fingerprint"], cache_dir)
    n = 0
    try:
        if workload == "serve":
            n = check_serve(inputs_dir, outputs, oracle, problems)
        elif workload == "curate":
            n = check_curate(outputs, oracle, problems)
        else:
            n = check_ingest(inputs_dir, outputs, problems)
    except Exception as e:  # a check that cannot run is a failed check
        problems.append(f"check of {workload} could not run: {type(e).__name__}: {e}")
    oracle.save()
    return {"correct": not problems and n > 0, "checked": n, "problems": problems}


# ------------------------------------------------------------ test hook

def _bump(row):
    for i, v in enumerate(row):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            row[i] = v + 1
            return
    row[0] = f"{row[0]}x"


def corrupt(workload, outputs):
    """Change one output row, as a wrong program would (used by the
    benchmark's own tests to show the checks catch it)."""
    if workload == "serve":
        resp = next(r for r in outputs["responses"] if r["template"] == "groupby")
        doc = json.loads(resp["body"])
        first = doc["data"][0]
        if isinstance(first, dict):
            first["n"] += 1
        else:
            _bump(first)
        resp["body"] = json.dumps(doc)
    elif workload == "curate":
        _bump(outputs["plain"]["rows"][0])
    else:
        _bump(outputs["sessions"][0])
