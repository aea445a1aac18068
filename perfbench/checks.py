"""Output checks of one run, against results computed apart from the engine.

- Declared queries with oracle SQL: DuckDB runs `SparkEntry.oracleSql` over
  the same parquet files; the rows must match in order, column by column.
  Expected results are cached under `.perfbench/oracle-cache`, keyed by the
  SQL text and the input files' contents; `run.py --refresh-oracles`
  recomputes them.
- Declared queries without oracle SQL: a property their method must have
  (PROPERTIES below).
- Every repetition of a query returns the rows of its first, checked run.
- The Deloton path: the generator's own users, rides and responses, plus
  three conservation checks.
- Traced runs: no span is credited more task time than cores x its wall time.

An operation counts as failed when it raises, or when its check fails and
the fault is one KNOWN_FAULTS names. Any other check failure makes the run
incorrect.
"""
import collections
import datetime as dt
import decimal
import hashlib
import json
import math
import os

import properties

Verdict = collections.namedtuple("Verdict", "correct attempted failed problems")

# Operations that fail on every run because of a fault in the engine.
KNOWN_FAULTS = {
    # Endpoints.rideById keys on ride_id alone, which DelotonPipeline.rides
    # numbers per stream: every stream has rides 2 and 3, so both ids
    # return one row per stream.
    "ride_by_id",
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


# ------------------------------------------------------------ normal form

def norm(v):
    """A value in the form the harness renders engine values in."""
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b
    return a == b


def read_rows(path):
    with open(path) as f:
        header = json.loads(f.readline())
        rows = [norm(json.loads(line)) for line in f]
    return header, rows


def compare(cols_a, rows_a, cols_b, rows_b):
    """None when the two results agree, else a one-line difference."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    idx = [cols_b.index(c) for c in cols_a] if len(set(cols_a)) == len(cols_a) else \
        list(range(len(cols_a)))
    for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        rb = [rb[j] for j in idx]
        for c, x, y in zip(cols_a, ra, rb):
            if not same(x, y):
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None


# ------------------------------------------------------------ DuckDB oracle

def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_rows(con, sql, cache_dir, fingerprint, refresh):
    key = hashlib.sha256((fingerprint + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if not refresh and os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        return cached["columns"], cached["rows"]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [norm(list(r)) for r in cur.fetchall()]
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"columns": cols, "rows": rows}, f)
    os.replace(tmp, path)
    return cols, rows


def check_queries(plan, result, work, root, refresh, problems, bad_ops):
    import duckdb
    data = plan["data"]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    fingerprint = data_fingerprint(data)
    cache = os.path.join(root, ".perfbench", "oracle-cache")
    errored = {o["key"] for o in result["ops"] if "error" in o}
    for key in plan["keys"]:
        path = os.path.join(work, "rows", f"{key}.jsonl")
        if not os.path.exists(path):
            if key not in errored:
                problems.append(f"{key}: no output captured")
                bad_ops.add(key)
            continue
        header, rows = read_rows(path)
        sql = result["oracle_sql"].get(key)
        if sql is not None:
            try:
                cols, expected = oracle_rows(con, sql, cache, fingerprint, refresh)
                diff = compare(header["columns"], rows, cols, expected)
            except Exception as e:  # an oracle that cannot run is a check failure
                diff = f"oracle error: {e}"
        else:
            prop = properties.PROPERTIES.get(key)
            diff = prop(con, header["columns"], rows) if prop else "no check for this key"
        if diff:
            problems.append(f"{key}: {diff}")
            bad_ops.add(key)
    first = {}
    for o in result["ops"]:
        if o["kind"] == "query" and "digest" in o:
            first.setdefault(o["key"], o["digest"])
            if o["digest"] != first[o["key"]]:
                problems.append(f"{o['key']}: round {o['round']} rows differ from its first run")
                bad_ops.add(o["key"])
    con.close()


# ------------------------------------------------------------ Deloton path

def ms_text(ms):
    """Epoch milliseconds as the harness renders a timestamp."""
    return (dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)).strftime(
        "%Y-%m-%d %H:%M:%S.%f")


def user_row(u):
    return [u["user_id"], u["name"], u["gender"], u["age"], u["height"], u["weight"],
            ms_text(u["account_created"]), u["original_source"], u["postcode"]]


USER_COLS = ["user_id", "name", "gender", "age", "height", "weight", "account_created",
             "original_source", "postcode"]
RIDE_COLS = ["stream", "ride_id", "start_time", "duration", "avg_resistance", "avg_rpm",
             "avg_power", "avg_hrt", "user_id"]


def ride_row(r):
    return [r["stream"], r["ride_id"], ms_text(r["start_ms"]), r["duration"],
            r["avg_resistance"], r["avg_rpm"], r["avg_power"], r["avg_hrt"], r["user_id"]]


def json_record(text, ts_cols=("start_time", "account_created")):
    rec = json.loads(text)
    for c in ts_cols:
        if c in rec:  # Spark JSON: 2024-03-01T10:00:00.500Z
            t = dt.datetime.fromisoformat(rec[c].replace("Z", "+00:00"))
            rec[c] = norm(t)
    return rec


def record_key(rec):
    return json.dumps(rec, sort_keys=True)


def expected_response(req, users, rides):
    """Records an endpoint must return, as dicts of output columns."""
    fn = req["fn"]
    u = [dict(zip(USER_COLS, user_row(x))) for x in users]
    r = [dict(zip(RIDE_COLS, ride_row(x))) for x in rides]
    if fn == "ride_by_id":
        return [x for x in r if x["ride_id"] == req["id"]]
    if fn == "riders":
        return u
    if fn == "rider_by_id":
        return [x for x in u if x["user_id"] == req["id"]]
    if fn == "riders_by_gender":
        return [x for x in u if x["gender"] == req["gender"]]
    if fn == "riders_by_age":
        if req.get("age") is not None:
            return [x for x in u if x["age"] == req["age"]]
        if req.get("lower") is not None:
            return [x for x in u if req["lower"] <= x["age"] <= req["upper"]]
        return u
    if fn == "rides_by_gender":
        g = {x["user_id"]: x for x in u if x["gender"] == req["gender"]}
        return [dict({"user_id": y["user_id"], "gender": g[y["user_id"]]["gender"],
                      "age": g[y["user_id"]]["age"]}, **y) for y in r if y["user_id"] in g]
    if fn == "rides_for_rider":
        return [x for x in r if x["user_id"] == req["id"]]
    if fn == "daily":
        if req.get("year") is None:
            latest = max(x["start_time"][:10] for x in r)
            return [x for x in r if x["start_time"][:10] == latest]
        want = f"{req['year']:04d}" + (f"-{req['month']:02d}" if req.get("month") else "") + \
            (f"-{req['day']:02d}" if req.get("day") else "")
        return [x for x in r if x["start_time"].startswith(want)]
    raise ValueError(fn)


def read_output(work, name, problems, bad_ops):
    """A captured output, or None (and a check failure) when it is missing."""
    path = os.path.join(work, name)
    if os.path.exists(path):
        return path
    problems.append(f"{name}: no output captured")
    bad_ops.add("missing")
    return None


def check_deloton(plan, expect, result, work, problems, bad_ops):
    users1, rides1 = expect["users1"], expect["rides1"]
    users2, rides2 = users1 + expect["users_new2"], rides1 + expect["rides2"]
    lines = [expect["lines1"], expect["lines2"]]
    for scan, n in zip(result["logsource_scans"], lines):
        if scan["rows"] != n:
            problems.append(f"logsource {scan['batch']}: {scan['rows']} rows, generator wrote {n}")
            bad_ops.add("logsource")
    for name, cols, exp_rows in (("users", USER_COLS, [user_row(x) for x in users2]),
                                 ("rides", RIDE_COLS, [ride_row(x) for x in rides2])):
        path = read_output(work, os.path.join("rows", f"{name}.jsonl"), problems, bad_ops)
        if path is None:
            continue
        header, got = read_rows(path)
        if name == "users" and "user_id" in header["columns"]:
            ids = [row[header["columns"].index("user_id")] for row in got]
            if len(ids) != len(set(ids)):
                problems.append("users: a user_id repeats after batch 2")
                bad_ops.add("pipeline")
        exp = sorted((norm(r) for r in exp_rows), key=json.dumps)
        idx = [header["columns"].index(c) for c in cols] if sorted(header["columns"]) == \
            sorted(cols) else None
        if idx is None:
            diff = f"columns {header['columns']}"
        else:
            got = sorted(([row[i] for i in idx] for row in got), key=json.dumps)
            diff = compare(cols, got, cols, exp)
        if diff:
            problems.append(f"{name} table: {diff}")
            bad_ops.add("pipeline")
    requests = plan["requests"]
    for phase, users, rides in (("serve1", users1, rides1), ("serve2", users2, rides2)):
        path = read_output(work, f"{phase}.jsonl", problems, bad_ops)
        if path is None:
            continue
        with open(path) as f:
            bodies = [json.loads(line) for line in f]
        if len(bodies) != len(requests):
            problems.append(f"{phase}: {len(bodies)} responses for {len(requests)} requests")
            bad_ops.add("missing")
        counts = collections.defaultdict(set)
        for i, (req, body) in enumerate(zip(requests, bodies)):
            got = [json_record(t) for t in body]
            if req["fn"] in ("riders_by_gender", "riders"):
                counts[req.get("gender", "all")].add(len(got))
            if req["fn"] == "ride_by_id":
                ok = len(got) <= 1 and all(
                    record_key(g) in {record_key(e) for e in expected_response(req, users, rides)}
                    for g in got)
                if not ok:
                    problems.append(f"{phase} request {i} ride_by_id({req['id']}): "
                                    f"{len(got)} rides")
                    bad_ops.add(f"request:{phase}:{i}")
                continue
            exp = expected_response(req, users, rides)
            exp_keys = sorted(record_key(e) for e in exp)
            got_keys = sorted(record_key(g) for g in got)
            if exp_keys != got_keys:
                problems.append(f"{phase} request {i} {req}: {len(got)} records, "
                                f"expected {len(exp)}")
                bad_ops.add(f"request:{phase}:{i}")
        # conservation: riders by gender sum to all riders
        if counts["all"] and counts["male"] and counts["female"]:
            if {m + f for m in counts["male"] for f in counts["female"]} != counts["all"]:
                problems.append(f"{phase}: riders by gender do not sum to all riders")
                bad_ops.add("conservation")


# ------------------------------------------------------------ trace

def check_spans(result, cores, problems):
    wall = collections.defaultdict(float)
    for s in result.get("spans", []):
        wall[s["name"]] += s["end_ms"] - s["start_ms"]
    for name, c in result.get("span_counters", {}).items():
        wall_ms = wall.get(name)
        if wall_ms is not None and c["task_ms"] > cores * wall_ms + 5:
            problems.append(f"span {name}: {c['task_ms']} ms of tasks in {wall_ms:.1f} ms")


def check(workload, plan, expect, result, work, root, cores, refresh=False):
    problems, bad_ops = [], set()
    ops = result["ops"]
    if workload == "deloton-ingest-serve":
        check_deloton(plan, expect, result, work, problems, bad_ops)
        attempted = len(ops) + len(result.get("steps", {}))
    else:
        check_queries(plan, result, work, root, refresh, problems, bad_ops)
        attempted = len(ops)
    errored = [o for o in ops if "error" in o]
    for o in errored:
        problems.append(f"{o.get('key', o.get('fn'))}: raised {o['error']}")
    known = set()
    for o in ops:
        if "error" in o:
            continue
        tag = o.get("key") or f"request:{o['phase']}:{o['index']}"
        if tag in bad_ops and (o.get("key") in KNOWN_FAULTS or o.get("fn") in KNOWN_FAULTS):
            known.add(id(o))
    unexpected = bad_ops - {o.get("key") or f"request:{o['phase']}:{o['index']}"
                            for o in ops if id(o) in known}
    if plan.get("trace"):
        n = len(problems)
        check_spans(result, cores, problems)
        if len(problems) > n:
            unexpected.add("spans")
    return Verdict(not unexpected, attempted, len(errored) + len(known), problems)
