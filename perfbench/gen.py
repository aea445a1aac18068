"""Seeded input generators for the benchmark.

`write_tables` writes the ten parquet tables the declared queries read
(`region` .. `embeddings`), one file and one row group each, in the
schemas and value ranges of the engine's reference test data.

`make_logs` builds two batches of Kafka-style `{"log": ...}` files, one
file per bike, in the line shapes of FIXTURES.md section 1, together
with the `users`/`rides` rows the ingest pipeline must produce from
them. The expected rows are computed here, in plain Python, from the
generator's own records, never by the engine under test.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)

# Table sizes: a tenth of the reference sf0.01 data for the relational
# tables and half of it for the corpus tables. Engine time at these sizes
# is mostly per-job cost, and the DuckDB oracles of the quadratic corpus
# keys (q62b, q115) grow with the square of the corpus, so half the corpus
# keeps a run's checks inside its time budget.
SIZES = {
    "customer": 150, "supplier": 100, "part": 2000, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 250, "embeddings": 250,
}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts_us(days_from, start, n, rng):
    """`n` midnight timestamps (µs) uniform over `days_from` days after `start`."""
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    return base + rng.integers(0, days_from, n) * 86_400 * 1_000_000


def write_tables(out_dir, seed, sizes=SIZES):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = sizes["customer"]
    save("customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = sizes["supplier"]
    save("supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = sizes["part"]
    adj = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
    noun = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
    save("part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n)]})
    n_ord, n_cust = sizes["orders"], sizes["customer"]
    save("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_ts_us(2405, dt.datetime(1995, 1, 1), n_ord, rng), ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    n = sizes["lineitem"]
    save("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sizes["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_ts_us(2499, dt.datetime(1995, 1, 2), n, rng), ts)})
    n = sizes["events"]
    span_us = 30 * 86_400 * 1_000_000
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    stamps = np.sort(rng.choice(span_us, n, replace=False)) + t0
    save("events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(stamps, ts),
        "user_id": pa.array(rng.integers(0, max(2, n // 66), n), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = sizes["documents"]
    texts = []
    for _ in range(n):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    save("documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = sizes["embeddings"]
    vecs = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


# ---------------------------------------------------------------- logs

HONORIFICS = ["Mr", "Ms", "Dr", "Mrs", "Miss"]
FIRST = ["Wayne", "Jane", "Alex", "Sam", "Priya", "Tom", "Ada", "Omar", "Lena", "Kai"]
LAST = ["Fitzgerald", "Doe", "Smith", "Patel", "Jones", "Okafor", "Berg", "Nakamura"]


def _fmt_ts(ms):
    t = EPOCH + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"


def _user_profile(rng, uid):
    first, last = FIRST[rng.integers(len(FIRST))], LAST[rng.integers(len(LAST))]
    hon = HONORIFICS[rng.integers(len(HONORIFICS))] + " " if rng.random() < 0.7 else ""
    dob = int((dt.datetime(int(rng.integers(1950, 2006)), int(rng.integers(1, 13)), 1)
               - EPOCH).total_seconds()) * 1000
    acd = int((dt.datetime(int(rng.integers(2020, 2024)), int(rng.integers(1, 13)),
                           int(rng.integers(1, 29))) - EPOCH).total_seconds()) * 1000
    return {
        "user_id": uid, "name": f"{hon}{first} {last}",
        "gender": "male" if rng.random() < 0.5 else "female",
        "address": f"{int(rng.integers(1, 200))} Crane Street,London,"
                   f"AB{int(rng.integers(1, 10))} {int(rng.integers(1, 10))}CD",
        "date_of_birth": dob, "email_address": f"user{uid}@example.com",
        "height_cm": int(rng.integers(150, 201)), "weight_kg": int(rng.integers(50, 111)),
        "account_create_date": acd, "bike_serial": f"SN{int(rng.integers(0, 10000)):04d}",
        "original_source": "offline" if rng.random() < 0.5 else "online",
    }


def _user_line(p):
    body = ", ".join(f"'{k}': '{v}'" if isinstance(v, str) else f"'{k}': {v}"
                     for k, v in p.items())
    return "[INFO]: data = {" + body + "}"


def ride_lines(start_ms, profile, events):
    """One ride's log lines and the ride the pipeline must report for it.

    `events` are (gap_ms, kind, values) after the user line: kind "ride"
    with (duration, resistance), or "tel" with (hrt, rpm, power).
    Returns (lines, facts, end_ms), lines as (ts_ms, text).
    """
    t = start_ms
    lines = [(t, "[INFO]: --------- beginning of a new ride"),
             (t + 1000, "[INFO]: Getting user data from server"),
             (t + 1500, _user_line(profile))]
    first_ts, t = t + 1000, t + 1500
    res, rpm, power, hrt, dur = [], [], [], [], 0.0
    for gap, kind, vals in events:
        t += gap
        if kind == "ride":
            dur = vals[0]
            res.append(vals[1])
            lines.append((t, f"[INFO]: Ride - duration = {vals[0]}; resistance = {vals[1]}"))
        else:
            hrt.append(vals[0]), rpm.append(vals[1]), power.append(vals[2])
            lines.append((t, f"[INFO]: Telemetry - hrt = {vals[0]}; rpm = {vals[1]}; "
                             f"power = {vals[2]}"))
    facts = {"start_ms": first_ts, "duration": dur,
             "avg_resistance": sum(res) / len(res), "avg_rpm": sum(rpm) / len(rpm),
             "avg_power": sum(power) / len(power), "avg_hrt": sum(hrt) / len(hrt),
             "user_id": profile["user_id"]}
    return lines, facts, t


def _draw_events(rng, n_samples):
    """Ride samples, each followed by one or two telemetry samples. Values
    are integers and quarters, so every average is exact in binary floating
    point and the order Spark sums them in cannot change it."""
    events = []
    for i in range(n_samples):
        events.append((500 * int(rng.integers(1, 4)), "ride",
                       (float(i + 1), int(rng.integers(10, 90)))))
        for _ in range(1 + i % 2):
            events.append((500, "tel", (int(rng.integers(60, 180)),
                                        int(rng.integers(20, 120)) / 4,
                                        int(rng.integers(0, 1200)) / 4)))
    return events


def write_stream(path, stream, rides):
    """Write one stream's file from (start_ms, profile, events) rides.

    Returns the user-line records (ts, offset, stream, user_id), the rides
    the pipeline keeps (the first and last ride of a stream are dropped by
    its boundary trim; ride_id counts ride markers from 1) and the number
    of lines written.
    """
    msgs, facts, user_lines = [], [], []
    for start_ms, profile, events in rides:
        lines, f, _ = ride_lines(start_ms, profile, events)
        for t, text in lines:
            if text.startswith("[INFO]: data = "):
                user_lines.append((t, len(msgs), stream, profile["user_id"]))
            msgs.append((t, text))
        facts.append(f)
    with open(path, "w") as out:
        for t, text in msgs:
            out.write(json.dumps({"log": f"{_fmt_ts(t)} {text}"}) + "\n")
    kept = [dict(f, stream=stream, ride_id=rid) for rid, f in enumerate(facts[1:-1], start=2)]
    return user_lines, kept, len(msgs)


def _batch(rng, out_dir, profiles, clock, pool, rides_per_bike, samples):
    """Write one batch, one file per bike; returns user lines, rides, lines.

    Rides take their users from a seeded shuffle of the pool, cycled, and
    ride i of a bike has samples[i % len(samples)] ride samples, so the
    batch's size and user count are the same for every seed.
    """
    os.makedirs(out_dir, exist_ok=True)
    user_lines, rides, n_lines = [], [], 0
    riders = [pool[i] for i in rng.permutation(len(pool))]
    k = 0
    for b, n_rides in enumerate(rides_per_bike):
        stream = f"bike-{b:03d}"
        specs = []
        for i in range(n_rides):
            events = _draw_events(rng, samples[(b + i) % len(samples)])
            specs.append((clock[b], profiles[riders[k % len(riders)]], events))
            k += 1
            clock[b] += 1500 + sum(gap for gap, _, _ in events) + 60_000
        u, r, n = write_stream(os.path.join(out_dir, f"{stream}.jsonl"), stream, specs)
        user_lines += u
        rides += r
        n_lines += n
    return user_lines, rides, n_lines


def expected_users(user_lines, profiles):
    """First-wins users from (ts, offset, stream, user_id) user-line records;
    ages are anchored to the batch's latest user line."""
    anchor = max(t for t, _, _, _ in user_lines)
    year = (EPOCH + dt.timedelta(milliseconds=anchor)).year
    seen, out = set(), []
    for _, _, _, uid in sorted(user_lines):
        if uid in seen:
            continue
        seen.add(uid)
        p = profiles[uid]
        name = p["name"]
        for h in HONORIFICS:
            if name.startswith(h + " "):
                name = name[len(h) + 1:]
                break
        out.append({
            "user_id": uid, "name": name, "gender": p["gender"],
            "age": year - (EPOCH + dt.timedelta(milliseconds=p["date_of_birth"])).year,
            "height": p["height_cm"], "weight": p["weight_kg"],
            "account_created": p["account_create_date"],
            "original_source": p["original_source"],
            "postcode": p["address"].split(",")[-1]})
    return out


def make_logs(out_dir, seed, bikes=12, users=(60, 30)):
    """Two batches under out_dir/batch1 and out_dir/batch2, plus expectations.

    Batch 1 draws riders from the first `users[0]` users, batch 2 from the
    second half of those plus `users[1]` new ones. Every bike has at least
    four rides, so rides 2 and 3 exist in every stream of both batches.
    Rides per bike are skewed, and one bike has three times the rides of
    the busiest other bike: LogSource reads one file per task, so that
    file is the scan's straggler. Sizes do not depend on the seed; the
    values, users and timestamps do.
    """
    rng = np.random.default_rng(seed + 7919)
    ids = [int(i) for i in rng.choice(np.arange(1, 100_000), users[0] + users[1], replace=False)]
    profiles = {uid: _user_profile(rng, uid) for uid in ids}
    pool1, pool2 = ids[:users[0]], ids[users[0] // 2:]
    day0 = int((dt.datetime(2024, 3, 1) - EPOCH).total_seconds()) * 1000
    clock = [day0 + b for b in range(bikes)]  # distinct ms offset per stream
    per_bike = [4 + (b * b) % 7 for b in range(bikes)]
    per_bike[bikes // 2] = 3 * max(per_bike)
    samples = (6, 14, 9, 20, 4, 11)
    u1, r1, n1 = _batch(rng, os.path.join(out_dir, "batch1"), profiles, clock, pool1,
                        per_bike, samples)
    clock = [c + 86_400_000 for c in clock]
    u2, r2, n2 = _batch(rng, os.path.join(out_dir, "batch2"), profiles, clock, pool2,
                        per_bike[::-1], samples)
    users1 = expected_users(u1, profiles)
    known = {u["user_id"] for u in users1}
    users2_new = [u for u in expected_users(u2, profiles) if u["user_id"] not in known]
    return {"users1": users1, "rides1": r1, "lines1": n1,
            "users_new2": users2_new, "rides2": r2, "lines2": n2}
