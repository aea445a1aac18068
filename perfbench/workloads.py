"""The benchmark's workloads: inputs, operation order and request mix.

Every choice below is drawn from the run's seed or fixed, never from the
host, so a run attempts the same operations whatever its speed.
"""
import os
import re

import gen


def declared_keys(root):
    """key -> ops module, read from the `SparkEntry.queries` table in the source."""
    with open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) as f:
        src = f.read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    keys = {}
    for key, target in re.findall(r'^\s*"(q[a-z0-9_]+)" -> \(+(?:[a-z, ]*\) => )?([A-Za-z.]+)',
                                  body, re.M):
        parts = target.split(".")
        keys[key] = parts[-2] if len(parts) >= 2 else parts[0]
    return keys


# The keys the query workload runs. One run must fit its share of the
# benchmark's time budget, and a cold pass over every declared key takes
# minutes (232 s for the 128 corpus keys on 4 cores), so it runs a fixed
# selection: the keys ROADMAP names as dense kernels, stragglers and
# job-floor keys (the four Audit keys among them), plus cheap keys that put
# every corpus ops module in the run.
CORPUS_KEYS = (
    "q115_knn_label", "q31_embed_neardup", "q25_minhash_neardup", "q157_cross_source_dups",
    "q219_dedup_degree_hist", "q62b_dedup_clusters_star", "q213_blockmax_wand",
    "q226_query_expansion",
    "q178_merkle_manifest", "q174_join_skew_audit", "q169_dq_audit", "q182_join_cardinality",
    "q67_corpus_prep", "q63_pii_scrub", "q27_lang_id", "q24_multimodal_cols", "q64_chunk",
)


class CorpusCold:
    """The selected keys once per round, in a fixed order, each round in a
    new session whose staging directory starts empty."""
    round_seconds = 30

    def prepare(self, work, seed, seconds, rng):
        modules = declared_keys(os.getcwd())
        keys = sorted(CORPUS_KEYS)
        data = os.path.join(work, "data")
        gen.write_tables(data, seed)
        plan = {"data": data, "keys": keys, "rounds": max(1, seconds // self.round_seconds),
                "modules": {k: modules[k] for k in keys}}
        return plan, {}


class DelotonIngestServe:
    """Log batch 1 -> users/rides, a request mix, batch 2 upserted and
    appended, the mix again."""
    requests_per_second = 1.1

    def prepare(self, work, seed, seconds, rng):
        logs = os.path.join(work, "logs")
        expect = gen.make_logs(logs, seed)
        users = [u["user_id"] for u in expect["users1"]]
        n = max(len(ENDPOINTS), int(seconds * self.requests_per_second))
        plan = {"logs": {"batch1": os.path.join(logs, "batch1"),
                         "batch2": os.path.join(logs, "batch2")},
                "requests": request_mix(rng, users, n)}
        return plan, expect


# The endpoints of the mix, each with the share of requests it gets.
ENDPOINTS = ("ride_by_id", "riders", "rider_by_id", "riders_by_gender", "riders_by_age",
             "rides_by_gender", "rides_for_rider", "daily")


def request_mix(rng, user_ids, n):
    """`n` requests: the same number for every endpoint, in a seeded order.

    `ride_by_id` always asks for ride 2 and ride 3, which every stream of
    every batch has, and for one id no ride has: its outcome does not
    depend on the seed. Other endpoints draw ids from the batch-1 users
    and mix in ids and values that match nothing.
    """
    per = n // len(ENDPOINTS)
    reqs = []
    for i in range(per):
        reqs.append({"fn": "ride_by_id", "id": [2, 3, 10**9][i % 3]})
        reqs.append({"fn": "riders"})
        reqs.append({"fn": "rider_by_id",
                     "id": rng.choice(user_ids) if i % 4 else 10**9 + i})
        reqs.append({"fn": "riders_by_gender", "gender": ["male", "female", "other"][i % 3]})
        age = rng.randint(18, 75)
        reqs.append([{"fn": "riders_by_age", "age": age},
                     {"fn": "riders_by_age", "lower": age, "upper": age + rng.randint(0, 20)},
                     {"fn": "riders_by_age"}][i % 3])
        reqs.append({"fn": "rides_by_gender", "gender": ["male", "female", "other"][i % 3]})
        reqs.append({"fn": "rides_for_rider",
                     "id": rng.choice(user_ids) if i % 4 else 10**9 + i})
        reqs.append([{"fn": "daily", "year": 2024, "month": 3, "day": rng.randint(1, 3)},
                     {"fn": "daily", "year": 2024, "month": 3},
                     {"fn": "daily"},
                     {"fn": "daily", "year": 1999}][i % 4])
    rng.shuffle(reqs)
    return reqs


ALL = {
    "corpus-cold": CorpusCold(),
    "deloton-ingest-serve": DelotonIngestServe(),
}
