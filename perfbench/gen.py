"""Seeded input generator for the benchmark workloads.

Everything a run feeds the engine comes from here: `generate(workload,
seed, seconds)` is a pure function, so the same seed always yields the
same inputs and a different seed yields different ones. Costs that would
make figures drift between seeds (how many events a run publishes, the
mix of operation kinds) are stratified: every seed gets the same multiset,
and the seed decides order, keys, topics, payloads and which events fail.

    python3 perfbench/gen.py <workload> <seed> <seconds>   # JSON to stdout
"""
import json
import math
import random
import sys

from tracestats import needed

# Each workload reports the median and one tail percentile of its op
# latencies: the highest percentile with 10 samples beyond it at the sample
# count the workload guarantees (tracestats' percentile rule). A producer
# at half saturation makes about 3 calls/s, so pubsub_delivery affords 50
# timed calls (p75); the other two run until they hold 100 ops (p90).
TAIL = {"pubsub_delivery": 0.75, "log_replay": 0.9, "query_pack": 0.9}

# pubsub_delivery ------------------------------------------------------------
PUBLISH_CALLS_PER_S = 3.0     # about half one warm producer's saturation rate (~6 calls/s)
TIMED_CALLS = 50              # at least; enough for a steady p75
WARMUP_BATCHES = [50, 200, 100, 400, 20, 300, 100, 50]   # untimed, back to back
MAX_BATCH = 1000
TOPICS = ["orders", "payments", "audit"]   # Zipf-weighted, hottest first
STREAM_TOPIC = "orders"       # the ordered streaming subscription's topic
EVENT_TYPES = ["order.created", "order.paid", "user.clicked"]
SCHEMA_TYPE = "order.created"  # the one type with a registered schema
FILTERED_TYPE = "order.created"  # the type-filtered callback subscriber
FAIL_SHARE = 0.01             # share of streamed events whose handler fails
SCHEMA = {
    "type": "object",
    "required": ["orderId", "amount", "sku"],
    "properties": {
        "orderId": {"type": "integer"},
        "amount": {"type": "number"},
        "sku": {"type": "string"},
    },
}

# log_replay -----------------------------------------------------------------
USERS = 1500                  # distinct aggregates in the staged log
ZIPF_S = 1.1
OP_BLOCK = ["get"] * 7 + ["scan"] * 2 + ["save"]   # 70/20/10 per block
LOG_TYPES = ["click", "error", "purchase", "signup", "view"]
SAVE_TYPES = ["click", "purchase", "view"]
OPS_PER_S = 7                 # timed ops per --seconds, about the seed commit's rate
WARMUP_OPS = 20               # untimed ops that precede the timed ones
FOLD_REPEATS = 7

# query_pack -----------------------------------------------------------------
# A fixed cross-section of SparkEntry.queries, so every seed prices the same
# work. Eight queries, so each runs often enough in a run for the JIT to
# settle: per-query times keep falling for about eight passes.
QUERY_PACK = [
    "q120_sketch_rollup", "q28_approx_sketches",    # ArtifactStore builds
    "q201_delivery_gate", "q202_dlq_retry_gate",    # broker and DLQ gates
    "q07_fold_state", "q22_sessionize",             # event log, sourcing fold
    "q15_topk_orders",                              # star-schema aggregate
    "q53_fingerprint_clusters",                     # dedup and text
]
WARMUP_PASSES = 4             # untimed passes between the cold and the timed ones
PASSES_PER_S = 1.3            # timed passes per --seconds, about the seed commit's rate


def _stratified_counts(weights, n):
    """Largest-remainder split of n items over weights (exact shares)."""
    total = sum(weights)
    raw = [w * n / total for w in weights]
    counts = [int(math.floor(r)) for r in raw]
    rest = sorted(range(len(weights)), key=lambda i: raw[i] - counts[i], reverse=True)
    for i in rest[: n - sum(counts)]:
        counts[i] += 1
    return counts


def _pubsub(rng, seed, seconds):
    n_calls = max(int(round(PUBLISH_CALLS_PER_S * seconds)), TIMED_CALLS)
    # log-uniform batch sizes on [1, MAX_BATCH] at fixed quantiles, dealt to
    # the topics in Zipf proportion by size rank: every seed publishes the
    # same (size, topic) multiset, in its own order
    sizes = [max(1, min(MAX_BATCH, int(round(MAX_BATCH ** ((i + 0.5) / n_calls)))))
             for i in range(n_calls)]
    deal = []
    for t, c in zip(TOPICS, _stratified_counts([1.0 / (r + 1) for r in range(len(TOPICS))], 11)):
        deal += [t] * c
    pairs = [(b, deal[i % len(deal)]) for i, b in enumerate(sizes)]
    rng.shuffle(pairs)
    plan = [(b, STREAM_TOPIC if i % 2 == 0 else TOPICS[1], True) for i, b in enumerate(WARMUP_BATCHES)]
    plan += [(b, t, False) for b, t in pairs]
    calls, streamed = [], []
    for c, (size, topic, warmup) in enumerate(plan):
        events = []
        for i in range(size):
            eid = "s%d-%05d-%04d" % (seed, c, i)
            etype = rng.choice(EVENT_TYPES)
            if etype == SCHEMA_TYPE:
                payload = {"orderId": rng.randrange(1, 10**6),
                           "amount": round(rng.uniform(1, 500), 2),
                           "sku": "SKU-%04d" % rng.randrange(10**4)}
            else:
                payload = {"user": rng.randrange(1, 10**5),
                           "page": "/p/%d" % rng.randrange(100)}
            events.append([eid, etype, json.dumps(payload, separators=(",", ":"))])
            if topic == STREAM_TOPIC:
                streamed.append(eid)
        calls.append({"at_ms": round(c * 1000.0 / PUBLISH_CALLS_PER_S, 3),
                      "topic": topic, "warmup": warmup, "events": events})
    n_fail = max(1, int(round(FAIL_SHARE * len(streamed))))
    return {
        "topics": TOPICS, "stream_topic": STREAM_TOPIC,
        "schema_type": SCHEMA_TYPE, "schema": json.dumps(SCHEMA, sort_keys=True),
        "filtered_type": FILTERED_TYPE, "calls": calls,
        "fail_ids": sorted(rng.sample(streamed, n_fail)),
    }


def _zipf_rank(rng, cdf):
    u = rng.random()
    lo, hi = 0, len(cdf) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cdf[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return lo


def _log_replay(rng, seconds):
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(USERS)]
    total, acc, cdf = sum(weights), 0.0, []
    for w in weights:
        acc += w / total
        cdf.append(acc)
    cdf[-1] = 1.0
    timed = max(needed(TAIL["log_replay"]), int(round(OPS_PER_S * seconds)))
    n_blocks = int(math.ceil((timed + WARMUP_OPS) / len(OP_BLOCK)))
    ops = []
    for _ in range(n_blocks):
        block = list(OP_BLOCK)
        rng.shuffle(block)
        for kind in block:
            rank = _zipf_rank(rng, cdf)
            if kind == "get":
                ops.append(["get", rank])
            elif kind == "scan":
                a, b = sorted(rng.random() for _ in range(2))
                types = sorted(rng.sample(LOG_TYPES, rng.randint(1, 3)))
                ops.append(["scan", rank, round(a, 6), round(b, 6), types,
                            rng.randint(5, 50)])
            else:
                ops.append(["save", rank, [[rng.choice(SAVE_TYPES), round(rng.uniform(1, 300), 2)]
                                           for _ in range(rng.randint(1, 3))]])
    return {"users": USERS, "ops": ops[:WARMUP_OPS + timed], "warmup_ops": WARMUP_OPS,
            "fold_repeats": FOLD_REPEATS}


def _query_pack(rng, seconds):
    timed = max(int(math.ceil(needed(TAIL["query_pack"]) / float(len(QUERY_PACK)))),
                int(round(PASSES_PER_S * seconds)))
    orders = []
    for _ in range(1 + WARMUP_PASSES + timed):
        order = list(range(len(QUERY_PACK)))
        rng.shuffle(order)
        orders.append(order)
    return {"queries": QUERY_PACK, "orders": orders, "warmup_passes": WARMUP_PASSES}


WORKLOADS = ("pubsub_delivery", "log_replay", "query_pack")


def generate(workload, seed, seconds):
    """The run's inputs as a JSON-ready dict (deterministic in its args)."""
    rng = random.Random("%s/%d" % (workload, seed))
    if workload == "pubsub_delivery":
        body = _pubsub(rng, seed, seconds)
    elif workload == "log_replay":
        body = _log_replay(rng, seconds)
    elif workload == "query_pack":
        body = _query_pack(rng, seconds)
    else:
        raise ValueError("unknown workload %r (known: %s)" % (workload, ", ".join(WORKLOADS)))
    return dict(workload=workload, seed=seed, seconds=seconds, **body)


if __name__ == "__main__":
    json.dump(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])), sys.stdout)
