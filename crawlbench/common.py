"""Constants and helpers shared by the benchmark runner, its oracles and
its tests."""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
SF_TABLES = [
    "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

# The 16 queries bench.py times, in its order. Fixed here so the
# workload does not change when bench.py does.
QUERY_SUITE = [
    "tpch_q1", "tpch_q3_like", "frontier_topk_per_host", "seen_anti_join",
    "adjacency_collect", "extract_explode", "events_hourly", "dedup_exact",
    "dedup_normalized", "token_count", "ann_cosine_topk",
    "minhash_near_dup", "simhash_dup_pairs", "srp_near_dup_prod",
    "ivf_ann_topk", "image_near_dup",
]
# the near-dup/ANN family: the queries that get per-stage numbers
NEAR_DUP_QUERIES = QUERY_SUITE[-5:]


def multiset_digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: the value multiset of
    ``tools/check_oracle.py`` (columns sorted by name, doubles rounded),
    hashed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import df_multiset

    ms = df_multiset(cols, [tuple(r) for r in rows])
    h = hashlib.sha256()
    for key in sorted(ms):
        h.update(f"{key}\x1e{ms[key]}\n".encode())
    return h.hexdigest()


def rows_digest(rows) -> str:
    """Digest of a set of row tuples, independent of their order."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(("\x1f".join(map(str, r)) + "\n").encode())
    return h.hexdigest()
