"""Deterministic synthetic inputs for the benchmark.

The tables follow the shape of the TPC-H-style test data the registry
queries were written against (``part``, ``lineitem``, ``embeddings``),
but are generated here from a fixed seed so a run needs nothing outside
its own checkout. Two corpora:

* ``er``  — 20 000 parts, with the sf0.1 part table's row count, name
  vocabulary (an adjective and a noun, 8 of each) and 6 types: the
  explain sources (``queries._er_sources`` reads ``part``);
* ``ops`` — 15 000 orders / ~61 000 line items over 2 000 parts and
  500 embeddings (sf0.01 sizes): the inputs of the iterative operators.

Files are written once under ``<dir>/<VERSION>/`` and reused; bump
``VERSION`` whenever the generator changes, so stale files are never
read (the goldens are keyed to it).

    python3 perfbench/datagen.py --stats [PART.parquet]

prints the name and type statistics the explain workloads depend on,
for the generated parts or for a given ``part`` table, so the two can
be compared.
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v1"
SEED = 42

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

ER_PARTS = 20_000
OPS_PARTS = 2_000
OPS_ORDERS = 15_000
OPS_VECTORS = 500
EMB_DIM = 64  # queries._EMB_DIM
N_LABELS = 10


def _parts(rng: np.random.Generator, n: int) -> pa.Table:
    adj = rng.integers(0, len(ADJ), n)
    noun = rng.integers(0, len(NOUN), n)
    typ = rng.integers(0, len(TYPES), n)
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_type": [TYPES[t] for t in typ],
    })


def _lineitem(rng: np.random.Generator, orders: int, parts: int) -> pa.Table:
    # 1..17 lines per order, mean ~4 (the TPC-H-style order-size shape)
    sizes = 1 + np.minimum(rng.poisson(3.07, orders), 16)
    okeys = np.repeat(np.arange(orders), sizes)
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, len(okeys)), pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n)
    centres = rng.normal(0.0, 0.6, (N_LABELS, EMB_DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure(base: str) -> dict[str, str]:
    """Write the corpora under ``base`` unless present; return the
    directory of each corpus (``{"er": ..., "ops": ...}``)."""
    root = os.path.join(base, VERSION)
    dirs = {"er": os.path.join(root, "er"), "ops": os.path.join(root, "ops")}
    if os.path.exists(os.path.join(root, "DONE")):
        return dirs
    rng = np.random.default_rng(SEED)
    tables = {
        ("er", "part"): _parts(rng, ER_PARTS),
        ("ops", "lineitem"): _lineitem(rng, OPS_ORDERS, OPS_PARTS),
        ("ops", "embeddings"): _embeddings(rng, OPS_VECTORS),
    }
    for (corpus, name), table in tables.items():
        os.makedirs(dirs[corpus], exist_ok=True)
        path = os.path.join(dirs[corpus], f"{name}.parquet")
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    with open(os.path.join(root, "DONE"), "w"):
        pass
    return dirs


def part_stats(table: pa.Table) -> dict:
    """Vocabulary and posting lengths of ``p_name``, and ``p_type``."""
    names = table.column("p_name").to_pylist()
    types = table.column("p_type").to_pylist()
    toks = [n.lower().split() for n in names]
    postings = sorted(Counter(w for t in toks for w in set(t)).values())
    dups = Counter(names).values()
    return {
        "rows": len(names),
        "distinct_names": len(set(names)),
        "tokens_per_name": sorted(Counter(len(t) for t in toks).items()),
        "vocabulary": len(postings),
        "posting_len_min_median_max":
            (postings[0], statistics.median(postings), postings[-1]),
        "copies_per_name_min_max": (min(dups), max(dups)),
        "distinct_types": len(set(types)),
        "distinct_right_names": len({" ".join(t[:-1]) for t in toks}),
        "distinct_name_type": len(set(zip(names, types))),
    }


if __name__ == "__main__":
    if sys.argv[1:2] != ["--stats"]:
        sys.exit(__doc__)
    if len(sys.argv) > 2:
        part = pq.read_table(sys.argv[2], columns=["p_name", "p_type"])
    else:
        part = _parts(np.random.default_rng(SEED), ER_PARTS)
    for key, value in part_stats(part).items():
        print(f"{key:28s} {value}")
