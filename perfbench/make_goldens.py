"""Regenerate ``goldens.json``: the output hash of every pool instance
and every iterative-operator query on the generated data.

    python3 perfbench/make_goldens.py

Each instance is explained three ways — serially with the JVM matcher,
through ``explain_batch`` and through ``eval.evaluate`` with the pandas
model — and each query runs twice; any disagreement aborts without
writing. Run it only when the generator (``datagen.VERSION``) or the
program's intended output changes.
"""

from __future__ import annotations

import json
import os
import sys

import datagen
import run
from run import (
    GOLDENS, QUERIES, ExplainBatch16, ExplainCostlyModel, ExplainSerial,
    explanation_hash, instance_pool, rows_hash,
)


def main() -> int:
    cpus = run.effective_cpus()
    conf = run.prepare_environment()
    from certa_spark.queries import QUERIES as REGISTRY
    from certa_spark.session import get_spark

    dirs = datagen.ensure(os.path.join(run.BENCH, "_data"))
    spark = get_spark(app_name="perfbench-goldens", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    empty = {"explain": {}, "queries": {}}
    pool = instance_pool(datagen.ER_PARTS)
    hashes: dict[str, list[str]] = {}
    for cls in (ExplainSerial, ExplainBatch16, ExplainCostlyModel):
        wl = cls(spark, dirs, 0, empty)
        wl.order = pool
        while wl.next < len(pool):
            insts = wl.take(wl.batch)
            for (_, _, key), e in zip(insts, wl.explain(insts)):
                hashes.setdefault(key, []).append(explanation_hash(e))
                print(cls.__name__, key, hashes[key][-1], len(e.triangles),
                      file=sys.stderr)
    queries = {}
    for name, _ in QUERIES:
        runs = {rows_hash(REGISTRY[name](spark, dirs["ops"]).collect())
                for _ in range(2)}
        queries[name] = runs.pop() if len(runs) == 1 else None
    run.shutdown(spark)

    bad = [k for k, v in hashes.items() if len(set(v)) != 1]
    bad += [k for k, v in queries.items() if v is None]
    if bad:
        print(f"paths or repeats disagree on: {bad}", file=sys.stderr)
        return 1
    with open(GOLDENS, "w") as f:
        json.dump({
            "data": datagen.VERSION,
            "explain": {k: v[0] for k, v in hashes.items()},
            "queries": queries,
        }, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
