"""Compare two stamped reports written by ``run.py --out``.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) when the two runs used different core counts or
workloads: timings from another core count are not comparable.
"""

from __future__ import annotations

import json
import sys

KEYS = ("setup_s", "explain_p50_s", "explains_per_min", "query_round_s",
        "queries_per_min", "cpu_s_per_item", "peak_rss_mb", "jvm_heap_peak_mb",
        "failed_ratio")


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (_load(p) for p in argv)
    for key in ("cpus", "workload"):
        if base.get(key) != new.get(key):
            print(f"refusing to compare: {key} {base.get(key)} vs "
                  f"{new.get(key)}", file=sys.stderr)
            return 2
    for k in KEYS:
        if k in base and k in new:
            b, n = base[k], new[k]
            ratio = f"{n / b:.3f}x" if b else "-"
            print(f"{k:20s} {b:12.4f} {n:12.4f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
