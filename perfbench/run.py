"""certa_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--goldens FILE] [--out FILE]

Run from the root of a checkout. One run = one workload in one process
on ``local[$SPARK_GRAFT_CPUS or nproc]``:

1. write the synthetic inputs once (``datagen``; not timed);
2. set up ``SETUPS`` times — session start, source load, the program's
   own set-up and a cache-filling warm-up call; ``setup_s`` is the
   median;
3. warm up, untimed: first-call code generation and JIT. Three
   explains (``explain_serial``: explains for up to 36 s), or one
   operator round;
4. closed loop for ``--seconds`` and at least ``min_ops`` operations
   (``explain_serial``: 3, ``iterative_operators``: 2): run operations
   back to back, check every output against the committed goldens;
5. print a report line (every metric by its descriptive name, with the
   run's stamp), then the result line: the last line of stdout.

``--trace 1`` installs span wrappers (``layers.py``, ``spans.py``) and
alternates traced and untraced operations, so the per-layer metrics and
the tracing overhead come from the same run. End-to-end metrics come from
``--trace 0`` runs only.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

import datagen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")
GOLDENS = os.path.join(BENCH, "goldens.json")

SETUPS = 3
NUM_TRIANGLES = 10
POOL_SEED = 7
POOL_PER_KIND = 16  # same-id and cross-id pairs each
QUERIES = (
    ("part_pagerank", "graph.pagerank"),
    ("part_louvain", "graph.louvain"),
    ("embedding_kmeans", "linalg.kmeans"),
)


# ---------------------------------------------------------------- inputs


def instance_pool(n_parts: int) -> list[tuple[int, int]]:
    """The fixed (left id, right id) pairs the goldens cover: same-id
    pairs (explained as matches) alternating with cross-id pairs
    (explained as non-matches)."""
    rng = random.Random(POOL_SEED)
    ids = rng.sample(range(n_parts), 3 * POOL_PER_KIND)
    same = ids[:POOL_PER_KIND]
    cross = list(zip(ids[POOL_PER_KIND::2], ids[POOL_PER_KIND + 1 :: 2]))
    pool = []
    for i, (a, b) in zip(same, cross):
        pool += [(i, i), (a, b)]
    return pool


def instance_order(seed: int, pool: list) -> list[tuple[int, int]]:
    """The seed's closed-loop order over the pool: the pool shuffled,
    still alternating same-id and cross-id pairs."""
    rng = random.Random(seed)
    same, cross = pool[0::2], pool[1::2]
    rng.shuffle(same)
    rng.shuffle(cross)
    return [p for pair in zip(same, cross) for p in pair]


def explanation_hash(e) -> str:
    """Saliency and PSS rounded to 1e-9, sorted triangles and the
    counterfactual count."""
    sal = sorted((k, round(float(v), 9)) for k, v in e.saliency_dict.items())
    pss = sorted((str(k), round(float(v), 9)) for k, v in e.pss.items())
    tri = sorted([str(x) for x in t] for t in e.triangles)
    blob = json.dumps([sal, pss, tri, len(e.counterfactuals)])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def rows_hash(rows) -> str:
    norm = sorted(
        json.dumps([round(v, 9) if isinstance(v, float) else v for v in r],
                   default=str)
        for r in rows
    )
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]


# ------------------------------------------------------------- workloads


class Workload:
    goldens: dict
    min_ops = 1  # timed operations, even if they outlast --seconds

    def check(self, key: str, digest: str) -> bool:
        return self.goldens.get(key) == digest

    def counters(self) -> dict:
        """Cumulative counters the op loop reports per-op deltas of."""
        return {}


class ExplainWorkload(Workload):
    """Shared set-up of the three explain workloads: the ER sources, a
    ``CertaExplainer`` over them, and the seed's instance order."""

    unit = "explanation"
    batch = 1
    warm_up_s = 0.0

    def __init__(self, spark, dirs, seed, goldens):
        from certa_spark import CertaExplainer
        from certa_spark.queries import _er_sources

        self.spark = spark
        self.goldens = goldens["explain"]
        left, right = _er_sources(spark, dirs["er"])
        self.explainer = CertaExplainer(spark, left, right, data_augmentation="no")
        # cache-filling warm-up call: materialize both cached sources
        self.explainer.lsource.count()
        self.explainer.rsource.count()
        self.matcher = self.make_matcher(spark)
        self.order = instance_order(seed, instance_pool(datagen.ER_PARTS))
        self.records = self._records(left, right)
        self.next = 0

    def make_matcher(self, spark):
        from certa_spark import NativeCosineMatcher

        return NativeCosineMatcher()

    def _records(self, left, right) -> dict:
        from pyspark.sql import functions as F

        ids = sorted({i for pair in self.order for i in pair})
        recs = {}
        for side, df in (("l", left), ("r", right)):
            for row in df.filter(F.col("id").isin(ids)).collect():
                recs[side, row["id"]] = row.asDict()
        return recs

    def take(self, n: int) -> list[tuple[dict, dict, str]]:
        out = []
        for _ in range(n):
            lid, rid = self.order[self.next % len(self.order)]
            self.next += 1
            out.append((self.records["l", lid], self.records["r", rid],
                        f"{lid}-{rid}"))
        return out

    def warm_up(self) -> list[float]:
        """Untimed calls; returns their durations. At least three
        instances, so both predicted classes (they plan different flip
        conditions); then more calls while the next one, as long as the
        last, would end within ``warm_up_s``."""
        t0 = time.perf_counter()
        lat: list[float] = []
        while (len(lat) * self.batch < 3
               or time.perf_counter() - t0 + lat[-1] < self.warm_up_s):
            t1 = time.perf_counter()
            self.explain(self.take(self.batch))
            lat.append(time.perf_counter() - t1)
        self.next = 0
        return lat

    def run_op(self):
        """One operation: returns (per-unit latencies, per-unit
        (key, hash) results)."""
        insts = self.take(self.batch)
        t0 = time.perf_counter()
        results = self.explain(insts)
        dt = time.perf_counter() - t0
        return self.latencies(dt, results), [
            (key, explanation_hash(e)) for (_, _, key), e in zip(insts, results)
        ]

    def latencies(self, op_s, results):
        return [op_s]


class ExplainSerial(ExplainWorkload):
    # The JIT keeps compiling through about the first 40-50 s of
    # explains, and latency falls by up to a third over that time. How
    # soon it levels off differs from run to run, so the timed explains
    # of different runs agree only once the warm-up has outlasted it.
    warm_up_s = 36.0
    # a median of three, so one explain slowed by the host does not set it
    min_ops = 3

    def explain(self, insts):
        return [
            self.explainer.explain(l, r, self.matcher, num_triangles=NUM_TRIANGLES)
            for l, r, _ in insts
        ]


class ExplainBatch16(ExplainWorkload):
    unit = "call"
    batch = 16

    def explain(self, insts):
        return self.explainer.explain_batch(
            [(l, r) for l, r, _ in insts], self.matcher,
            num_triangles=NUM_TRIANGLES,
        )


class _Recording:
    """Explainer proxy for ``eval.evaluate``: keeps each Explanation,
    which ``evaluate`` itself reduces to saliency + latency."""

    def __init__(self, explainer):
        self.explainer = explainer
        self.results: dict[tuple, object] = {}
        self._lock = threading.Lock()

    def explain(self, l, r, *args, **kwargs):
        e = self.explainer.explain(l, r, *args, **kwargs)
        with self._lock:
            self.results[l["id"], r["id"]] = e
        return e


class ExplainCostlyModel(ExplainWorkload):
    batch = 4  # instances per evaluate() call, one client each

    def make_matcher(self, spark):
        from certa_spark import PandasPredictAdapter
        from costly_model import CountingModel

        sc = spark.sparkContext
        self.rows_scored = sc.accumulator(0)
        self.model_s = sc.accumulator(0.0)
        return PandasPredictAdapter(CountingModel(self.rows_scored, self.model_s))

    def explain(self, insts):
        from certa_spark.eval import evaluate

        proxy = _Recording(self.explainer)
        frame = evaluate(
            self.spark, proxy, [(l, r) for l, r, _ in insts], self.matcher,
            num_triangles=NUM_TRIANGLES, parallelism=len(insts),
        )
        self._lat = frame.sort_values("instance")["latency"].tolist()
        return [proxy.results[l["id"], r["id"]] for l, r, _ in insts]

    def latencies(self, op_s, results):
        return self._lat

    def counters(self) -> dict:
        return {"rows": self.rows_scored.value, "model_s": self.model_s.value}


class IterativeOperators(Workload):
    """One round = part_pagerank, part_louvain and embedding_kmeans from
    the query registry, each fully materialized."""

    unit = "round"
    batch = 3  # query runs per round
    # Rounds take 10-15 s and the second timed one is still about 12 %
    # faster than the first, so a run of one round and a run of two
    # differ by more than the runs themselves do.
    min_ops = 2

    def __init__(self, spark, dirs, seed, goldens):
        self.spark = spark
        self.dir = dirs["ops"]
        self.goldens = goldens["queries"]
        self.tracer = None
        self.query_s: dict[str, list[float]] = {}  # warm-up included
        # cache-filling warm-up call: read every input once
        for name in ("lineitem", "embeddings"):
            spark.read.parquet(f"{self.dir}/{name}.parquet").count()

    def warm_up(self) -> list[float]:
        return self.run_op()[0]

    def run_op(self):
        from certa_spark.queries import QUERIES as REGISTRY

        results = []
        t0 = time.perf_counter()
        for name, layer in QUERIES:
            q0 = time.perf_counter()
            with self.tracer.span(layer) if self.tracer else nullcontext():
                rows = REGISTRY[name](self.spark, self.dir).collect()
            self.query_s.setdefault(name, []).append(time.perf_counter() - q0)
            results.append((name, rows_hash(rows)))
        return [time.perf_counter() - t0], results


WORKLOADS = {
    "explain_serial": ExplainSerial,
    "explain_batch16": ExplainBatch16,
    "explain_costly_model": ExplainCostlyModel,
    "iterative_operators": IterativeOperators,
}


# ------------------------------------------------------------ the process


def effective_cpus() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    return int(raw) if raw else len(os.sched_getaffinity(0))


def code_stamp() -> dict:
    """Git commit when the checkout is a repository, and always a hash
    of the program's sources (an exported checkout is not a repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "certa_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def _tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def prepare_environment() -> dict[str, str]:
    """Keep every file Spark writes inside the checkout, let Python
    workers import the program and this directory, and return the
    session conf the benchmark adds to ``get_spark``'s defaults."""
    local, tmp = os.path.join(WORK, "local"), os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    sys.path[:0] = [ROOT, BENCH]
    return {
        "spark.ui.showConsoleProgress": "false",
        # a heap that grows up to 2 GB in place of the program's 8 GB:
        # keeps a run small on a shared host
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep every job of a run in the status store for job accounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    pids = [p for p in _tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 60
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def jvm_heap_mb(spark) -> dict:
    """Peak used and currently committed heap of the driver JVM, summed
    over its heap memory pools (MB)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = committed = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            peak += pool.getPeakUsage().getUsed()
            committed += pool.getUsage().getCommitted()
    return {"jvm_heap_peak_mb": peak / 2**20,
            "jvm_heap_committed_mb": committed / 2**20}


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    s = sorted(samples)
    k = n - 11  # index with exactly ten samples above it
    return {"value": s[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


# ------------------------------------------------------------------ main


def measure(args) -> tuple[dict, dict]:
    cpus = effective_cpus()
    conf = prepare_environment()
    from certa_spark.session import get_spark

    with open(args.goldens) as f:
        goldens = json.load(f)
    if goldens.get("data") != datagen.VERSION:
        raise SystemExit(f"goldens are for data {goldens.get('data')}, "
                         f"generator is {datagen.VERSION}")
    dirs = datagen.ensure(os.path.join(BENCH, "_data"))
    rss = RssSampler()
    rss.start()

    setups, spark, wl = [], None, None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=conf)
        wl = WORKLOADS[args.workload](spark, dirs, args.seed, goldens)
        setups.append(time.perf_counter() - t0)

    tracer = None
    if args.trace:
        from layers import install

        tracer = install(spark, wl)
    w0 = time.time()
    warm_up_lat = wl.warm_up()
    warm_up = (w0, time.time())

    ops: list[dict] = []
    steal0 = host_steal()
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < args.seconds
           or len(ops) < wl.min_ops):
        if tracer is not None:
            # traced, then untraced and traced in pairs (T U U T T ...):
            # both sides see same-id and cross-id instances, a run of
            # one op is traced, and a run of two ops has one of each
            tracer.enabled = (len(ops) + 1) // 2 % 2 == 0
        op = {"traced": bool(tracer and tracer.enabled), "t0": time.time()}
        before = wl.counters()
        tree = _tree(os.getpid())
        cpu0 = tree_cpu_s(tree)
        try:
            op["lat"], results = wl.run_op()
            op["units"] = len(results)
            op["bad"] = [k for k, d in results if not wl.check(k, d)]
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            print(f"operation failed: {e!r}", file=sys.stderr)
            op.update(lat=[], units=wl.batch, bad=[f"error: {e!r}"[:200]])
            op["bad"] *= wl.batch
        op["t1"] = time.time()
        op["cpu_s"] = tree_cpu_s(tree) - cpu0
        op["counters"] = {k: v - before[k] for k, v in wl.counters().items()}
        ops.append(op)
    timed_s = time.perf_counter() - t_start
    steal1 = host_steal()
    if tracer is not None:
        tracer.enabled = False

    attempted = sum(o["units"] for o in ops)
    failed = sum(len(o["bad"]) for o in ops)
    untraced = [o for o in ops if not o["traced"]]
    lat = [x for o in untraced for x in o["lat"]]
    items = sum(o["units"] for o in untraced)
    good = items - sum(len(o["bad"]) for o in untraced)
    untraced_s = sum(o["t1"] - o["t0"] for o in untraced)
    p50 = statistics.median(lat) if lat else None
    # a traced run may have no untraced op
    per_min = 60.0 * good / untraced_s if untraced else None
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)), **code_stamp(),
        "unit": wl.unit, "ops": len(ops), "attempted": attempted,
        "failed": failed, "failed_ratio": failed / attempted,
        "failures": sorted({k for o in ops for k in o["bad"]}),
        "setup_s": statistics.median(setups), "setup_samples_s": setups,
        "warm_up_s": warm_up[1] - warm_up[0],
        "warm_up_latencies_s": warm_up_lat, "timed_s": timed_s,
        "latencies_s": lat,
        "cpu_s_per_item":
            sum(o["cpu_s"] for o in untraced) / items if items else None,
        "host_steal_pct": 100.0 * (steal1[0] - steal0[0])
        / max(steal1[1] - steal0[1], 1),
    }
    if args.workload == "iterative_operators":
        report.update(query_round_s=p50, queries_per_min=per_min,
                      query_s=wl.query_s)
    else:
        report.update(explain_p50_s=p50, explain_tail_s=tail(lat),
                      explains_per_min=per_min)
    report.update(jvm_heap_mb(spark))
    correct = failed == 0
    if tracer is not None:
        from layers import per_layer

        report["per_layer"], report["job_accounting"] = per_layer(
            spark, tracer, ops, warm_up
        )
        # a job the accounting cannot place makes the traced run wrong
        correct = correct and report["job_accounting"]["balanced"]
    shutdown(spark)
    rss.stop()
    report["peak_rss_mb"] = rss.peak / 2**20

    if args.trace:
        from layers import REPORT_ONLY

        metrics = {k: v for k, v in report["per_layer"].items()
                   if k not in REPORT_ONLY}
    else:
        metrics = {
            "setup_s": (report["setup_s"], "s"),
            "latency_p50_s": (p50, "s"),
            "throughput_per_min": (per_min, "1/min"),
            "cpu_s_per_item": (report["cpu_s_per_item"], "s"),
            "peak_rss_mb": (report["peak_rss_mb"], "MB"),
        }
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--goldens", default=GOLDENS)
    ap.add_argument("--out", help="also write the stamped report here")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "certa_spark")):
        print(f"no certa_spark package next to {BENCH}", file=sys.stderr)
        return 2
    report, result = measure(args)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
