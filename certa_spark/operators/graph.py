"""Connected components — cluster assignment from near-dup pairs.

Pair-finding (MinHash LSH, SimHash, embedding cosine — see
``operators/dedup.py`` / ``operators/similarity.py``) yields EDGES; a
dedup pipeline needs per-document CLUSTER IDS so it can keep one
canonical doc per cluster. That closure step is iterative min-label
propagation: every node repeatedly adopts the smallest label among
itself and its neighbors until a fixpoint — the classic distributed
connected-components scheme (each round is one hash-join + min
aggregate, so rounds = cluster diameter, which for near-dup clusters
is tiny).

Scale notes (the loop is driver-coordinated but the data never leaves
the cluster):
  * each round shuffles only (node, label) pairs — two longs — not the
    documents themselves;
  * ``repartition(n).localCheckpoint()`` per round truncates lineage,
    keeping round k's plan O(1) instead of O(k) (Catalyst re-analysis
    of an iteratively grown plan otherwise dominates wall-clock);
  * the convergence check is a count of changed labels — one cheap
    action per round, with a ``max_iter`` guard for pathological
    chains; for deep/chained graphs, ``shortcut=True`` adds pointer
    jumping (O(log diameter) rounds — the practical effect of
    large-star/small-star). Near-dup clusters in practice have
    single-digit diameter, so plain propagation stays the default.

Reference parity note: tteofili/certa has no graph operators — this is
training-data-pipeline extension surface, built green-field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from certa_spark.io import local_frame
from certa_spark.operators.observe import checkpoint_observed


def _default_partitions(df: DataFrame, partitions: int | None) -> int:
    """Shuffle width for the iterative loops: caller-pinned, else the
    cluster's ``defaultParallelism`` (a hardcoded small constant would
    serialize the shuffle on a 1000-executor cluster)."""
    if partitions is not None:
        return partitions
    return df.sparkSession.sparkContext.defaultParallelism


def _integral_type(dt) -> bool:
    from pyspark.sql import types as T

    return isinstance(dt, T.IntegralType)


def _cc_local_min_labels(pdf):
    """Driver-local connected components over a collected (a, b) edge
    list — EXACT same fixpoint as the distributed loop (every node's
    label = the minimum node id reachable from it), computed with
    numpy hook + pointer-jumping rounds. Labels live in index space of
    the sorted unique-id array, so index order == id order and the
    index-space minimum IS the id-space minimum. Returns
    ``(ids, clusters)`` numpy arrays aligned per node."""
    import numpy as np

    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[ai], lab[bi])
        np.minimum.at(lab, ai, m)
        np.minimum.at(lab, bi, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, before):
            break
    return ids, ids[lab]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    partitions: int | None = None,
    shortcut: bool = False,
    local_finish_edges: int = 0,
) -> DataFrame:
    """Cluster nodes of an undirected graph: returns ``(node, cluster)``
    where ``cluster`` is the minimum node id reachable from ``node``.
    Nodes appearing only as edge endpoints are included; isolated nodes
    (no edges) are not — union them in as self-clusters if needed.

    ``shortcut=True`` adds pointer jumping after each propagation
    round: every node also adopts the label OF its label (one extra
    node-keyed join + checkpoint per round). Labels then spread along
    paths of doubling length, so convergence takes O(log diameter)
    rounds instead of O(diameter) — the practical effect of the
    large-star/small-star scheme without its re-edging machinery. Same
    fixpoint (the min reachable id) either way. Default off: shallow
    near-dup clusters (single-digit diameter) converge in 2-3 rounds
    anyway and the extra per-round materialization would cost more
    than it saves; turn it on for chained/deep graphs (MDM entity
    closures, long dup chains).

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`louvain` precedent): when the materialized symmetrized
    edge list holds at most ``2 * local_finish_edges`` rows AND node
    ids are integral, the closure runs driver-side as a numpy
    hook/pointer-jump loop (:func:`_cc_local_min_labels`) — same
    unique fixpoint, one collect of two-long rows instead of
    O(diameter) shuffle rounds. Oversized graphs always stay on the
    distributed loop, so the budget bounds driver memory, not
    correctness; equivalence is pinned by
    ``tests/test_graph.py::test_cc_local_matches_distributed``."""
    partitions = _default_partitions(edges, partitions)
    # no distinct() on the symmetrized edges: the min-aggregate below is
    # duplicate-insensitive and the dedup shuffle costs more than the
    # duplicates do
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(partitions, "b")
        .localCheckpoint()
    )
    if local_finish_edges > 0 and _integral_type(sym.schema["a"].dataType):
        # ONE job answers both local-finish preconditions — the size
        # budget AND null presence (r8 ADVICE low #2: the null check
        # used to run on the already-collected frame, i.e. after the
        # collect it was supposed to gate). count(col) skips nulls, so
        # na < n means null endpoints exist. Null endpoints act as
        # join-through hubs in the distributed label algebra (F.min
        # skips nulls, so a null node adopts and relays the min label
        # of every component touching it) — a semantics the
        # integer-only numpy path cannot reproduce. Decline and fall
        # through rather than diverge or crash.
        st = sym.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("a").alias("na"),
            F.count("b").alias("nb"),
        ).first()
        if (
            st["n"] <= 2 * local_finish_edges
            and st["na"] == st["n"]
            and st["nb"] == st["n"]
        ):
            import pandas as pd

            pdf = sym.toPandas()
            node_t = sym.schema["a"].dataType.simpleString()
            ids, clusters = _cc_local_min_labels(pdf)
            spark = edges.sparkSession
            # hand the result back as a pandas frame: the Arrow batch
            # path, NOT a Python tuple list (pickling O(V) tuples
            # through py4j measured 6x slower on a 400k-node closure)
            return spark.createDataFrame(
                pd.DataFrame({"node": ids, "cluster": clusters}),
                schema=f"node {node_t}, cluster {node_t}",
            )

    # initial labels stay LAZY: round 1's shuffle computes them in the
    # same job, saving one materialization; from round 1 on, `labels`
    # is always a checkpointed leaf
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
    )

    null_long = F.lit(None).cast(labels.schema["cluster"].dataType)
    changed = -1  # sentinel: max_iter <= 0 must reach the raise below
    for _ in range(max_iter):
        neighbor_labels = sym.join(
            labels, sym.b == labels.node, "inner"
        ).select(F.col("a").alias("node"), "cluster", null_long.alias("old"))
        # carry each node's previous label through the same aggregate
        # (exactly one labels-side row per node => max(old) = old label),
        # so convergence detection needs no extra join: it's a
        # shuffle-free filter+count over the checkpointed result
        merged = labels.select(
            "node", "cluster", F.col("cluster").alias("old")
        ).unionByName(neighbor_labels)
        # no repartition after the agg: groupBy already leaves the frame
        # hash-partitioned by node, and an extra exchange per round
        # doubles the shuffle count
        new_labels = (
            merged.groupBy("node")
            .agg(F.min("cluster").alias("cluster"), F.max("old").alias("old"))
            .localCheckpoint()
        )
        if shortcut:
            # pointer jumping: cluster <- label(cluster). The label id
            # is itself a node, so this is one node-keyed self-join on
            # the checkpointed (node, cluster) frame (checkpoint first —
            # Catalyst would otherwise recompute the aggregate for both
            # join sides). Label chains halve per round.
            lut = new_labels.select(
                F.col("node").alias("cluster"), F.col("cluster").alias("_c2")
            )
            new_labels = (
                new_labels.join(lut, "cluster", "left")
                .select(
                    "node",
                    F.coalesce("_c2", F.col("cluster")).alias("cluster"),
                    "old",
                )
                .localCheckpoint()
            )
        changed = new_labels.filter(F.col("cluster") != F.col("old")).count()
        labels = new_labels.select("node", "cluster")
        if changed == 0:
            return labels
    # same failure class the round-3 ADVICE flagged for kcore: label
    # propagation that exhausts max_iter has NOT reached the fixpoint,
    # and silently returning partial labels hands the caller wrong
    # clusters (deep chains exceed the default in diameter rounds).
    # Fail loudly; deep graphs should raise max_iter or use
    # shortcut=True / connected_components_lsss (O(log n) rounds).
    raise RuntimeError(
        f"connected_components: no fixpoint within max_iter={max_iter} "
        f"rounds ({changed} labels still changing); raise max_iter, or "
        "use shortcut=True / connected_components_lsss for deep graphs"
    )


def connected_components_lsss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    partitions: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    edge rewrites (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the O(log n)-round scheme. Same output
    contract as :func:`connected_components`: ``(node, cluster)`` with
    ``cluster`` = min reachable node id (property-tested equal).

    Why a second algorithm: plain min-label propagation's round count
    is bound by the component DIAMETER — a 10^6-node chain (long dup
    chains, MDM entity closures) needs 10^6 rounds. LS/SS rewrites the
    edge set itself toward stars, so label information hops along
    doubling-length paths and a chain collapses in O(log n) rounds.
    Per round the cost is higher — each star phase is one groupBy(min)
    + one edge-sized join-back + one distinct (vs propagation's single
    join + agg) — so propagation stays the DEFAULT for the shallow
    single-digit-diameter clusters near-dup graphs produce (measured
    faster there, queries.py `er_golden_record` note); reach for LS/SS
    when diameter is unknown or large.

    Scale shape: every phase shuffles only (u, v) long pairs; min
    aggregates are map-side combinable; no collect_set, so a mega-hub
    node never materializes its neighborhood in one row. Convergence
    is a (count, hash-sum) signature comparison — one tiny action per
    round on the shrinking edge set.
    """
    partitions = _default_partitions(edges, partitions)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(partitions, "u")
        .localCheckpoint()
    )
    # isolated self-edges are filtered; callers wanting them use
    # assign_clusters, which coalesces unmatched nodes to themselves
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iter):
        # large-star: every node u links its LARGER neighbors to the
        # min of its closed neighborhood. Smaller neighbors are u's own
        # parents-to-be — they re-appear in the symmetric pass keyed by
        # themselves, so dropping them here loses nothing.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mn = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        e = (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # small-star: orient every edge large->small, then point each
        # node's smaller neighbors (and itself) at the neighborhood min
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mn = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mn, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mn.select("u", F.col("m").alias("v")))
            .distinct()
            .repartition(partitions, "u")
            .localCheckpoint()
        )
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # DECIMAL sum: 2^63-magnitude hash values would overflow a
            # long sum under ANSI mode; decimal(38,0) is exact and
            # order-independent
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            # fixpoint: the edge set is a union of stars (child, root)
            roots = (
                e.select(F.col("v").alias("node"))
                .distinct()
                .select("node", F.col("node").alias("cluster"))
            )
            return e.select(
                F.col("u").alias("node"), F.col("v").alias("cluster")
            ).unionByName(roots)
        prev_sig = sig
    raise RuntimeError(
        f"connected_components_lsss: no fixpoint within max_iter="
        f"{max_iter} rounds; raise max_iter"
    )


def assign_clusters(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    shortcut: bool = False,
    algorithm: str = "propagate",
    local_finish_edges: int = 0,
) -> DataFrame:
    """Per-node cluster ids over a full node set: nodes touched by an
    edge get their component's min id, isolated nodes cluster with
    themselves. Returns ``(node_col, cluster)``.

    ``algorithm='lsss'`` swaps min-label propagation for the
    large-star/small-star edge-rewrite scheme (same labels, O(log n)
    rounds on deep graphs — see :func:`connected_components_lsss`).
    ``local_finish_edges`` passes through to
    :func:`connected_components` (ignored under lsss)."""
    if algorithm == "lsss":
        cc = connected_components_lsss(
            edges, src=src, dst=dst, max_iter=max_iter
        )
    else:
        cc = connected_components(
            edges, src=src, dst=dst, max_iter=max_iter, shortcut=shortcut,
            local_finish_edges=local_finish_edges,
        )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce("cluster", F.col("node")).alias("cluster"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    key: str,
    item: str,
    chunk: int = 64,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct unordered item pairs co-occurring under a key (the
    co-purchase edge build): returns ``(pa, pb)`` with ``pa < pb``.

    One shuffle (groupBy key) + map-side higher-order-function pair
    generation for ordinary keys. A pathological mega-key (an order
    holding thousands of items) would make the single-row pair array
    quadratic in that key's item count, so keys above ``chunk`` items
    take a pre-split path: the sorted item set is sliced into
    ``chunk``-sized blocks, intra-block pairs come from the same HOF,
    and cross-block pairs from a block×block self-join — every output
    row is bounded by ``chunk²`` pairs, and one hot key fans out over
    ``m(m+1)/2`` rows instead of concentrating in one. The split path
    touches only the (rare) oversized keys, so the common case pays
    nothing beyond one filter.

    Slicing a SORTED item array keeps ``pa < pb`` canonical on the
    cross-block path (every element of block i precedes every element
    of block j>i), so both paths emit the identical pair set.
    """

    def hof_pairs(arr):
        return F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.size(arr)),
                    lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                ),
            )
        )

    g = df.groupBy(F.col(key).alias("_k")).agg(
        F.array_sort(F.collect_set(item)).alias("_items")
    )
    small = (
        g.filter(F.size("_items") <= chunk)
        .select(F.explode(hof_pairs(F.col("_items"))).alias("e"))
        .select("e.pa", "e.pb")
    )
    blocks = (
        g.filter(F.size("_items") > chunk)
        .select(
            "_k",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("_items") / F.lit(chunk)).cast("int")
                        - 1,
                    ),
                    lambda b: F.slice(
                        F.col("_items"), b * chunk + 1, chunk
                    ),
                )
            ).alias("_ci", "_blk"),
        )
    )
    intra = blocks.select(F.explode(hof_pairs(F.col("_blk"))).alias("e")).select(
        "e.pa", "e.pb"
    )
    left = blocks.select("_k", F.col("_ci").alias("_i"), F.col("_blk").alias("_ba"))
    right = blocks.select("_k", F.col("_ci").alias("_j"), F.col("_blk").alias("_bb"))
    cross = (
        left.join(right, ["_k"])
        .filter(F.col("_i") < F.col("_j"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ba"),
                        lambda x: F.transform(
                            F.col("_bb"),
                            lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                        ),
                    )
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
    )
    out = small.unionByName(intra).unionByName(cross)
    # distinct_pairs=False keeps one row per (key, pair) occurrence —
    # the stream a co-occurrence COUNT (e.g. PMI) aggregates; the
    # default dedups globally for edge-set consumers (pagerank, CC)
    return out.distinct() if distinct_pairs else out


# A rounded contribution is an exact multiple of 1e-12, so PageRank sums
# contributions as long counts of that unit: exact in any aggregation
# order, and far cheaper than a per-edge DECIMAL(38,18) sum.
_UNITS = 1e12


def _units(x: Column) -> Column:
    """A non-negative double already rounded to 12 places, as its exact
    count of 1e-12 units (``x * 1e12`` lies within 2^-12 of it)."""
    return F.floor(x * F.lit(_UNITS) + F.lit(0.5))


def symmetrized(pairs: DataFrame) -> DataFrame:
    """Both directions ``(s, t)`` of every :func:`cooccurrence_pairs`
    pair ``(pa, pb)``, in one pass over ``pairs`` (a union of two
    projections runs the pair build twice)."""
    both = F.array(
        F.struct(F.col("pa").alias("s"), F.col("pb").alias("t")),
        F.struct(F.col("pb").alias("s"), F.col("pa").alias("t")),
    )
    return pairs.select(F.explode(both).alias("e")).select("e.s", "e.t")


def _pagerank(
    ed: DataFrame,
    damping: float,
    iterations: int,
    partitions: int | None,
    symmetric: bool = False,
    dangling: bool = False,
    seeds: list[int] | None = None,
    degree: str | None = None,
) -> DataFrame:
    """The loop of every PageRank variant, over ``ed = (s, t)`` plus an
    optional weight ``_w`` or the out-degree ``_deg`` a caller's column
    ``degree`` holds:

        r'(v) = round(teleport(v) + d * (sum_in c + lost/N), 12)
        c = round(r(u) * w / sum_out w, 12)   (w = 1 without weights)

    * The edges are checkpointed once. One ``groupBy(s)`` gives the
      out-degrees (weight sums); on a symmetric graph that is also the
      node list, otherwise it is full-joined once with the targets to
      flag nodes without in-edges and sinks. The node counts ride that
      checkpoint's job (``checkpoint_observed``).
    * With uniform weights a contribution depends only on its source,
      so it is computed on the node side; each edge is left with a join
      and a long sum. Below ~4M nodes the node side is broadcast and the
      |E|-row edges never re-shuffle. The new ranks take their
      out-degrees back from the node table. On a symmetric graph the
      first of those joins is an outer one: a target missing from the
      table is a sink the node count left out, and raises.
    * Contributions are summed as exact :data:`_UNITS` and converted
      once per node: bit-identical to the SQL oracle's
      ``CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE)``. The long sum
      is exact below 2^53 units (an inflow is at most the total mass,
      ~1e12 units), and ``Decimal.toDouble`` and the IEEE division both
      round correctly.
    * ``dangling``: ``lost`` is the (DECIMAL-summed, node-side) rank on
      sinks, spread uniformly. The ranks are then read twice per
      iteration, so each is checkpointed; otherwise every second one is,
      to bound plan growth. ``seeds``: teleport and initial mass sit on
      the seed set.
    """
    partitions = _default_partitions(ed, partitions)
    weighted = "_w" in ed.columns
    counts = {"n": F.count(F.lit(1))}
    if degree is None:
        ed = ed.repartition(partitions, "s").localCheckpoint()
        out = [F.sum("_w") if weighted else F.count(F.lit(1)).cast("double")]
    else:
        # the caller's degree column is checked on the node table's own
        # job: each source names one positive integer, its edge count
        out = [F.max("_deg"), F.min("_deg").alias("_lo"),
               F.count("_deg").alias("_nd"), F.count(F.lit(1)).alias("_k")]
        hi, lo, k = F.col("_out"), F.col("_lo"), F.col("_k")
        counts["bad"] = F.min(F.when(
            (F.col("_nd") < k) | (lo < 1) | (hi != F.floor(hi)), F.col("node")))
        counts["stale"] = F.min(F.when((lo != hi) | (hi != k), F.col("node")))
    nodes = ed.groupBy(F.col("s").alias("node")).agg(out[0].alias("_out"), *out[1:])
    ed = ed.drop("_deg")
    if not symmetric:
        heads = ed.select(F.col("t").alias("node"), F.lit(True).alias("_in"))
        nodes = nodes.join(heads.distinct(), "node", "full")
        counts["no_in"] = F.count(F.when(F.col("_in").isNull(), 1))
    nodes, seen = checkpoint_observed(nodes, **counts)
    if seen.get("bad") is not None:
        raise ValueError(
            f"pagerank_personalized: degree column {degree!r} violates its "
            "contract (must be a positive integer per edge row): source "
            f"{seen['bad']!r}")
    if seen.get("stale") is not None:
        raise ValueError(
            f"pagerank_personalized: degree column {degree!r} is inconsistent "
            f"with the edge set at source {seen['stale']!r} (was it computed "
            "before a filter, or per distinct target?)")
    hint = F.broadcast if seen["n"] <= 4_000_000 else (lambda df: df)
    inv_n = 1.0 / float(seen["n"])
    if seeds is None:
        teleport, r0 = F.lit((1.0 - damping) * inv_n), F.lit(inv_n)
    else:
        inv_s = 1.0 / float(len(seeds))
        seed = F.col("node").isin(seeds)
        teleport = F.when(seed, F.lit((1.0 - damping) * inv_s)).otherwise(0.0)
        r0 = F.when(seed, F.lit(inv_s)).otherwise(0.0)
    back = hint(nodes.select("node", "_out"))
    ranks = nodes.select("node", r0.alias("r"), "_out")
    for i in range(iterations):
        src = ranks.withColumnRenamed("node", "s")
        if weighted:
            flows = ed.join(hint(src), "s")
            u = _units(F.round(F.col("r") * F.col("_w") / F.col("_out"), 12))
        else:
            u = _units(F.round(F.col("r") / F.col("_out"), 12))
            flows, u = ed.join(hint(src.select("s", u.alias("_u"))), "s"), F.col("_u")
        inflow = flows.groupBy(F.col("t").alias("node")).agg(
            (F.sum(u).cast("double") / F.lit(_UNITS)).alias("_in"))
        if seen.get("no_in"):
            inflow = inflow.unionByName(nodes.filter(F.col("_in").isNull())
                                        .select("node", F.lit(0.0).alias("_in")))
        if dangling:
            lost = ranks.filter(F.col("_out").isNull()).agg(F.coalesce(
                F.sum(F.col("r").cast("decimal(38,18)")).cast("double"),
                F.lit(0.0),
            ).alias("_lost"))
            spread = F.col("_lost") * F.lit(inv_n)
            inflow = inflow.crossJoin(F.broadcast(lost)).select(
                "node", (F.col("_in") + spread).alias("_in"))
        r = F.round(teleport + F.lit(damping) * F.col("_in"), 12)
        ranks = inflow.select("node", r.alias("r"))
        if symmetric and i == 0:
            # every target has in-flow now: one missing from the node
            # table is a sink that N left out. Both columns carry the
            # check, since a division skips its dividend when the
            # divisor is null.
            sink = F.when(F.col("_out").isNull(), F.raise_error(F.concat(
                F.lit("pagerank: symmetric=True, but node "),
                F.col("node").cast("string"),
                F.lit(" has in-edges and no out-edges"),
            )))
            ranks = inflow.join(back, "node", "left").select(
                "node", sink.otherwise(r).alias("r"),
                sink.otherwise(F.col("_out")).alias("_out"))
        elif i < iterations - 1:
            ranks = ranks.join(back, "node")
        if i < iterations - 1 and (dangling or i % 2 == 1):
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "r")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    partitions: int | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list: returns
    ``(node, r)`` (the loop is :func:`_pagerank`). Every contribution
    and rank is rounded to 12 places, so the ranks do not depend on
    partitioning and the driver query's SQL oracle (the iterations
    unrolled as chained CTEs) matches them bit for bit.

    ``symmetric=True``: the caller guarantees every node has both in-
    and out-edges (a symmetrized graph), so the sources are the node
    list; a target with no out-edges raises. Otherwise nodes with no
    in-edges keep only the teleport term, and rank on nodes with no
    out-edges is not redistributed (see :func:`pagerank_dangling`)."""
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    return _pagerank(ed, damping, iterations, partitions, symmetric=symmetric)


def pagerank_dangling(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """PageRank with the standard dangling-mass correction: the rank on
    nodes with no out-edges (``lost``) is redistributed uniformly every
    iteration, ``r'(v) = (1-d)/N + d * (sum_in contrib(v) + lost/N)``,
    so total mass does not decay on graphs with sinks. ``lost`` is a
    one-row aggregate cross-joined in as a broadcast scalar, never
    collected to the driver."""
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    return _pagerank(ed, damping, iterations, partitions, dangling=True)


def pagerank_personalized(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    partitions: int | None = None,
    symmetric: bool = False,
    degree: str | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport and initial mass concentrate on
    ``seeds``, so rank diffuses outward from them (related-items
    ranking); non-seed nodes unreachable from the seeds stay at 0.
    ``symmetric`` as in :func:`pagerank`.

    ``degree``: a pre-computed out-degree column on ``edges``. The
    caller's frame is then the loop invariant as is (no repartition +
    checkpoint), so it should be a materialized leaf, ideally
    partitioned by ``src``. The column is checked on the job that
    builds the node table: a stale or non-integral one raises
    ``ValueError`` instead of silently mis-ranking."""
    if not seeds:
        raise ValueError("pagerank_personalized: seeds must be non-empty")
    if len(set(seeds)) != len(seeds):
        # a duplicated seed would silently double its share of the
        # teleport mass (1/len splits over occurrences, not ids)
        raise ValueError("pagerank_personalized: duplicate seed ids")
    deg = [] if degree is None else [F.col(degree).cast("double").alias("_deg")]
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"), *deg)
    return _pagerank(ed, damping, iterations, partitions, symmetric=symmetric,
                     seeds=seeds, degree=degree)


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 3,
    partitions: int | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank with edge weights: a node's rank flows to its
    out-neighbours in proportion to edge weight,
    ``round(r(u) * w / sum_out w, 12)`` per edge; ``weight=None`` is
    :func:`pagerank`'s uniform split, bit for bit. The weight sums come
    from the ``groupBy(s)`` that counts degrees in the uniform case.
    ``symmetric`` as in :func:`pagerank`."""
    w = [] if weight is None else [F.col(weight).cast("double").alias("_w")]
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"), *w)
    return _pagerank(ed, damping, iterations, partitions, symmetric=symmetric)


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    partitions: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph (pass
    canonical a<b edges; duplicates are deduped here). Returns
    ``(node, triangles)`` for every node in ≥1 triangle.

    Scale shape — the standard degree-ordered orientation: every edge
    is directed from its (degree, id)-smaller endpoint to the larger,
    which bounds every node's out-degree by O(sqrt(|E|)); wedges are
    then a self-join of the oriented edges on the pivot and each wedge
    is closed by one hash join back against the oriented edge set. The
    quadratic blow-up a hub node causes in a naive wedge join cannot
    happen: hubs have near-zero OUT-degree under the orientation.

    Each triangle is found exactly once (its (degree,id)-minimal
    vertex is the pivot), then credited to all three corners via one
    explode + aggregate.
    """
    partitions = _default_partitions(edges, partitions)
    if dedup:
        und = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    else:
        # caller guarantees canonical a<b simple edges (e.g. an already
        # materialized frame) — skip the dedup shuffle
        und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
    )
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    ed = (
        und.join(deg.select(F.col("node").alias("a"), F.col("_d").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("_d").alias("_db")), "b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t"),
                         F.col("_da").alias("_ds"), F.col("_db").alias("_dt")),
            )
            .otherwise(
                F.struct(F.col("b").alias("s"), F.col("a").alias("t"),
                         F.col("_db").alias("_ds"), F.col("_da").alias("_dt"))
            )
            .alias("e")
        )
        .select("e.s", "e.t", "e._ds", "e._dt")
        .repartition(partitions, "s")
        .localCheckpoint()
    )
    w1 = ed.select(F.col("s").alias("p"), F.col("t").alias("u"),
                   F.col("_dt").alias("_du"))
    w2 = ed.select(F.col("s").alias("p"), F.col("t").alias("v"),
                   F.col("_dt").alias("_dv"))
    wedges = (
        w1.join(w2, "p")
        .filter(
            (F.col("_du") < F.col("_dv"))
            | ((F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v")))
        )
        .select("p", "u", "v")
    )
    tris = wedges.join(
        ed.select(F.col("s").alias("u"), F.col("t").alias("v")), ["u", "v"]
    )
    return (
        tris.select(F.explode(F.array("p", "u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    partitions: int | None = None,
    local_finish_edges: int = 0,
) -> DataFrame:
    """Local clustering coefficient per node:
    ``cc = 2*T / (d * (d-1))`` for every node with degree >= 2 (nodes
    in no triangle report 0.0). Rides :func:`triangle_counts` (degree-
    ordered orientation — hub-safe) plus one degree aggregation and a
    left join; the degree table is node-cardinality, so the extra cost
    over triangle counting is one small join.

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`ktruss` precedent, sharing its triangle enumerator and
    wedge budget): degrees + per-node triangle counts come from one
    collect + numpy pass; the ``cc`` arithmetic stays a SPARK
    projection over the created frame so the rounding is the same
    ``F.round`` (HALF_UP) both ways. Oversized graphs always stay
    distributed."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize ONCE: the degree branch and the triangle branch
        # would otherwise each replay the upstream pair build + dedup
        # shuffle (Catalyst does not CSE across join branches)
        .localCheckpoint()
    )
    n_und = (
        und.count()
        if local_finish_edges > 0
        and _integral_type(und.schema["a"].dataType)
        else None
    )
    if (
        n_und is not None
        and n_und <= local_finish_edges
        # r8 ADVICE low #2: decline dense graphs distributedly before
        # paying the collect (see ktruss; same shared wedge budget)
        and (
            n_und <= _WEDGE_PRECHECK_EDGES
            or _oriented_wedge_count(und) <= _KTRUSS_LOCAL_WEDGE_BUDGET
        )
    ):
        res = _triangle_counts_local(und.toPandas())
        if res is not None:
            import pandas as pd

            node_t = und.schema["a"].dataType.simpleString()
            ids, degs, tcounts = res
            base = edges.sparkSession.createDataFrame(
                pd.DataFrame(
                    {"node": ids, "degree": degs.astype("int64"),
                     "triangles": tcounts.astype("int64")}
                ),
                schema=f"node {node_t}, degree long, triangles long",
            )
            d_l = F.col("degree").cast("double")
            return base.filter(F.col("degree") >= 2).select(
                "node",
                "degree",
                "triangles",
                F.round(
                    (F.lit(2.0) * F.col("triangles"))
                    / (d_l * (d_l - F.lit(1.0))),
                    6,
                ).alias("cc"),
            )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    tris = triangle_counts(
        und, src="a", dst="b", partitions=partitions, dedup=False
    )
    d = F.col("degree").cast("double")
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tris, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
            .alias("triangles"),
            F.round(
                (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0)))
                / (d * (d - F.lit(1.0))),
                6,
            ).alias("cc"),
        )
    )


def _kcore_local(pdf, k: int):
    """Driver-local k-core peel over a collected canonical (a, b) edge
    list — the same synchronous delete-all-sub-k schedule as the
    distributed loop, so the (unique, schedule-independent) fixpoint
    AND the surviving degrees match exactly. Pure integer numpy.
    Returns ``(ids, degrees)`` for the surviving nodes."""
    import numpy as np

    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n = len(ids)
    alive_n = np.ones(n, dtype=bool)
    alive_e = np.ones(len(ai), dtype=bool)
    while True:
        deg = (
            np.bincount(ai[alive_e], minlength=n)
            + np.bincount(bi[alive_e], minlength=n)
        )
        bad = alive_n & (deg < k)
        if not bad.any():
            break
        alive_n &= ~bad
        alive_e &= alive_n[ai] & alive_n[bi]
    return ids[alive_n], deg[alive_n]


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    partitions: int | None = None,
    local_finish_edges: int = 0,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k (and their edges) until every survivor has
    degree >= k. Returns the surviving ``(node, degree)`` table — the
    dense backbone used for community seeds and spam/bot filtering.

    Degrees are computed ONCE and then maintained by DELTA (round-8
    exchange cut): when the round's sub-k nodes die, each removed
    edge decrements its surviving endpoint, so the per-round shuffle
    is over REMOVED-edge endpoints (shrinking toward zero) instead of
    the 2|E|-row union+groupBy the previous shape re-ran every round.
    The delta-maintained table is exactly the recomputed one —
    new_deg[v] = old_deg[v] - #removed edges incident to v — so the
    fixpoint (hence the statically unrolled SQL oracle) is unchanged.
    One scheduling nuance: a survivor stranded at degree 0 sits in the
    delta table one round longer than a recompute would keep it (it
    is flagged, not absent), an identity round that cannot change the
    fixpoint; the exhaustion check below discounts such nodes so a
    peel that reached the fixpoint at exactly max_iter is not
    misreported as non-converged. Per round: one cheap count on the
    materialized degree leaf, one edge rewrite (two node-keyed joins
    against the small sub-k set — AQE broadcasts it), one degree
    update checkpoint. Deterministic: peeling is confluent (the
    k-core is unique regardless of deletion order).

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`louvain` / :func:`connected_components` precedent):
    when the materialized canonical edge list fits the budget and ids
    are integral, the whole peel runs driver-side in numpy
    (:func:`_kcore_local`) — the k-core is unique whatever the
    schedule and the local peel uses the SAME synchronous schedule,
    so the surviving (node, degree) set is identical (pinned by
    ``tests/test_graph.py::test_kcore_local_matches_distributed``).
    Oversized graphs always stay on the distributed loop, so the
    budget bounds driver memory, not correctness."""
    partitions = _default_partitions(edges, partitions)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    if (
        local_finish_edges > 0
        and _integral_type(und.schema["a"].dataType)
        and und.count() <= local_finish_edges
    ):
        import pandas as pd

        node_t = und.schema["a"].dataType.simpleString()
        ids, degs = _kcore_local(und.toPandas(), k)
        spark = edges.sparkSession
        return spark.createDataFrame(
            pd.DataFrame({"node": ids, "degree": degs.astype("int64")}),
            schema=f"node {node_t}, degree long",
        )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        bad = deg.filter(F.col("degree") < k).select("node")
        if bad.count() == 0:
            return deg
        bad_a = bad.select(F.col("node").alias("a"))
        bad_b = bad.select(F.col("node").alias("b"))
        # STATS-SAFE shapes only (PLANS.md round-7 item 8): semi/anti
        # joins keep the LEFT child's size estimate and union+agg is
        # additive, so the per-round checkpoints grow linearly. An
        # outer-join-topped checkpoint here multiplies estimates and
        # feeds back est^k per round — a first draft of this loop sat
        # minutes per plan in BigInteger.multiply at sf0.1's ~16 rounds.
        # Mixed edges (exactly one dying endpoint) decrement the live
        # end; fully-dead edges vanish without touching any survivor.
        dec_b = (
            und.join(bad_a, "a", "left_semi")
            .join(bad_b, "b", "left_anti")
            .select(F.col("b").alias("node"))
        )
        dec_a = (
            und.join(bad_b, "b", "left_semi")
            .join(bad_a, "a", "left_anti")
            .select(F.col("a").alias("node"))
        )
        negs = (
            dec_b.unionByName(dec_a)
            .groupBy("node")
            .agg((-F.count("*")).cast("long").alias("degree"))
        )
        und = (
            und.join(bad_a, "a", "left_anti")
            .join(bad_b, "b", "left_anti")
            .localCheckpoint()
        )
        deg = (
            deg.filter(F.col("degree") >= k)
            .unionByName(negs)
            .groupBy("node")
            .agg(F.sum("degree").cast("long").alias("degree"))
            .localCheckpoint()
        )
    # max_iter exhausted without a clean round: the survivors may still
    # contain sub-k degrees, and silently returning them would hand the
    # caller a non-core (correctness vs the unrolled oracle only held
    # because both used the same round count). Fail loudly — EXCEPT for
    # nodes stranded at degree 0: they carry no edges, so flagging them
    # is the delta table's +1 identity round, not non-convergence (a
    # recompute schedule would already have dropped them). Discount
    # them from the check and from the returned core.
    remaining = deg.filter(
        (F.col("degree") < k) & (F.col("degree") > 0)
    ).count()
    if remaining > 0:
        raise RuntimeError(
            f"kcore: peel did not converge within max_iter={max_iter} "
            f"({remaining} nodes still below degree {k}); raise max_iter"
        )
    return deg.filter(F.col("degree") >= k)


def bfs_distances(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Single-source BFS over an undirected graph: ``(node, dist)``
    for every node reachable from ``source`` within ``max_depth``
    hops. Frontier expansion — per round ONE join of the (shrinking)
    frontier against the checkpointed adjacency plus one anti-join
    against the visited set; only (node, dist) pairs shuffle. The
    driver-loop discipline (checkpoint per round, count as the
    termination probe) matches the other iterative operators."""
    partitions = _default_partitions(edges, partitions)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    spark = edges.sparkSession
    visited = local_frame(
        spark, [(int(source), 0)], "node long, dist int"
    ).localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            sym.join(frontier, sym.a == frontier.node)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).cast("int").alias("dist"))
            .localCheckpoint()
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def betweenness_approx(
    edges: DataFrame,
    sources: list[int] | None = None,
    k: int = 8,
    max_depth: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Approximate betweenness centrality by source-sampled Brandes
    (Brandes 2001; Bader et al.'s sampling estimator): run the
    forward-BFS + backward dependency accumulation from ``k`` sampled
    sources SIMULTANEOUSLY — every frame is keyed by (src, node), so
    adding sources widens rows, never rounds — and scale the summed
    dependencies by n/k. ``sources=None`` samples deterministically by
    content hash (xxhash64 of the node id), the same no-RNG rule every
    sampling operator here follows; pass an explicit list (or all
    nodes) for exact betweenness.

    Returns ``(node, bc)`` where bc estimates the DIRECTED-pair sum
    (each unordered pair counted twice — halve for the undirected
    convention).

    Scale shape: 2·diameter driver-coordinated rounds total
    (independent of k) — forward frontier expansion exactly like
    :func:`bfs_distances`, then one backward round per BFS level; each
    round shuffles (src, node)-keyed longs plus a double, with
    map-side combine on every aggregate. Path counts (sigma) are
    integer-exact; dependency deltas are doubles (sum order moves them
    ~1e-15 — round before asserting equality across runs).

    Overflow guard (r11, closing ADVICE r9 low #1): sigma rides the
    shuffle as ``long`` and Spark's SUM wraps silently past 2^63 — the
    same failure mode as the local finish's int64, which keeps the two
    paths value-identical. Both paths now fail loudly on the same
    graphs: a post-BFS scan pins every sigma to [0, 2^50] and a
    max-degree check certifies no level sum could have wrapped back
    into the band undetected — two jobs total, not one per level.
    """
    partitions = _default_partitions(edges, partitions)
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    nodes = (
        sym.select(F.col("a").alias("node")).distinct().localCheckpoint()
    )
    n_nodes = nodes.count()
    if sources is None:
        srcs = [
            r["node"]
            for r in nodes.orderBy(
                F.xxhash64(F.col("node")).asc(), F.col("node").asc()
            )
            .limit(k)
            .collect()
        ]
    else:
        srcs = list(sources)
        # duplicate ids double-count those sources' dependencies and
        # unknown ids deflate the n/k scale — both silently bias bc
        if len(set(srcs)) != len(srcs):
            raise ValueError(
                "betweenness_approx: duplicate source ids "
                f"({len(srcs) - len(set(srcs))} dup(s))"
            )
        missing = (
            local_frame(
                edges.sparkSession, [(int(s),) for s in srcs], "node long"
            )
            .join(nodes, "node", "left_anti")
            .count()
        )
        if missing:
            raise ValueError(
                f"betweenness_approx: {missing} source id(s) absent "
                "from the (non-isolated) node set"
            )
    if not srcs:
        raise ValueError("betweenness_approx: no sources")
    scale = float(n_nodes) / float(len(srcs))

    spark = edges.sparkSession
    seed = local_frame(
        spark,
        [(int(s), int(s), 0, 1) for s in srcs],
        "src long, node long, dist int, sigma long",
    ).localCheckpoint()
    levels: list[DataFrame] = [seed]  # levels[d] = (src,node,dist,sigma)
    visited = seed
    frontier = seed
    drained = False
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.a)
            .select("src", F.col("b").alias("node"), "sigma")
            .join(
                visited.select("src", "node"), ["src", "node"], "left_anti"
            )
            .groupBy("src", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "src", "node", F.lit(depth).cast("int").alias("dist"), "sigma"
            )
            .localCheckpoint()
        )
        if nxt.count() == 0:
            drained = True
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    if not drained:
        # the BFS hit max_depth with the frontier still live — probe one
        # more expansion. If anything deeper exists, a silent truncation
        # would treat the deepest REACHED level as successor-free and
        # mis-accumulate dependencies for every visited node (not just
        # clip the tail). Fail loudly, same convention as
        # connected_components / kcore.
        deeper = (
            frontier.join(sym, frontier.node == sym.a)
            .select("src", F.col("b").alias("node"))
            .join(
                visited.select("src", "node"), ["src", "node"], "left_anti"
            )
            .limit(1)
            .count()
        )
        if deeper:
            raise RuntimeError(
                f"betweenness_approx: BFS not drained at max_depth="
                f"{max_depth} (graph eccentricity exceeds it); raise "
                "max_depth — truncation would bias every bc value, not "
                "just the tail"
            )
    # post-BFS sigma overflow guard (r10 verdict ask #7, closing
    # ADVICE r9 low #1 for the distributed path too): Spark's long SUM
    # wraps silently past 2^63. Two cheap post-BFS jobs make the scan
    # airtight by the same induction as the local finish's
    # (_SIGMA_SAFE): every stored sigma is in [0, 2^50] (a wrap into
    # [2^63, 2^64) lands NEGATIVE and is caught; true counts above the
    # band fail loudly, mirroring the local path on the same graph),
    # and max_sigma * max_degree < 2^63 certifies no level's TRUE sum
    # could have reached the wrap point from in-band predecessors —
    # without the fan-in bound a >=8192-way sum of near-band values
    # could wrap back INTO the band undetected. Level-0 seeds are
    # sigma=1, so by induction stored == true everywhere.
    sig = visited.agg(
        F.max("sigma").alias("mx"), F.min("sigma").alias("mn")
    ).collect()[0]
    if sig["mn"] < 0 or sig["mx"] > _SIGMA_SAFE:
        raise RuntimeError(
            "betweenness_approx: shortest-path counts left the "
            f"int64-safe guard band [0, 2^50] (max {sig['mx']}, min "
            f"{sig['mn']}); sigma would wrap silently past 2^63 — this "
            "graph needs big-integer path counts, not int64 Brandes"
        )
    max_deg = (
        sym.groupBy("b").agg(F.count("*").alias("d"))
        .agg(F.max("d")).collect()[0][0]
    )
    if int(sig["mx"]) * int(max_deg) >= 1 << 63:
        raise RuntimeError(
            "betweenness_approx: max sigma x max degree "
            f"({sig['mx']} x {max_deg}) reaches the int64 wrap point — "
            "a level sum could have wrapped back into the guard band "
            "undetected; this graph needs big-integer path counts"
        )
    # backward accumulation: deepest level has no successors (delta=0);
    # each round joins level d's (1+delta)/sigma against the adjacency
    # and credits level d-1 predecessors with sigma_v * that ratio
    zero = F.lit(0.0).alias("delta")
    deltas: list[DataFrame] = [None] * len(levels)
    deltas[-1] = levels[-1].select("src", "node", "sigma", zero)
    acc: list[DataFrame] = [deltas[-1].select("src", "node", "delta")]
    for d in range(len(levels) - 1, 0, -1):
        w = deltas[d].select(
            "src",
            F.col("node").alias("_w"),
            ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("_ratio"),
        )
        contrib = (
            w.join(sym, w._w == sym.b)
            .select("src", F.col("a").alias("node"), "_ratio")
            .join(
                levels[d - 1].select("src", "node", "sigma"), ["src", "node"]
            )
            .groupBy("src", "node")
            .agg(F.sum(F.col("sigma") * F.col("_ratio")).alias("_c"))
        )
        deltas[d - 1] = (
            levels[d - 1]
            .join(contrib, ["src", "node"], "left")
            .select(
                "src",
                "node",
                "sigma",
                F.coalesce(F.col("_c"), F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint()
        )
        acc.append(deltas[d - 1].select("src", "node", "delta"))
    out = acc[0]
    for a in acc[1:]:
        out = out.unionByName(a)
    return (
        out.filter(F.col("node") != F.col("src"))
        .groupBy("node")
        .agg((F.sum("delta") * F.lit(scale)).alias("bc"))
        .join(nodes, "node", "right")
        .select("node", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )


def kcore_weighted(
    edges: DataFrame,
    k: float,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    max_iter: int = 30,
    partitions: int | None = None,
) -> DataFrame:
    """Weighted k-core (s-core) decomposition: iteratively delete
    nodes whose incident edge-WEIGHT sum is below ``k`` until every
    survivor carries at least ``k`` strength — the volume-aware dense
    backbone (a node with many trivial-weight edges no longer
    survives on edge count alone). ``weight=None`` degenerates to
    :func:`kcore` with a float threshold.

    Same loop discipline and the same fail-loudly convergence guard
    as :func:`kcore`: per round one strength aggregation over the
    checkpointed (shrinking) edge set, two anti-joins, one count;
    peeling is confluent for weighted strength exactly as for
    degree, so deletion order cannot change the fixpoint. Only
    (node, strength) pairs and the edge list ever shuffle.
    """
    partitions = _default_partitions(edges, partitions)
    wcol = F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            wcol.alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    for _ in range(max_iter):
        stg = (
            und.select(F.col("a").alias("node"), "w")
            .unionByName(und.select(F.col("b").alias("node"), "w"))
            .groupBy("node")
            .agg(F.sum("w").alias("strength"))
            .localCheckpoint()
        )
        bad = stg.filter(F.col("strength") < k).select("node")
        if bad.count() == 0:
            return stg
        und = (
            und.join(bad.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b", "w")
            .localCheckpoint()
        )
    stg = (
        und.select(F.col("a").alias("node"), "w")
        .unionByName(und.select(F.col("b").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("strength"))
        .localCheckpoint()
    )
    if stg.filter(F.col("strength") < k).count() > 0:
        raise RuntimeError(
            f"kcore_weighted: peel did not converge within "
            f"max_iter={max_iter}; raise max_iter"
        )
    return stg


_KTRUSS_LOCAL_WEDGE_BUDGET = 32_000_000
# Edge count above which the local-finish candidates pre-check the
# wedge budget DISTRIBUTEDLY before collecting (r8 ADVICE low #2): a
# dense sub-edge-budget graph used to pay the full toPandas() only for
# the post-collect wedge check to decline it. Below this, the collect
# is cheap enough that the in-numpy check alone is the faster plan
# (the pre-check costs a degree agg + orientation join pass).
_WEDGE_PRECHECK_EDGES = 1_000_000


def _oriented_wedge_count(und: DataFrame) -> int:
    """Wedge count of the canonical edge list ``(a, b)`` under the
    (degree, id) orientation — sum over nodes of C(outdeg, 2), the
    exact quantity :func:`_orient_local` budgets — computed
    distributedly so an over-budget graph can decline the local finish
    WITHOUT collecting its edges first (r8 ADVICE low #2)."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
    )
    outdeg = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("_d").alias("_da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("_d").alias("_db")),
            "b",
        )
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("s")
        )
        .groupBy("s")
        .agg(F.count("*").alias("_o"))
    )
    row = outdeg.agg(
        F.sum(F.expr("_o * (_o - 1) DIV 2")).alias("w")
    ).first()
    return int(row["w"] or 0)


def _orient_local(pdf):
    """Shared prologue of the driver-local triangle/truss twins (r8
    ADVICE low #4 — previously duplicated verbatim in
    :func:`_triangle_counts_local` and :func:`_ktruss_local`, with
    their equivalence enforced only by copy-paste discipline): encode
    the collected canonical (a, b) edge list, rank nodes under the
    (degree, id) total order — exactly the distributed orientation's
    tie-break — orient each edge toward its order-larger endpoint, and
    apply the shared wedge budget. Returns
    ``(ids, deg, s, t, okey, n)`` or ``None`` when the wedge count
    exceeds :data:`_KTRUSS_LOCAL_WEDGE_BUDGET` (same quantity, same
    orientation as :func:`_oriented_wedge_count`)."""
    import numpy as np

    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n = np.int64(len(ids))
    deg = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
    # okey = rank under (degree, id); index order == id order, so this
    # is exactly the distributed orientation's total order (okey is a
    # permutation — ties cannot happen, matching the explicit
    # (_d, id) tie-break)
    okey = np.empty(int(n), dtype=np.int64)
    okey[np.lexsort((np.arange(int(n)), deg))] = np.arange(int(n))
    fwd = okey[ai] < okey[bi]
    s = np.where(fwd, ai, bi)
    t = np.where(fwd, bi, ai)
    outdeg = np.bincount(s, minlength=n).astype(np.int64)
    if int((outdeg * (outdeg - 1) // 2).sum()) > _KTRUSS_LOCAL_WEDGE_BUDGET:
        return None
    return ids, deg, s, t, okey, n


def _local_triangles(s, t, okey, n):
    """Enumerate every triangle of the oriented edge set ``(s, t)``
    exactly once (at its okey-minimal corner) — the numpy twin of the
    distributed wedge-join + close: per pivot, the okey-sorted target
    block yields ordered wedges, closed by a searchsorted membership
    probe against the encoded edge keys. Returns index arrays
    ``(tp, tu, tv)`` with okey(tp) < okey(tu) < okey(tv)."""
    import numpy as np

    m = len(s)
    # sort edges by (pivot, okey of target): each pivot's targets
    # become a contiguous okey-ascending block
    order = np.lexsort((okey[t], s))
    ss, tt = s[order], t[order]
    grp = np.bincount(ss, minlength=n)
    starts = np.concatenate(([0], np.cumsum(grp)[:-1]))
    pos = np.arange(m) - np.repeat(starts[grp > 0], grp[grp > 0])
    # element p (offset pos[p] in its block) closes pos[p] wedges
    # as the okey-larger leg v, against every earlier leg u
    v_rep = np.repeat(np.arange(m), pos)
    cum = np.concatenate(([0], np.cumsum(pos)))
    u_rep = (
        np.arange(cum[-1])
        - np.repeat(cum[:-1], pos)
        + np.repeat(np.arange(m) - pos, pos)
    )
    wp, wu, wv = ss[v_rep], tt[u_rep], tt[v_rep]
    ekeys_sorted = np.sort(s * n + t)
    wkeys = wu * n + wv
    ins = np.searchsorted(ekeys_sorted, wkeys)
    closed = (ins < m) & (ekeys_sorted[np.minimum(ins, m - 1)] == wkeys)
    return wp[closed], wu[closed], wv[closed]


def _triangle_counts_local(pdf):
    """Driver-local degrees + per-node triangle counts over a
    collected canonical (a, b) edge list — one :func:`_local_triangles`
    pass, each triangle credited to its three corners exactly like the
    distributed explode + aggregate. Returns ``(ids, degrees,
    triangle_counts)`` aligned per node, or ``None`` when the wedge
    count exceeds the shared :data:`_KTRUSS_LOCAL_WEDGE_BUDGET`."""
    import numpy as np

    pro = _orient_local(pdf)
    if pro is None:
        return None
    ids, deg, s, t, okey, n = pro
    if len(s) == 0:
        return ids, deg, np.zeros(0, dtype=np.int64)
    tp, tu, tv = _local_triangles(s, t, okey, n)
    tcount = np.bincount(
        np.concatenate([tp, tu, tv]), minlength=n
    ).astype(np.int64)
    return ids, deg, tcount


def _ktruss_local(pdf, k: int):
    """Driver-local k-truss peel over a collected canonical (a, b)
    edge list — same (degree, id) orientation, same synchronous
    delete-all-sub-support schedule, so the (unique) fixpoint AND the
    surviving supports match the distributed loop exactly. Pure
    integer numpy: wedges are generated per pivot from the
    okey-sorted out-neighbor blocks, closed by a searchsorted
    membership probe, and supports counted over encoded edge keys.

    Returns ``(a_ids, b_ids, supports)`` or ``None`` when the initial
    wedge count exceeds the internal budget (a dense graph whose
    wedge expansion should stay distributed even though its edge list
    fit the collect budget — wedge counts only shrink as edges peel,
    so the one up-front check suffices)."""
    import numpy as np

    pro = _orient_local(pdf)
    if pro is None:
        return None
    ids, _deg, s, t, okey, n = pro
    need = k - 2
    sup = np.zeros(0, dtype=np.int64)
    while True:
        m = len(s)
        if m == 0:
            break
        tp, tu, tv = _local_triangles(s, t, okey, n)
        tri_keys = np.concatenate([tp * n + tu, tp * n + tv, tu * n + tv])
        uk, counts = np.unique(tri_keys, return_counts=True)
        cur = s * n + t
        ins2 = np.searchsorted(uk, cur)
        sup = np.zeros(m, dtype=np.int64)
        hit = (ins2 < len(uk)) & (
            uk[np.minimum(ins2, max(len(uk) - 1, 0))] == cur
        ) if len(uk) else np.zeros(m, dtype=bool)
        sup[hit] = counts[ins2[hit]]
        keep = sup >= need
        if keep.all():
            break
        s, t, sup = s[keep], t[keep], sup[keep]
    lo = np.minimum(s, t)
    hi = np.maximum(s, t)
    return ids[lo], ids[hi], sup


def _ktruss_support(ed: DataFrame) -> DataFrame:
    """Per-edge triangle supports over an oriented edge set
    ``(s, t, _dt)`` where ``_dt`` is the order key of ``t`` under the
    orientation's total order. Each triangle's three edges are all
    oriented edges — (p,u), (p,v), (u,v) for pivot p with
    order(u) < order(v) — so supports are keyed by the ORIENTED pair
    directly and the target's order key is known at credit time
    ((p,u) targets u with _du; the other two target v with _dv).
    Returns ``(s, t, _dt, support)`` for every edge in >= 1 triangle.
    """
    w1 = ed.select(F.col("s").alias("p"), F.col("t").alias("u"),
                   F.col("_dt").alias("_du"))
    w2 = ed.select(F.col("s").alias("p"), F.col("t").alias("v"),
                   F.col("_dt").alias("_dv"))
    wedges = (
        w1.join(w2, "p")
        .filter(
            (F.col("_du") < F.col("_dv"))
            | ((F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v")))
        )
    )
    tris = wedges.join(
        ed.select(F.col("s").alias("u"), F.col("t").alias("v")), ["u", "v"]
    )
    return (
        tris.select(
            F.explode(
                F.array(
                    F.struct(F.col("p").alias("s"), F.col("u").alias("t"),
                             F.col("_du").alias("_dt")),
                    F.struct(F.col("p").alias("s"), F.col("v").alias("t"),
                             F.col("_dv").alias("_dt")),
                    F.struct(F.col("u").alias("s"), F.col("v").alias("t"),
                             F.col("_dv").alias("_dt")),
                )
            ).alias("e")
        )
        .groupBy("e.s", "e.t", "e._dt")
        .agg(F.count("*").cast("long").alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    partitions: int | None = None,
    local_finish_edges: int = 0,
) -> DataFrame:
    """k-truss decomposition: the maximal subgraph in which every
    EDGE participates in at least ``k-2`` triangles — the
    edge-cohesion refinement of k-core (a k-core hub surviving on
    degree alone falls out of the truss if its edges close no
    triangles), the standard community-backbone / spam-edge filter.
    Returns the surviving canonical edge set ``(a, b, support)``.

    Per round: ONE job — a degree-ordered triangle enumeration over
    the (checkpointed, shrinking) oriented edge set, per-edge support
    credit (each triangle credits its 3 edges via one explode +
    map-side-combined aggregate), and the support filter, fused into
    a single checkpoint — plus a count on the materialized result.

    The orientation is HOISTED out of the loop (round-8 exchange
    cut): edges are directed once by the ORIGINAL (degree, id) total
    order. Correctness is orientation-independent — any total order
    enumerates each triangle exactly once (at its order-minimal
    corner), and support counts only depend on the current triangle
    set — and the hub-safety bound survives deletion: out-degrees
    under a fixed orientation only shrink as edges are peeled, so the
    original O(sqrt(|E|)) wedge bound keeps holding. This removes the
    per-round degree aggregation, two degree joins, and the
    re-orientation exchange the previous shape paid (measured ~5.1s
    -> see PLANS.md round-8 notes at sf0.1). Supports are keyed by
    the oriented pair (every triangle edge IS an oriented edge), so
    no per-round canonicalization either.

    Edge peeling is confluent like node peeling, so deletion order
    cannot change the fixpoint; the loop fails loudly on max_iter
    exhaustion (same guard as :func:`kcore`).

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`kcore` / :func:`louvain` precedent): a graph whose
    canonical edge list fits the budget — AND whose wedge expansion
    fits an internal wedge budget — peels driver-side in vectorized
    numpy (:func:`_ktruss_local`), identical orientation and schedule,
    identical output (pinned by
    ``tests/test_graph.py::test_ktruss_local_matches_distributed``).
    Dense graphs above ``_WEDGE_PRECHECK_EDGES`` evaluate the wedge
    budget DISTRIBUTEDLY and decline before paying the collect (r8
    advice); the in-numpy wedge check remains the authoritative belt
    on collected data. Oversized graphs always stay on the
    distributed loop.
    """
    partitions = _default_partitions(edges, partitions)
    need = k - 2
    # materialized unconditionally (not only on the local-finish path):
    # the orientation build below references `und` three times, and a
    # lazy distinct would re-run the upstream edge build per reference
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    n_und = (
        und.count()
        if need > 0
        and local_finish_edges > 0
        and _integral_type(und.schema["a"].dataType)
        else None
    )
    if (
        n_und is not None
        and n_und <= local_finish_edges
        # r8 ADVICE low #2: a dense sub-edge-budget graph must decline
        # BEFORE paying the collect — above the pre-check threshold the
        # wedge budget is evaluated distributedly (same quantity, same
        # orientation as the in-numpy check, which stays as the
        # authoritative belt on the collected data)
        and (
            n_und <= _WEDGE_PRECHECK_EDGES
            or _oriented_wedge_count(und) <= _KTRUSS_LOCAL_WEDGE_BUDGET
        )
    ):
        res = _ktruss_local(und.toPandas(), k)
        if res is not None:
            import pandas as pd

            node_t = und.schema["a"].dataType.simpleString()
            a_ids, b_ids, sups = res
            return edges.sparkSession.createDataFrame(
                pd.DataFrame(
                    {"a": a_ids, "b": b_ids,
                     "support": sups.astype("int64")}
                ),
                schema=f"a {node_t}, b {node_t}, support long",
            )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
    )
    ed = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("_d").alias("_da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("_d").alias("_db")),
            "b",
        )
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t"),
                         F.col("_db").alias("_dt")),
            )
            .otherwise(
                F.struct(F.col("b").alias("s"), F.col("a").alias("t"),
                         F.col("_da").alias("_dt"))
            )
            .alias("e")
        )
        .select("e.s", "e.t", "e._dt")
        .repartition(partitions, "s")
        .localCheckpoint()
    )
    n_edges = ed.count()
    if need <= 0:
        # k <= 2: every edge survives; one enumeration for the counts
        return (
            ed.join(_ktruss_support(ed), ["s", "t"], "left")
            .select(
                F.least("s", "t").alias("a"),
                F.greatest("s", "t").alias("b"),
                F.coalesce("support", F.lit(0)).alias("support"),
            )
        )
    for _ in range(max_iter):
        # every surviving edge has support >= need >= 1, so it HAS a
        # support row — kept is a pure filter over the aggregate, no
        # join back against ed (the _dt order key rides the groupBy).
        # Stats-safe enough: the agg's estimate is est(ed)^3 from the
        # two enumeration joins, i.e. ~x3 bit growth per round, and
        # truss peels converge in a handful of rounds (vs the outer-
        # join-topped kept of the first draft at ^4 PLUS the re-
        # orientation's ^3 every round).
        kept = (
            _ktruss_support(ed)
            .filter(F.col("support") >= need)
            .repartition(partitions, "s")
            .localCheckpoint()
        )
        n_kept = kept.count()
        if n_kept == n_edges or n_kept == 0:
            return kept.select(
                F.least("s", "t").alias("a"),
                F.greatest("s", "t").alias("b"),
                "support",
            )
        ed = kept.select("s", "t", "_dt")
        n_edges = n_kept
    raise RuntimeError(
        f"ktruss: peel did not converge within max_iter={max_iter}; "
        "raise max_iter"
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "cluster",
) -> float:
    """Newman modularity Q of a community assignment over an
    undirected simple graph:

        Q = sum_c [ e_c/m  -  (d_c / 2m)^2 ]

    (e_c = intra-community edges, d_c = total degree in c, m = edge
    count) — the standard quality score for judging ANY clustering of
    a graph (connected components, k-truss communities, kmeans over
    embeddings joined back to the similarity graph). Plan shape: one
    broadcast-able join of the edge list against the assignment per
    endpoint, then two community-keyed partial aggregates — no
    per-community state beyond two longs, so a million communities
    cost the same plan. Returns a driver float (the score is one
    number by definition)."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    m = und.count()
    if m == 0:
        return 0.0
    ca = communities.select(
        F.col(node_col).alias("a"), F.col(community_col).alias("_ca")
    )
    cb = communities.select(
        F.col(node_col).alias("b"), F.col(community_col).alias("_cb")
    )
    tagged = und.join(ca, "a", "left").join(cb, "b", "left").localCheckpoint()
    # an edge touching a node missing from `communities` would silently
    # vanish from e_c/d_c while m still counts it, skewing Q — an
    # incomplete assignment is caller error, fail loudly
    unmatched = tagged.filter(
        F.col("_ca").isNull() | F.col("_cb").isNull()
    ).count()
    if unmatched:
        raise ValueError(
            f"modularity: {unmatched} edge(s) touch nodes absent from "
            "the community assignment — assign every edge endpoint"
        )
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("c"))
        .agg(F.count("*").cast("long").alias("ec"))
    )
    deg = (
        tagged.select(F.col("_ca").alias("c"))
        .unionByName(tagged.select(F.col("_cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("dc"))
    )
    row = (
        deg.join(intra, "c", "left")
        .select(
            (
                F.coalesce("ec", F.lit(0)).cast("double") / F.lit(float(m))
                - (F.col("dc").cast("double") / F.lit(2.0 * m))
                * (F.col("dc").cast("double") / F.lit(2.0 * m))
            ).alias("q")
        )
        .agg(F.sum("q").alias("Q"))
        .first()
    )
    return float(row["Q"] or 0.0)


def _louvain_local(
    rows,
    max_rounds: int,
    levels: int,
    j_best,
    want_history: bool,
):
    """Driver-local continuation of the :func:`louvain` level loop —
    IDENTICAL arithmetic and sweep schedule (exact integer move
    scores, alternating candidate-direction gate, strict-increase J
    acceptance, ties to the smaller community id, least/greatest
    contraction), just executed on a collected edge list. Python ints
    are arbitrary-precision, so the exact-integer guarantees carry
    over unchanged; the equivalence is pinned by
    ``tests/test_graph.py::test_louvain_local_matches_distributed``.

    ``rows``: (a, b, w) with a <= b, duplicates pre-summed (the shape
    of the distributed ``und`` frame). Returns ``(mapping, history,
    j_best)`` where mapping sends every node of the subgraph to its
    final community."""
    from collections import defaultdict

    edges = {}
    for a, b, w in rows:
        edges[(a, b)] = edges.get((a, b), 0) + int(w)
    mapping = None
    history: list[float] = []
    for _level in range(levels):
        nonself = {e: w for e, w in edges.items() if e[0] != e[1]}
        deg: dict = defaultdict(int)
        for (a, b), w in edges.items():
            if a == b:
                deg[a] += 2 * w
            else:
                deg[a] += w
                deg[b] += w
        two_m = sum(deg.values())
        if not two_m:
            break
        nodes = sorted(deg)
        adj: dict = defaultdict(list)
        for (a, b), w in nonself.items():
            adj[a].append((b, w))
            adj[b].append((a, w))
        assign = {n: n for n in nodes}

        def _j(asg):
            ec = 0
            for (a, b), w in edges.items():
                if asg[a] == asg[b]:
                    ec += w
            dctot: dict = defaultdict(int)
            for n, c in asg.items():
                dctot[c] += deg[n]
            return 2 * two_m * ec - sum(v * v for v in dctot.values())

        if j_best is None:
            j_best = _j(assign)
            if want_history:
                history.append(j_best / (float(two_m) * two_m))

        moved_any = False
        stall = 0
        direction = 0
        for _round in range(max_rounds):
            ctot: dict = defaultdict(int)
            for n, c in assign.items():
                ctot[c] += deg[n]
            proposed = {}
            for i in nodes:
                cur = assign[i]
                k = deg[i]
                kic: dict = defaultdict(int)
                kic[cur] += 0
                for jn, w in adj[i]:
                    kic[assign[jn]] += w
                best_key = None
                best_cand = None
                stay_score = None
                for cand, s in kic.items():
                    score = two_m * s - k * (
                        ctot[cand] - (k if cand == cur else 0)
                    )
                    if cand == cur:
                        stay_score = score
                    elif (cand > cur) if direction == 0 else (cand < cur):
                        continue  # direction gate on candidates
                    key = (score, -cand)
                    if best_key is None or key > best_key:
                        best_key, best_cand = key, cand
                do_move = best_key[0] > stay_score and best_cand != cur
                proposed[i] = best_cand if do_move else cur
            j_new = _j(proposed)
            if j_new <= j_best:
                stall += 1
                direction ^= 1
                if stall >= 2:
                    break
                continue
            assign = proposed
            j_best = j_new
            moved_any = True
            stall = 0
            direction ^= 1
            if want_history:
                history.append(j_new / (float(two_m) * two_m))

        mapping = (
            dict(assign)
            if mapping is None
            else {orig: assign[c] for orig, c in mapping.items()}
        )
        if not moved_any:
            break
        newe: dict = defaultdict(int)
        for (a, b), w in edges.items():
            ca, cb = assign[a], assign[b]
            newe[(ca, cb) if ca <= cb else (cb, ca)] += w
        edges = dict(newe)
    return (mapping or {}), history, j_best


def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    max_rounds: int = 20,
    max_levels: int = 3,
    partitions: int | None = None,
    with_history: bool = False,
    refine: bool = False,
    local_max_edges: int | None = None,
):
    """Louvain-style community detection (Blondel et al. 2008) made
    DETERMINISTIC and partition-invariant: synchronous local-move
    rounds with an exact integer objective gate, then graph
    contraction, repeated up to ``max_levels``.

    Classic Louvain sweeps nodes in random order; a distributed port
    that applies simultaneous greedy moves can oscillate and its float
    modularity gains depend on aggregation order. This implementation
    removes both sources of nondeterminism:

    - Every move decision is computed in EXACT integer arithmetic
      (decimal(38,0) on the shuffle): for node i with degree k_i in
      community a, candidate c scores
      ``2m*k_ic - k_i*(tot_c - k_i*[c==a])``; argmax with ties broken
      to the smaller community id. No float ever decides a move.
    - A round's proposed moves are applied as one synchronous batch,
      then gated on the exact integer objective
      ``J = 4m*sum_c(e_c) - sum_c(d_c^2)`` (maximizing J is maximizing
      modularity Q = J/(4m^2)): a round that does not strictly
      increase J is DISCARDED and the level stops — so the accepted
      round sequence is strictly Q-monotone by construction (the
      property the tests pin), and simultaneous conflicting moves can
      never walk the score downhill unnoticed.
    - Contraction keeps intra-community weight as supernode
      self-loops (k of a supernode = d_c of the fine graph, total
      weight m preserved), so the coarse objective IS the fine
      objective and level boundaries cannot change Q.

    Community labels are node ids (a community keeps the id of the
    supernode seed), so output is reproducible run-to-run. Returns
    ``(node, community)`` for the ORIGINAL nodes; with
    ``with_history=True`` returns ``(df, [Q_float, ...])`` — exact-J
    checkpoints of every accepted round, as floats, strictly
    increasing.

    ``refine=True`` upgrades the method to Leiden semantics (Traag et
    al. 2019): :func:`refine_communities` splits internally
    disconnected communities at EVERY level boundary before
    contraction (so supernodes stay internally connected — Louvain's
    one guarantee gap) plus a final pass on the original graph; every
    split strictly raises Q, and the history records it.

    ``local_max_edges`` (off by default): once a level's contracted
    edge list has at most this many rows, the REMAINING levels run
    the identical algorithm driver-locally (bounded collect — 10k
    edges is ~240KB at any input scale) instead of paying ~15
    scheduler-bound Spark stages per tiny round; this is the standard
    coarsen-then-finish design of distributed Louvain/Leiden
    implementations. Results are bit-identical to the distributed
    path (same integer arithmetic; equivalence unit-tested). Ignored
    under ``refine=True``.

    Scale shape per round: one join of the bidirectional edge list
    against the assignment (community tags), one (node, comm) partial
    aggregate, one node-keyed max_by aggregate — ~3 key-partitioned
    shuffles of (id, id, long) rows, no window over unbounded groups,
    no driver-side data beyond two longs. Rounds are checkpointed so
    plans stay O(1). Not a convergence-or-raise loop: Louvain is an
    anytime optimizer — exhausting ``max_rounds`` returns the best
    assignment found, unlike the confluent kcore/ktruss peels where a
    truncated fixpoint would be silently WRONG.
    """
    partitions = _default_partitions(edges, partitions)
    # no weight column -> simple-graph semantics (duplicate pairs are
    # one edge of weight 1, matching `modularity`); weighted input ->
    # duplicate pairs sum (multigraph collapse, same as contraction)
    w0 = (
        F.col(weight).cast("long") if weight is not None else F.lit(1)
    )
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            w0.alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(
            (
                F.sum("w") if weight is not None else F.max("w")
            ).cast("long").alias("w")
        )
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    base_und = und  # level-0 edges, kept for the refinement pass
    # original-node -> current community, carried across levels.
    # Level 0's projection is the level-0 assignment ITSELF (every
    # original node is a level-0 node), so proj stays None until the
    # first level completes — the old eager union+distinct checkpoint
    # was a full extra job before any real work
    proj: DataFrame | None = None

    DEC = "decimal(38,0)"
    history: list[float] = []
    j_best: int | None = None
    m_total: int | None = None

    for _level in range(max_levels):
        # Coarsen-then-finish-locally (the standard distributed-Louvain
        # design): contraction shrinks the graph by orders of magnitude
        # per level, so once a level's edge list fits a documented
        # driver budget (local_max_edges rows x ~24B — e.g. 10k edges
        # = 240KB, bounded at ANY input scale), the remaining levels
        # run the IDENTICAL algorithm in-process instead of paying
        # ~15 scheduler-bound Spark stages per tiny round. Disabled
        # under refine=True (the Leiden split stays distributed) and
        # by default (local_max_edges=None) so distributed-path tests
        # keep testing the distributed path.
        # one tiny job reads BOTH level scalars off the checkpointed
        # edge list: the row count (local-finish gate) and 2m
        # (= 2*sum w; each edge contributes w to both endpoints'
        # degrees, a self-loop contributes 2w to its node's) — the old
        # shape paid separate und.count() and deg-sum jobs per level
        lvl = und.agg(
            F.count(F.lit(1)).alias("_n"), F.sum("w").alias("_sw")
        ).first()
        n_edges = int(lvl["_n"])
        two_m = 2 * int(lvl["_sw"]) if lvl["_sw"] is not None else 0
        if (
            local_max_edges is not None
            and not refine
            and n_edges <= local_max_edges
        ):
            rows = [(r["a"], r["b"], r["w"]) for r in und.collect()]
            if rows:
                if proj is None:
                    # level-0 local finish: the projection is the
                    # identity over the (tiny) edge list's nodes
                    proj = (
                        und.select(F.col("a").alias("node"))
                        .unionByName(und.select(F.col("b").alias("node")))
                        .distinct()
                        .select(
                            "node", F.col("node").alias("community")
                        )
                        .localCheckpoint()
                    )
                mapping, hist2, j_best = _louvain_local(
                    rows, max_rounds, max_levels - _level, j_best,
                    with_history,
                )
                history.extend(hist2)
                if mapping:
                    ctype = dict(proj.dtypes)["community"]
                    mdf = local_frame(
                        proj.sparkSession,
                        list(mapping.items()),
                        f"community {ctype}, _nc {ctype}",
                    )
                    proj = (
                        proj.join(F.broadcast(mdf), "community")
                        .select("node", F.col("_nc").alias("community"))
                        .localCheckpoint()
                    )
            break
        if not two_m:
            break
        if m_total is None:
            m_total = int(two_m) // 2
        # degrees: k_i = sum_{j!=i} w_ij + 2*w_ii ; sum_i k_i = 2m.
        # deg stays LAZY — the assignment checkpoint below is the one
        # materialization (it carries k, so the per-round proposal and
        # stats jobs never join deg again: two fewer join stages per
        # round, and the old separate deg checkpoint job is gone)
        nonself = und.filter(F.col("a") != F.col("b"))
        selfw = und.filter(F.col("a") == F.col("b")).select(
            F.col("a").alias("node"), (2 * F.col("w")).alias("kw")
        )
        deg = (
            nonself.select(F.col("a").alias("node"), F.col("w").alias("kw"))
            .unionByName(
                nonself.select(F.col("b").alias("node"), F.col("w").alias("kw"))
            )
            .unionByName(selfw)
            .groupBy("node")
            .agg(F.sum("kw").cast("long").alias("k"))
        )
        assign = deg.select("node", F.col("node").alias("comm"), "k")
        assign = assign.localCheckpoint()

        # Per-community stats (c, ec, dc) of an assignment: intra
        # weight (incl. self-loops) and total member degree from ONE
        # community-keyed shuffle. The round's J-gate and the NEXT
        # round's ctot both read this single aggregate — previously
        # each assignment was aggregated twice (once by the objective
        # job, once as the ctot subchain inside the next proposal
        # job), at one extra Spark job + one duplicate agg chain per
        # accepted round (r6 verdict perf item: fuse proposal +
        # objective into one job per round).
        def _comm_stats(a):
            return _comm_stats_frame(und, a, deg)

        def _j_of(stats) -> int:
            return _j_from_stats(stats, int(two_m))

        # level >= 1 skips the J read: contraction preserves the
        # objective by construction, so j_best carries over and
        # stats_cur stays lazy (round 1's single job computes it,
        # exactly where the old ctot subchain ran)
        stats_cur = _comm_stats(assign)
        if j_best is None:
            stats_cur = stats_cur.localCheckpoint()
            j_best = _j_of(stats_cur)
            if with_history:
                history.append(j_best / (float(two_m) * two_m))

        moved_any = False
        # accept-path caches whose unpersist is DEFERRED until the next
        # materialization has consumed them (the combo checkpoint below
        # is lazy — see its comment)
        pending_unpersist: list = []

        def _flush_pending():
            for _c in pending_unpersist:
                _c.unpersist()
            pending_unpersist.clear()

        # alternating move direction: even rounds may only move a node
        # into a SMALLER community id, odd rounds into a larger one.
        # Kills the symmetric-swap deadlock (i proposes j's community
        # while j proposes i's — the batch cancels out and fails the
        # J-gate) without randomized sweep order: within a round no
        # two nodes can trade places, and alternation keeps every move
        # reachable. Stop after both directions stall back-to-back.
        stall = 0
        direction = 0
        # The bidirectional edge list is ROUND-INVARIANT (only the
        # assignment changes between rounds): materialize it once per
        # level, hash-partitioned on the probe key j, so each round's
        # neighbor join reuses this partitioning instead of
        # re-exchanging the 2E-row frame every round (r7 continuity
        # note #1 — the per-round cost was AQE scheduling over
        # exchanges whose inputs never changed).
        bidir = (
            nonself.select(F.col("a").alias("i"), F.col("b").alias("j"), "w")
            .unionByName(
                nonself.select(
                    F.col("b").alias("i"), F.col("a").alias("j"), "w"
                )
            )
            .repartition(partitions, "j")
            .localCheckpoint()
        )
        for _round in range(max_rounds):
            ctot = stats_cur.select(
                F.col("c").alias("cand"), F.col("dc").alias("tot")
            )
            # one fused aggregate: neighbor-community contributions and
            # the always-present stay-home candidate (kic = 0) union
            # BEFORE the single (node, cand) groupBy — previously two
            # back-to-back aggregations (groupBy(i, cand) then a second
            # groupBy(node, cand) over its output) cost an extra full
            # exchange per round for the same associative sum
            nbr = (
                bidir.join(
                    assign.select(
                        F.col("node").alias("j"), F.col("comm").alias("cand")
                    ),
                    "j",
                )
                .select(F.col("i").alias("node"), "cand", "w")
            )
            # one node-keyed exchange serves the WHOLE proposal chain:
            # HashPartitioning(node) satisfies the (node, cand)
            # aggregate's clustering, the assign join key, and the
            # final per-node argmax — without it each of those plans
            # its own exchange wave under AQE. (Cost: the contribution
            # rows shuffle pre-aggregation; per node that's its
            # candidate multiplicity — bounded by degree, the same
            # stream the neighbor join already carried.)
            cand = nbr.unionByName(
                assign.select(
                    "node", F.col("comm").alias("cand"),
                    F.lit(0).cast("long").alias("w"),
                )
            ).repartition(partitions, "node").groupBy("node", "cand").agg(
                F.sum("w").cast("long").alias("kic")
            )
            scored = (
                cand.join(assign, "node")
                .join(ctot, "cand", "left")
                .select(
                    "node",
                    "k",
                    F.col("cand"),
                    F.col("comm").alias("cur"),
                    (
                        F.lit(int(two_m)).cast(DEC)
                        * F.col("kic").cast(DEC)
                        - F.col("k").cast(DEC)
                        * (
                            F.coalesce(F.col("tot"), F.lit(0)).cast(DEC)
                            - F.when(
                                F.col("cand") == F.col("comm"), F.col("k")
                            ).otherwise(F.lit(0)).cast(DEC)
                        )
                    ).alias("score"),
                )
            )
            # direction gate on CANDIDATES (not on the chosen move), so
            # a node with improving options on both sides still moves
            # on either round parity
            allowed = (
                F.col("cand") < F.col("cur")
                if direction == 0
                else F.col("cand") > F.col("cur")
            )
            scored = scored.filter((F.col("cand") == F.col("cur")) | allowed)
            # argmax score, ties to the SMALLER community id (max_by on
            # (score, -cand) — one hash aggregate, no window)
            best = scored.groupBy("node").agg(
                F.max(
                    F.struct(
                        F.col("score"), (-F.col("cand")).alias("nc")
                    )
                ).alias("b"),
                F.max(
                    F.when(F.col("cand") == F.col("cur"), F.col("score"))
                ).alias("stay"),
                F.first("cur").alias("cur"),
                F.first("k").alias("k"),
            ).select(
                "node",
                (-F.col("b.nc")).alias("target"),
                (
                    (F.col("b.score") > F.col("stay"))
                    & (-F.col("b.nc") != F.col("cur"))
                ).alias("do_move"),
                "cur",
                "k",
            )
            proposed = best.select(
                "node",
                F.when(F.col("do_move"), F.col("target"))
                .otherwise(F.col("cur"))
                .alias("comm"),
                "k",
            )
            # One HEAVY job per round (the J-gate first()): it
            # materializes BOTH caches — the proposal and its
            # per-community stats — computing the proposal chain once;
            # the stats serve the gate now and, on accept, become the
            # next round's ctot, so the old per-round duplicate (a
            # separate objective job plus a ctot agg chain inside the
            # NEXT proposal job) is gone. The accept-path checkpoint
            # is a THIN union of the two materialized caches.
            #
            # The thin shape is load-bearing, not cosmetic: Spark
            # preserves the origin plan's ESTIMATED stats on a
            # checkpoint, and the size estimator multiplies join
            # children. Checkpointing any plan with joins ABOVE
            # un-materialized caches snapshots a product of estimates,
            # and because each round's plan joins the previous
            # checkpoint k>1 times the estimate feeds back as
            # est(r+1) ~ est(r)^k — the BigInteger size estimate
            # doubles in BIT LENGTH per round until Catalyst spends
            # 40s/round inside BigInteger.multiply
            # (SizeInBytesOnlyStatsPlanVisitor, observed via jstack).
            # A checkpoint whose plan is just Project/Union over
            # ALREADY-MATERIALIZED InMemoryRelations snapshots their
            # ACTUAL byte sizes instead: real, small, no feedback, and
            # broadcast planning downstream keeps working.
            proposed = proposed.persist()
            stats_p = _comm_stats(proposed).persist()
            j_new = _j_of(stats_p)
            # the gate job above materialized every lazy checkpoint the
            # proposal chain read, so the PREVIOUS round's caches are
            # now consumable-free
            _flush_pending()
            if j_new <= j_best:
                # no moves, or simultaneous moves fought each other —
                # the objective is exact, so discard the round and try
                # the other sweep direction; two consecutive dead
                # rounds end the level
                proposed.unpersist()
                stats_p.unpersist()
                stall += 1
                direction ^= 1
                if stall >= 2:
                    break
                continue
            ntype = dict(proposed.dtypes)["node"]
            ctype = dict(proposed.dtypes)["comm"]
            combo = (
                proposed.select(
                    "node",
                    "comm",
                    "k",
                    F.lit(None).cast("long").alias("c"),
                    F.lit(None).cast(DEC).alias("ec"),
                    F.lit(None).cast("long").alias("dc"),
                )
                .unionByName(
                    stats_p.select(
                        F.lit(None).cast(ntype).alias("node"),
                        F.lit(None).cast(ctype).alias("comm"),
                        F.lit(None).cast("long").alias("k"),
                        "c",
                        "ec",
                        "dc",
                    )
                )
                # the union concatenates BOTH caches' partitions
                # (observed 32 at 8 shuffle partitions), and every
                # per-round broadcast build / scan downstream re-pays
                # one task launch per partition over ~|V|+|C| tiny rows
                # — measured 0.25s per broadcast build at sf0.1.
                # coalesce is narrow (no shuffle) and caps that. The
                # checkpoint is LAZY so its materialization rides the
                # next round's gate job (or the level-end projection)
                # instead of a dedicated per-round job; the thin-shape
                # stats rationale above is preserved because the caches
                # it snapshots were materialized by this round's gate.
                .coalesce(4)
                .localCheckpoint(eager=False)
            )
            pending_unpersist.extend((proposed, stats_p))
            assign = combo.filter(F.col("c").isNull()).select(
                "node", "comm", "k"
            )
            stats_cur = combo.filter(F.col("c").isNotNull()).select(
                "c", "ec", "dc"
            )
            j_best = j_new
            moved_any = True
            stall = 0
            direction ^= 1
            if with_history:
                history.append(j_new / (float(two_m) * two_m))

        if refine and moved_any:
            # Leiden-style step at EVERY level boundary: split
            # internally disconnected communities before contraction.
            # By induction supernodes are internally connected, so
            # coarse-graph CC splits equal fine-graph splits; each
            # split raises J (see refine_communities), re-measured so
            # the history stays honest.
            assign = (
                refine_communities(
                    und,
                    assign,
                    src="a",
                    dst="b",
                    node_col="node",
                    community_col="comm",
                )
                .repartition(partitions, "node")
                .localCheckpoint()
            )
            j_ref = _louvain_objective(und, assign, int(two_m), deg)
            if j_ref != j_best:
                j_best = j_ref
                if with_history:
                    history.append(j_ref / (float(two_m) * two_m))

        # project original nodes through this level's assignment. At
        # level 0 the projection IS the assignment (every original
        # node is a level-0 node), so the join — and the old eager
        # identity-projection checkpoint it joined against — vanishes
        if proj is None:
            proj = assign.select(
                "node", F.col("comm").alias("community")
            ).localCheckpoint()
        else:
            proj = (
                proj.join(
                    assign.select(
                        F.col("node").alias("community"),
                        F.col("comm").alias("_nc"),
                    ),
                    "community",
                )
                .select("node", F.col("_nc").alias("community"))
                .localCheckpoint()
            )
        # the eager projection checkpoint above materialized the last
        # accepted round's lazy combo; its caches are now droppable
        _flush_pending()
        if not moved_any:
            break
        # contract: communities become nodes, intra weight becomes a
        # self-loop, so Q is preserved across the level boundary
        ca = assign.select(F.col("node").alias("a"), F.col("comm").alias("_cca"))
        cb = assign.select(F.col("node").alias("b"), F.col("comm").alias("_ccb"))
        und = (
            und.join(ca, "a").join(cb, "b")
            .select(
                F.least(F.col("_cca"), F.col("_ccb")).alias("a"),
                F.greatest(F.col("_cca"), F.col("_ccb")).alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").cast("long").alias("w"))
            .repartition(partitions, "a")
            .localCheckpoint()
        )

    if proj is None:
        # degenerate input (empty/self-loop-only graph): identity
        # projection over whatever nodes the edge list has, matching
        # the old eager initializer's behavior
        proj = (
            und.select(F.col("a").alias("node"))
            .unionByName(und.select(F.col("b").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("community"))
        )
    out = proj.select("node", "community")
    if refine:
        # final pass on the ORIGINAL graph: covers the last level's
        # local moves (in-loop refinement runs before contraction, so
        # a level that converged without contracting is re-checked)
        out = refine_communities(
            base_und, out, src="a", dst="b", partitions=partitions
        )
    if with_history:
        # degenerate input (no surviving non-self edges -> level loop
        # broke before the first objective): Q of the empty graph is
        # 0 by convention, so callers indexing history[-1] get a clean
        # scalar instead of an IndexError
        if not history:
            history.append(0.0)
        return out, history
    return out


def refine_communities(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    partitions: int | None = None,
) -> DataFrame:
    """Leiden-style connectivity refinement (Traag et al. 2019's fix
    for Louvain's one guarantee gap): split every INTERNALLY
    DISCONNECTED community into its connected parts. Splitting a
    disconnected community {A, B} (no intra edges between A and B)
    changes Q by +2*d_A*d_B/(4m^2) > 0, so refinement never lowers
    modularity and connected communities pass through untouched.

    Shape: filter edges to intra-community pairs (two broadcast-able
    assignment joins), one :func:`connected_components` run over that
    (strictly smaller) edge set, nodes isolated inside their community
    become singletons. New labels keep the min-member-node-id
    convention, so output stays deterministic."""
    partitions = _default_partitions(edges, partitions)
    ca = communities.select(
        F.col(node_col).alias("a"), F.col(community_col).alias("_ra")
    )
    cb = communities.select(
        F.col(node_col).alias("b"), F.col(community_col).alias("_rb")
    )
    intra = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .join(ca, "a")
        .join(cb, "b")
        .filter(F.col("_ra") == F.col("_rb"))
        .select("a", "b")
    )
    cc = connected_components(
        intra, src="a", dst="b", shortcut=True, partitions=partitions
    ).select(F.col("node"), F.col("cluster").alias("_cc"))
    return (
        communities.select(F.col(node_col).alias("node"))
        .join(cc, "node", "left")
        # a node with no intra-community edge is its own component
        .select(
            "node",
            F.coalesce(F.col("_cc"), F.col("node")).alias(community_col),
        )
    )


def _comm_stats_frame(
    und: DataFrame, assign: DataFrame, deg: DataFrame
) -> DataFrame:
    """Per-community ``(c, ec, dc)`` for an assignment: intra-community
    edge weight (incl. self-loops) and total member degree, from ONE
    community-keyed shuffle. The SINGLE source of truth for every J
    evaluation (the louvain round gate, the level-boundary refine
    check, and the next round's ctot all read this shape) — keeping
    one implementation is what guarantees those comparisons stay
    bit-consistent."""
    DEC = "decimal(38,0)"
    ca = assign.select(F.col("node").alias("a"), F.col("comm").alias("_ja"))
    cb = assign.select(F.col("node").alias("b"), F.col("comm").alias("_jb"))
    ec_rows = (
        und.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("_ja") == F.col("_jb"))
        .select(
            F.col("_ja").alias("c"),
            F.col("w").cast("long").alias("e"),
            F.lit(0).cast("long").alias("d"),
        )
    )
    # an assignment that already carries the member degree (the louvain
    # round loop threads k through the proposal) skips the deg join —
    # one fewer AQE stage per J evaluation
    if "k" in assign.columns:
        dc_rows = assign.select(
            F.col("comm").alias("c"),
            F.lit(0).cast("long").alias("e"),
            F.col("k").alias("d"),
        )
    else:
        dc_rows = assign.join(deg, "node").select(
            F.col("comm").alias("c"),
            F.lit(0).cast("long").alias("e"),
            F.col("k").alias("d"),
        )
    return (
        ec_rows.unionByName(dc_rows)
        .groupBy("c")
        .agg(
            F.sum("e").cast(DEC).alias("ec"),
            F.sum("d").cast("long").alias("dc"),
        )
    )


def _j_from_stats(stats: DataFrame, two_m: int) -> int:
    """Exact integer Louvain objective J = 4m*sum_c(e_c) - sum_c(d_c^2)
    folded from a :func:`_comm_stats_frame` result. Q = J / (2m)^2.
    Integer end-to-end (decimal(38,0) sums), so comparisons are
    partition-invariant."""
    DEC = "decimal(38,0)"
    row = stats.agg(
        F.sum("ec").alias("se"),
        F.sum(F.col("dc").cast(DEC) * F.col("dc").cast(DEC)).alias("sd"),
    ).first()
    se = int(row["se"]) if row["se"] is not None else 0
    sd = int(row["sd"]) if row["sd"] is not None else 0
    return 2 * two_m * se - sd


def _louvain_objective(
    und: DataFrame, assign: DataFrame, two_m: int, deg: DataFrame
) -> int:
    """J of an assignment — one job. Thin composition of the shared
    stats/fold helpers so the refine path's ``j_ref`` is produced by
    the EXACT chain the round gate used for ``j_best``."""
    return _j_from_stats(_comm_stats_frame(und, assign, deg), int(two_m))


# V * 2E directed-traversal budget for the betweenness local finish:
# exact Brandes is O(V*E) work wherever it runs, so the budget caps
# the driver's share of it, not just memory
_BETWEENNESS_LOCAL_WORK = 200_000_000

# sigma overflow guard band (ADVICE r9 low #1): int64 sigma wraps
# silently under np.add.at, so every drained BFS scans its final
# sigma array and fails loudly if any value left [0, 2^50]. The band
# is AIRTIGHT under the work budget, not heuristic: a node's sigma is
# finalized at its BFS level and never rewritten, so any predecessor
# above the band is itself caught by the scan, a sum landing in
# [2^63, 2^64) wraps NEGATIVE and is caught, and a wrap that lands
# back inside the band needs one level's sum >= 2^64 from
# all-in-band predecessors — >= 2^64/2^50 = 16384 of them, i.e.
# V > 16384 AND E >= 16384, and V*2E >= 5.4e8 >
# _BETWEENNESS_LOCAL_WORK, so such a graph never reaches the local
# finish. True counts above 2^50 (adversarial layered graphs) also
# raise: fail-loudly over-conservatism, mirroring max_depth.
_SIGMA_SAFE = 1 << 50


def _csr_expand(indptr, indices, f):
    """All directed edges out of frontier ``f`` in a CSR adjacency:
    returns (srcs, dsts) aligned arrays — vectorized (no per-node
    Python loop)."""
    import numpy as np

    cnt = indptr[f + 1] - indptr[f]
    total = int(cnt.sum())
    srcs = np.repeat(f, cnt)
    starts = np.repeat(indptr[f], cnt)
    offs = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(cnt) - cnt, cnt
    )
    return srcs, indices[starts + offs]


def _betweenness_local(pdf, max_depth: int):
    """Driver-local EXACT Brandes over a collected canonical (a, b)
    edge list: every node is a source; per source one vectorized BFS
    (integer sigma path counts — exact) and one backward dependency
    sweep. Path counts and level sets are bit-identical to the
    distributed simultaneous-BFS by construction; the float delta
    accumulation differs from the distributed shuffle only in
    ADDITION ORDER (~1e-15 relative), which callers' 1e-6
    quantization grain absorbs — the same argument the distributed
    path's partition/batch-split invariance test already rests on.
    Enforces the same fail-loudly ``max_depth`` drain guard. Returns
    ``(ids, bc)`` numpy arrays (directed-pair-sum convention)."""
    import numpy as np

    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n = len(ids)
    # directed adjacency, CSR
    da = np.concatenate([ai, bi])
    db = np.concatenate([bi, ai])
    order = np.argsort(da, kind="stable")
    da, db = da[order], db[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(da, minlength=n), out=indptr[1:])
    bc = np.zeros(n, dtype=np.float64)
    for s in range(n):
        dist = np.full(n, -1, dtype=np.int32)
        sigma = np.zeros(n, dtype=np.int64)
        dist[s] = 0
        sigma[s] = 1
        levels = [np.array([s], dtype=np.int64)]
        d = 0
        while True:
            u, w = _csr_expand(indptr, db, levels[-1])
            new_nodes = np.unique(w[dist[w] < 0])
            if new_nodes.size == 0:
                break
            d += 1
            if d > max_depth:
                raise RuntimeError(
                    f"betweenness_exact (local finish): BFS not drained "
                    f"at max_depth={max_depth} (graph eccentricity "
                    "exceeds it); raise max_depth — truncation would "
                    "bias every bc value, not just the tail"
                )
            dist[new_nodes] = d
            m = dist[w] == d
            np.add.at(sigma, w[m], sigma[u[m]])
            levels.append(new_nodes)
        # post-BFS overflow scan (ADVICE r9 low #1) — see _SIGMA_SAFE
        # for why this single O(V) pass cannot be evaded within the
        # work budget
        if int(sigma.max()) > _SIGMA_SAFE or int(sigma.min()) < 0:
            raise RuntimeError(
                "betweenness_exact (local finish): shortest-path "
                f"counts from source {int(ids[s])} left the int64-safe "
                f"guard band (max {int(sigma.max())}); sigma would wrap "
                "silently — the graph is too path-dense for exact "
                "int64 Brandes"
            )
        delta = np.zeros(n, dtype=np.float64)
        for d in range(len(levels) - 1, 0, -1):
            wl, vl = _csr_expand(indptr, db, levels[d])
            m = dist[vl] == d - 1
            wl, vl = wl[m], vl[m]
            np.add.at(
                delta, vl,
                sigma[vl].astype(np.float64) / sigma[wl] * (1.0 + delta[wl]),
            )
        delta[s] = 0.0
        bc += delta
    return ids, bc


def betweenness_exact(
    edges: DataFrame,
    batch_size: int = 64,
    max_depth: int = 20,
    partitions: int | None = None,
    local_finish_edges: int = 0,
) -> DataFrame:
    """EXACT Brandes betweenness via pivot batching: every node is a
    source, processed through :func:`betweenness_approx`'s
    simultaneous-BFS machinery ``batch_size`` pivots at a time, with
    each batch's partial dependency sums accumulated into a running
    (node, bc) frame. Peak state drops from the all-at-once O(V^2)
    (src, node) rows to O(batch_size * V) per batch — the pivot-
    batching memory/latency trade (more driver-coordinated rounds,
    bounded shuffle width).

    Scope note, stated honestly: exact betweenness is O(V*E) WORK
    regardless of batching, and the pivot list streams to the driver
    (8 bytes/node) — this targets the mid-size graphs where exact
    values are feasible at all (V up to ~10^6: an 8 MB driver list,
    V/batch_size batches). For web-scale graphs use the content-hash
    sampling of :func:`betweenness_approx`; no algorithm makes exact
    betweenness cheap there.

    Returns ``(node, bc)`` in the same directed-pair-sum convention as
    :func:`betweenness_approx` (halve for undirected).

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`kcore` / :func:`hyperball` precedent — pivot batching
    is the iterative-job-overhead profile: ~2 jobs per BFS level per
    direction): when the canonical edge list fits the budget, ids are
    integral, AND the V*2E traversal work fits
    ``_BETWEENNESS_LOCAL_WORK`` (both checked with cheap distributed
    aggregates BEFORE any collect — the r8 decline-without-collecting
    rule), the whole Brandes run happens driver-side in vectorized
    numpy (:func:`_betweenness_local`). Sigma counts and level sets
    are exact integers either way; float delta sums differ only in
    addition order (~1e-15), absorbed by callers' quantization grain
    (equality pinned by tests/test_graph.py against the distributed
    output at the gate's 1e-6 grain and exactly on integral-valued
    fixtures). Oversized graphs always stay distributed."""
    partitions = _default_partitions(edges, partitions)
    if batch_size <= 0:
        raise ValueError("betweenness_exact: batch_size must be positive")
    if local_finish_edges > 0 and _integral_type(
        edges.schema["src"].dataType
    ):
        und = (
            edges.select(
                F.least(F.col("src"), F.col("dst")).alias("a"),
                F.greatest(F.col("src"), F.col("dst")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        n_edges = und.count()
        if 0 < n_edges <= local_finish_edges:
            n_nodes = (
                und.select(F.col("a").alias("n"))
                .unionByName(und.select(F.col("b").alias("n")))
                .distinct()
                .count()
            )
            if n_nodes * 2 * n_edges <= _BETWEENNESS_LOCAL_WORK:
                import pandas as pd

                node_t = und.schema["a"].dataType.simpleString()
                ids, bc = _betweenness_local(und.toPandas(), max_depth)
                return edges.sparkSession.createDataFrame(
                    pd.DataFrame({"node": ids, "bc": bc}),
                    schema=f"node {node_t}, bc double",
                )
    nodes = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.col("a").alias("node"))
        .distinct()
    )
    ids = [r["node"] for r in nodes.orderBy("node").collect()]
    if not ids:
        raise ValueError("betweenness_exact: empty graph")
    n = len(ids)
    acc: DataFrame | None = None
    for i in range(0, n, batch_size):
        batch = ids[i : i + batch_size]
        part = betweenness_approx(
            edges,
            sources=batch,
            max_depth=max_depth,
            partitions=partitions,
        )
        # betweenness_approx scales by n/|sources|; undo it to get the
        # batch's raw dependency sum
        unscale = float(len(batch)) / float(n)
        part = part.select(
            "node", (F.col("bc") * F.lit(unscale)).alias("bc")
        )
        if acc is None:
            acc = part
        else:
            acc = (
                acc.unionByName(part)
                .groupBy("node")
                .agg(F.sum("bc").alias("bc"))
            )
        # checkpoint per batch: keeps the accumulator plan O(1) deep
        acc = acc.repartition(partitions, "node").localCheckpoint()
    return acc


def _hyperball_local(pdf, rounds: int, p: int):
    """Driver-local HyperBall register merges over a collected
    DIRECTED (a, b) edge list (both orientations present): the same
    md5-derived initial registers (functions.hashing.hash64) and the
    same synchronous register-max merge schedule as the distributed
    loop, in pure INTEGER numpy — so the per-round register SETS are
    identical by construction, and the caller re-derives the NF
    estimates from them with the very same Spark expressions
    (sketch.hll_estimate_by), leaving no cross-engine float surface
    at all. Returns a pandas frame of PRESENT registers
    ``(r, node, bucket, m)`` for r = 0..rounds; once the register sum
    plateaus, later rounds repeat the converged registers — exactly
    the distributed loop's early-stop semantics (merging a fixpoint
    is the identity)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from certa_spark.operators.sketch import _HASH_BITS

    wbits = _HASH_BITS - p
    mask = (1 << wbits) - 1
    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n = len(ids)
    m_buckets = 1 << p
    regs = np.zeros((n, m_buckets), dtype=np.uint8)
    for i, node in enumerate(ids):
        # hash64: first 15 md5 hex chars of the node's string form —
        # bit-identical to the distributed hll_registers_by registers
        h = int(hashlib.md5(str(int(node)).encode()).hexdigest()[:15], 16)
        w = h & mask
        rho = (wbits + 1) if w == 0 else (wbits + 1 - w.bit_length())
        regs[i, h >> wbits] = rho
    frames = []

    def _emit(r: int, mat) -> None:
        node_idx, bucket = np.nonzero(mat)
        frames.append(
            pd.DataFrame({
                "r": np.full(len(node_idx), r, dtype=np.int32),
                "node": ids[node_idx],
                "bucket": bucket.astype(np.int64),
                "m": mat[node_idx, bucket].astype(np.int64),
            })
        )

    _emit(0, regs)
    prev_sum = int(regs.sum(dtype=np.int64))
    converged = False
    for r in range(1, rounds + 1):
        if not converged:
            new = regs.copy()
            # one merge round: node a takes the register max of every
            # neighbor b (np.maximum.at is unbuffered — duplicate a's
            # fold correctly)
            np.maximum.at(new, ai, regs[bi])
            regs = new
            cur = int(regs.sum(dtype=np.int64))
            if cur == prev_sum:
                converged = True
            prev_sum = cur
        _emit(r, regs)
    return pd.concat(frames, ignore_index=True)


def hyperball(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    p: int = 6,
    partitions: int | None = None,
    local_finish_edges: int = 0,
) -> DataFrame:
    """HyperBall / HyperANF (Boldi, Rosa & Vigna, WWW'11; Boldi &
    Vigna, "In-core computation of geometric centralities with
    HyperBall", 2013): the approximate NEIGHBORHOOD FUNCTION
    ``NF(r) = sum_v |ball(v, r)|`` — the published way to get distance
    distributions, effective diameter, and average distance on graphs
    far too large for all-pairs BFS. Each node carries an HLL sketch
    of its ball; one round replaces every sketch with the register-max
    of its neighbors' sketches plus its own (union of balls), so round
    r yields balls of radius r.

    Spark shape: sketches live as ``(node, bucket, m)`` REGISTER ROWS
    (<= 2^p per node), a round is one edge join + one (node, bucket)
    max-aggregate — shuffles bounded by E * 2^p register rows,
    independent of ball sizes (the whole point: exact |ball| needs
    O(V^2) state by round ~diameter). Per-round NF = per-node grouped
    HLL estimates (sketch.hll_estimate_by) rounded to 4 and summed as
    DECIMAL — order-independent, so the output is bit-reproducible by
    the DuckDB oracle (same md5-derived registers, same estimator,
    same unrolled max-merge).

    Runs exactly ``rounds`` rounds for a deterministic row count, but
    stops LAUNCHING jobs once the register sum (an exact integer that
    only grows) converges — plateau rows repeat the converged NF, as
    the math says they must. Returns ``(r, nf)`` for r = 0..rounds.

    ``local_finish_edges > 0`` opts into the bounded local-finish path
    (the :func:`kcore` / :func:`louvain` precedent — HyperBall is the
    iterative-job-overhead profile the lever targets: ~6 tiny driver
    jobs per round at fixture scale): when the DIRECTED edge list
    holds at most ``2 * local_finish_edges`` rows, node ids are
    integral, and the register matrix fits the cell budget, the
    integer register merges run driver-side in numpy
    (:func:`_hyperball_local`, same md5 registers, same synchronous
    schedule — identical register sets by construction) and ALL
    per-round NF estimates are then computed in ONE Spark job from
    those registers with the same hll_estimate_by expressions — the
    float estimator never leaves Spark, so the output is bit-identical
    (pinned by tests/test_graph.py). Oversized or non-integral graphs
    always stay on the distributed loop.
    """
    from certa_spark.operators.sketch import hll_estimate_by

    partitions = _default_partitions(edges, partitions)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    DEC = "decimal(38,4)"
    spark = edges.sparkSession
    if local_finish_edges > 0 and _integral_type(sym.schema["a"].dataType):
        n_directed = sym.count()
        # every node appears as a SOURCE in the symmetrized edge list,
        # so n_directed bounds the node count — letting the uint8
        # register-matrix cell budget (V * 2^p) be checked BEFORE any
        # collect (the r8 decline-without-collecting rule) with no
        # extra job beyond the edge-budget count itself. For DENSE
        # graphs (E >> V) that proxy overestimates V by orders of
        # magnitude and would decline register matrices that easily
        # fit (ADVICE r9 low #3): when only the cell check fails, one
        # extra small aggregate gets the exact node count before
        # declining — still before any collect.
        cells_ok = n_directed * (1 << p) <= 256_000_000
        if 0 < n_directed <= 2 * local_finish_edges and not cells_ok:
            n_nodes = sym.agg(
                F.countDistinct("a").alias("n")
            ).first()["n"]
            cells_ok = n_nodes * (1 << p) <= 256_000_000
        if 0 < n_directed <= 2 * local_finish_edges and cells_ok:
            node_t = sym.schema["a"].dataType.simpleString()
            reg_frame = spark.createDataFrame(
                _hyperball_local(sym.toPandas(), rounds, p),
                schema=f"r int, node {node_t}, bucket long, m long",
            )
            est = hll_estimate_by(reg_frame, ["r", "node"], p)
            return (
                est.groupBy("r")
                .agg(
                    F.sum(F.col("hll_estimate").cast(DEC))
                    .cast("double")
                    .alias("nf")
                )
                .select(F.col("r").cast("int").alias("r"), "nf")
                .orderBy("r")
            )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    from certa_spark.operators.sketch import hll_registers_by

    regs = (
        hll_registers_by(
            nodes.select("node", F.col("node").alias("_v")), "_v", ["node"], p
        )
        .repartition(partitions, "node")
        .localCheckpoint()
    )

    def _nf(r: DataFrame) -> float:
        est = hll_estimate_by(r, ["node"], p)
        row = est.agg(
            F.sum(F.col("hll_estimate").cast(DEC)).alias("s")
        ).first()
        return float(row["s"]) if row["s"] is not None else 0.0

    def _msum(r: DataFrame) -> int:
        row = r.agg(F.sum("m").cast("long").alias("s")).first()
        return int(row["s"]) if row["s"] is not None else 0

    out_rows = [(0, _nf(regs))]
    prev_sum = _msum(regs)
    converged = False
    for r in range(1, rounds + 1):
        if converged:
            out_rows.append((r, out_rows[-1][1]))
            continue
        nbr = (
            sym.join(
                regs.select(
                    F.col("node").alias("b"), "bucket", "m"
                ),
                "b",
            )
            .select(F.col("a").alias("node"), "bucket", "m")
        )
        regs = (
            regs.unionByName(nbr)
            .groupBy("node", "bucket")
            .agg(F.max("m").alias("m"))
            .repartition(partitions, "node")
            .localCheckpoint()
        )
        out_rows.append((r, _nf(regs)))
        cur = _msum(regs)
        if cur == prev_sum:
            converged = True
        prev_sum = cur
    spark = edges.sparkSession
    return local_frame(spark, out_rows, "r int, nf double")


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    length: int = 4,
    walks_per_node: int = 1,
    seed: int = 7,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic random-walk corpus generation (the DeepWalk /
    node2vec input pipeline, Perozzi et al. KDD'14) with the repo's
    no-RNG rule: step s of walk (start, w) moves to neighbor number
    ``hash64("seed:start:w:s") mod degree`` in the id-ordered
    adjacency — same walks under any partitioning, any cluster size,
    and bit-reproducible by a SQL oracle (md5-derived hash both
    sides). Returns exploded positions ``(start, walk, step, node)``,
    step 0..length — the sentence corpus a skip-gram trainer consumes.

    Scale shape: the ranked adjacency ``(node, rank, nbr)`` plus a
    degree table are built once (one window per node — id-ordered,
    deterministic) and checkpointed; each step is two node-keyed
    equi-joins of the walk frontier (W rows) — no per-walk Python, no
    RNG state to synchronize, walk count scales independently of the
    adjacency build."""
    from certa_spark.functions.hashing import hash64

    partitions = _default_partitions(edges, partitions)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w_rank = Window.partitionBy("a").orderBy(F.col("b").asc())
    ranked = (
        sym.select(
            F.col("a").alias("node"),
            F.row_number().over(w_rank).alias("rank"),
            F.col("b").alias("nbr"),
        )
        .repartition(partitions, "node")
        .localCheckpoint()
    )
    deg = (
        ranked.groupBy("node")
        .agg(F.max("rank").cast("long").alias("deg"))
        .repartition(partitions, "node")
        .localCheckpoint()
    )
    frontier = deg.select(F.col("node").alias("start")).crossJoin(
        F.broadcast(
            edges.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk")
            )
        )
    ).select("start", "walk", F.col("start").alias("node"))
    rows = frontier.select(
        "start", "walk", F.lit(0).cast("int").alias("step"), "node"
    )
    for s in range(1, length + 1):
        key = F.concat_ws(
            ":",
            F.col("start").cast("string"),
            F.col("walk").cast("string"),
            F.lit(str(s)),
        )
        stepped = (
            frontier.join(deg, "node")
            .select(
                "start",
                "walk",
                "node",
                (F.pmod(hash64(key, seed), F.col("deg")) + 1)
                .cast("int")
                .alias("rank"),
            )
            .join(ranked, ["node", "rank"])
            .select("start", "walk", F.col("nbr").alias("node"))
        )
        rows = rows.unionByName(
            stepped.select(
                "start", "walk", F.lit(s).cast("int").alias("step"), "node"
            )
        )
        frontier = stepped
    return rows


def harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    p: int = 6,
    top: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna
    2013 — their headline application): ``H(v) = sum_{u != v}
    1/d(u, v)``, estimated as ``sum_r (|ball(v, r)| - |ball(v, r-1)|)
    / r`` from the same per-node HLL ball sketches as
    :func:`hyperball`. The distance-weighted centrality that, unlike
    closeness, is well-defined on disconnected graphs — and computable
    at web scale where pairwise BFS is not.

    Same register-row loop (one edge join + (node, bucket) max per
    round); per-round per-node estimates (rounded to 4) are joined
    into a running centrality frame, with the delta chain summed in a
    FIXED left-to-right order so a SQL oracle can replay the exact
    float arithmetic. ``top`` keeps only the k most central nodes
    (ties to the smaller id). Returns ``(node, harmonic)`` with
    harmonic on the 1e-6 grid."""
    from certa_spark.operators.sketch import hll_estimate_by, hll_registers_by

    partitions = _default_partitions(edges, partitions)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(partitions, "a")
        .localCheckpoint()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    regs = (
        hll_registers_by(
            nodes.select("node", F.col("node").alias("_v")), "_v", ["node"], p
        )
        .repartition(partitions, "node")
        .localCheckpoint()
    )
    prev = hll_estimate_by(regs, ["node"], p).select(
        "node", F.col("hll_estimate").alias("_e")
    )
    cent = prev.select("node", F.lit(0.0).alias("h"), F.col("_e"))
    cent = cent.repartition(partitions, "node").localCheckpoint()
    for r in range(1, rounds + 1):
        nbr = sym.join(
            regs.select(F.col("node").alias("b"), "bucket", "m"), "b"
        ).select(F.col("a").alias("node"), "bucket", "m")
        regs = (
            regs.unionByName(nbr)
            .groupBy("node", "bucket")
            .agg(F.max("m").alias("m"))
            .repartition(partitions, "node")
            .localCheckpoint()
        )
        est = hll_estimate_by(regs, ["node"], p).select(
            "node", F.col("hll_estimate").alias("_er")
        )
        cent = (
            cent.join(est, "node")
            .select(
                "node",
                (
                    F.col("h")
                    + (F.col("_er") - F.col("_e")) / F.lit(float(r))
                ).alias("h"),
                F.col("_er").alias("_e"),
            )
            .repartition(partitions, "node")
            .localCheckpoint()
        )
    out = cent.select(
        "node",
        (F.floor(F.col("h") * 1e6 + F.lit(0.5)) / 1e6).alias("harmonic"),
    )
    if top is not None:
        w = Window.orderBy(F.col("harmonic").desc(), F.col("node").asc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top)
            .drop("_rn")
        )
    return out
