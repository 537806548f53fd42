"""Connected components: components, chains, singletons, convergence."""

from certa_spark.operators.graph import assign_clusters, connected_components


def _clusters(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["cluster"] for r in connected_components(df, **kw).collect()
    }


def test_two_components(spark):
    got = _clusters(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_diameter(spark):
    # a path graph needs diameter rounds of propagation — exercises the
    # iteration + convergence logic, not just one-hop neighborhoods
    got = _clusters(spark, [(i, i + 1) for i in range(1, 8)])
    assert set(got.values()) == {1} and len(got) == 8


def test_direction_irrelevant(spark):
    assert _clusters(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_assign_clusters_includes_singletons(spark):
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 99)], "doc_id long")
    edges = spark.createDataFrame([(2, 3)], "src long, dst long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in assign_clusters(nodes, edges, "doc_id").collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 99: 99}


def test_pagerank_symmetric_pair_and_star(spark):
    from certa_spark.operators.graph import pagerank

    # two isolated symmetric pairs -> uniform ranks (fixpoint of init)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], ["src", "dst"]
    )
    r = {row["node"]: row["r"] for row in pagerank(edges, iterations=4).collect()}
    assert all(abs(v - 0.25) < 1e-9 for v in r.values())

    # directed star a->hub from 3 leaves: hub accumulates, leaves keep
    # teleport share only; total mass is conserved up to dangling loss
    star = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], ["src", "dst"])
    ranks = {row["node"]: row["r"] for row in pagerank(star, iterations=2).collect()}
    assert ranks[9] > ranks[1] == ranks[2] == ranks[3]
    assert abs(ranks[1] - (1 - 0.85) / 4) < 1e-9


def _decimal_pagerank(edges, iterations, weight=None, seeds=None,
                      dangling=False, damping=0.85):
    """The per-edge DECIMAL formula the PageRank loop was first written
    with, as the reference for its exact long-unit sums: every
    contribution ``round(r * w / sum_out w, 12)`` is cast to
    DECIMAL(38,18), summed per target and cast back to double."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    ed = edges.select(
        F.col("src").alias("s"), F.col("dst").alias("t"), w.alias("_w")
    ).withColumn("_wsum", F.sum("_w").over(Window.partitionBy("s")))
    nodes = (
        ed.select(F.col("s").alias("node"))
        .union(ed.select(F.col("t").alias("node"))).distinct()
    )
    inv_n = 1.0 / nodes.count()
    no_in = nodes.join(ed.select(F.col("t").alias("node")), "node", "left_anti")
    sinks = nodes.join(ed.select(F.col("s").alias("node")), "node", "left_anti")
    if seeds:
        inv_s = 1.0 / len(seeds)
        tele = F.when(F.col("node").isin(seeds), (1.0 - damping) * inv_s)
        tele = tele.otherwise(0.0)
        r0 = F.when(F.col("node").isin(seeds), inv_s).otherwise(0.0)
    else:
        tele, r0 = F.lit(1.0 - damping) * F.lit(inv_n), F.lit(inv_n)
    ranks = nodes.select("node", r0.alias("r")).localCheckpoint()
    for _ in range(iterations):
        contrib = F.round(F.col("r") * F.col("_w") / F.col("_wsum"), 12)
        inflow = (
            ed.join(ranks, ed.s == ranks.node)
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum(contrib.cast("decimal(38,18)")).cast("double").alias("_in"))
        )
        if dangling:
            lost = ranks.join(sinks, "node", "left_semi").agg(
                F.coalesce(
                    F.sum(F.col("r").cast("decimal(38,18)")).cast("double"),
                    F.lit(0.0),
                )
            ).first()[0]
            spread = F.lit(lost) * F.lit(inv_n)
            ranks = inflow.select(
                "node",
                F.round(tele + damping * (F.col("_in") + spread), 12).alias("r"),
            ).union(
                no_in.select("node", F.round(tele + damping * spread, 12))
            )
        else:
            ranks = inflow.select(
                "node", F.round(tele + damping * F.col("_in"), 12).alias("r")
            ).union(no_in.select("node", F.round(tele, 12)))
        ranks = ranks.localCheckpoint()
    return dict(ranks.collect())


def test_pagerank_unit_sums_match_decimal_sums(spark):
    """Every PageRank variant sums its contributions as exact long counts
    of 1e-12 units; the ranks must equal, bit for bit, the per-edge
    DECIMAL(38,18) sums they replace. The seeded graph has sinks, nodes
    without in-edges, hubs with hundreds of in-edges (long exact sums)
    and integer weights."""
    import random

    from pyspark.sql import functions as F

    from certa_spark.operators.graph import (
        pagerank,
        pagerank_dangling,
        pagerank_personalized,
        pagerank_weighted,
    )

    rng = random.Random(20)
    n = 400
    pairs = {(rng.randrange(n - 20), rng.randrange(20, n)) for _ in range(2500)}
    pairs |= {(u, h) for h in (20, 21, 22) for u in rng.sample(range(n - 20), 300)}
    pairs = {(a, b) for a, b in pairs if a != b}
    rows = [(a, b, rng.randint(1, 9)) for a, b in sorted(pairs)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    und = {(a, b) for a, b, _ in rows} | {(b, a) for a, b, _ in rows}
    sym = spark.createDataFrame(sorted(und), "src long, dst long")
    sym3 = sym.withColumn("w", F.lit(3))
    seeds = [0, 5, 21, 377]
    deg = sym.join(
        sym.groupBy(F.col("src").alias("k")).agg(F.count("*").alias("deg")),
        F.col("src") == F.col("k"),
    ).select("src", "dst", "deg").localCheckpoint()

    cases = [
        (pagerank(edges, iterations=3), {}, edges),
        (pagerank(sym, iterations=3, symmetric=True), {}, sym),
        (pagerank_dangling(edges, iterations=3), {"dangling": True}, edges),
        (pagerank_weighted(edges, weight="w", iterations=3), {"weight": "w"}, edges),
        (pagerank_weighted(sym3, weight="w", iterations=3, symmetric=True),
         {"weight": "w"}, sym3),
        (pagerank_personalized(edges, seeds, iterations=3), {"seeds": seeds}, edges),
        (pagerank_personalized(sym, seeds, iterations=3, symmetric=True),
         {"seeds": seeds}, sym),
        (pagerank_personalized(deg, seeds, iterations=3, symmetric=True,
                               degree="deg"), {"seeds": seeds}, sym),
    ]
    for got, kw, graph in cases:
        want = _decimal_pagerank(graph, 3, **kw)
        assert dict(got.collect()) == want, kw


def test_pagerank_job_budget(spark):
    """A symmetric ``pagerank(iterations=3)`` launches 13 Spark jobs: the
    edge checkpoint (2), the degree table whose checkpoint also counts
    the nodes (2), per iteration one broadcast of the source-side
    contributions and one edge stage, and the broadcast of the degree
    table the ranks join back. The per-edge DECIMAL loop it replaced
    launched 14: its window degree build, node list and node count ran
    apart."""
    from tests.test_explainer import _jobs_of

    from certa_spark.operators.graph import pagerank

    pairs = {(i, (7 * i + k) % 60) for i in range(60) for k in (1, 2, 3)}
    pairs = {(a, b) for a, b in pairs if a != b}
    edges = spark.createDataFrame(
        sorted(pairs | {(b, a) for a, b in pairs}), "src long, dst long"
    )
    pagerank(edges, iterations=3, symmetric=True).collect()
    n_jobs, ranks = _jobs_of(
        spark, "pagerank-job-budget",
        lambda: pagerank(edges, iterations=3, symmetric=True).collect(),
    )
    assert len(ranks) == 60
    assert n_jobs <= 13, n_jobs


def test_pagerank_symmetric_sink_raises(spark):
    """``symmetric=True`` takes the node list from the sources, so a
    target with no out-edges (a cycle feeding a sink) would be left out
    of N: the loop refuses it instead of mis-ranking, for one iteration
    or many."""
    import pytest

    from certa_spark.operators.graph import pagerank, pagerank_weighted

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 1), (3, 1, 1), (3, 4, 5)], "src long, dst long, w long"
    )
    runs = [lambda its: pagerank(edges, iterations=its, symmetric=True),
            lambda its: pagerank_weighted(edges, weight="w", iterations=its,
                                          symmetric=True)]
    for run in runs:
        for its in (1, 2, 3):
            with pytest.raises(Exception, match="node 4 has in-edges and no out-edges"):
                run(its).collect()
    assert len(pagerank(edges, iterations=3).collect()) == 4


def test_cooccurrence_pairs_mega_key_matches_plain(spark):
    """Property: the chunked pre-split path (keys > chunk items) emits
    exactly the plain quadratic pair set — one synthetic hot key with
    150 items (crossing several 16-item chunks) plus normal keys."""
    from itertools import combinations

    from certa_spark.operators.graph import cooccurrence_pairs

    rows = [(1, i * 7 % 1000) for i in range(150)]  # hot key, 150 items
    rows += [(2, x) for x in (5, 9)] + [(3, x) for x in (9, 5, 77)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        (r["pa"], r["pb"])
        for r in cooccurrence_pairs(df, "k", "v", chunk=16).collect()
    }
    want = set()
    for key in (1, 2, 3):
        items = sorted({v for k, v in rows if k == key})
        want |= set(combinations(items, 2))
    assert got == want


def test_pagerank_dangling_conserves_mass(spark):
    from certa_spark.operators.graph import pagerank, pagerank_dangling

    # star a->hub: hub is dangling (no out-edges). Plain pagerank leaks
    # the hub's mass; the corrected variant redistributes it, so total
    # mass stays ~1 every iteration.
    star = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], ["src", "dst"])
    plain = sum(r["r"] for r in pagerank(star, iterations=3).collect())
    fixed = sum(r["r"] for r in pagerank_dangling(star, iterations=3).collect())
    assert plain < 0.9  # sink leaks
    assert abs(fixed - 1.0) < 1e-6
    # no-sink graph: correction is a no-op (lost == 0)
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    a = {r["node"]: r["r"] for r in pagerank(cyc, iterations=3).collect()}
    b = {r["node"]: r["r"] for r in pagerank_dangling(cyc, iterations=3).collect()}
    assert a == b


def test_triangle_counts_hand_checked(spark):
    from itertools import combinations

    from certa_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a
    # pendant edge and one extra triangle {4,5,6}
    edges = list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (5, 6), (4, 6), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["triangles"] for r in triangle_counts(df).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 1, 6: 1}
    # duplicate + reversed edges change nothing (dedup + canonicalize)
    noisy = df.unionByName(
        spark.createDataFrame([(2, 1), (1, 2), (3, 1)], "src long, dst long")
    )
    assert {
        r["node"]: r["triangles"] for r in triangle_counts(noisy).collect()
    } == got


def test_clustering_coefficient_known_graph(spark):
    from certa_spark.operators.graph import clustering_coefficient
    from pyspark.sql import functions as F

    # K4 on {1,2,3,4} (cc=1 everywhere) plus pendant 5-1 and wedge 5-6
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5), (5, 6)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in clustering_coefficient(e).collect()}
    # node 1: degree 4 (2,3,4,5), triangles 3 -> 2*3/(4*3) = 0.5
    assert out[1]["degree"] == 4 and out[1]["triangles"] == 3
    assert out[1]["cc"] == 0.5
    for n in (2, 3, 4):
        assert out[n]["degree"] == 3 and out[n]["triangles"] == 3
        assert out[n]["cc"] == 1.0
    # node 5: degree 2 (1 and 6), no triangle -> cc 0.0
    assert out[5]["triangles"] == 0 and out[5]["cc"] == 0.0
    # node 6: degree 1 -> excluded
    assert 6 not in out


def test_personalized_pagerank_mass_near_seeds(spark):
    from certa_spark.operators.graph import pagerank_personalized
    from pyspark.sql import functions as F

    # path graph 1-2-3-4-5-6 (symmetrized); seed {1}
    edges = []
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]:
        edges += [(a, b), (b, a)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    r = {row["node"]: row["r"]
         for row in pagerank_personalized(e, [1], iterations=4).collect()}
    # total mass bounded by 1; rank decays with distance from the seed
    assert abs(sum(r.values())) <= 1.0 + 1e-9
    assert r[1] > r[3] > r[5]
    # unreachable component gets zero
    e2 = spark.createDataFrame(edges + [(10, 11), (11, 10)], ["src", "dst"])
    r2 = {row["node"]: row["r"]
          for row in pagerank_personalized(e2, [1], iterations=3).collect()}
    assert r2[10] == 0.0 and r2[11] == 0.0


def test_cc_shortcut_matches_plain_on_long_chain(spark):
    """Pointer jumping must reach the same fixpoint as plain
    propagation, including on its worst case (a long chain)."""
    from certa_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(1, 30)] + [(100, 101)]
    e = spark.createDataFrame(chain, "src long, dst long")
    # the default max_iter=25 guard truncates PLAIN propagation on a
    # 30-node chain (rounds = diameter); raise it for the reference run
    plain = sorted(
        map(tuple, connected_components(e, max_iter=60).collect())
    )
    # pointer jumping needs only O(log diameter) rounds — max_iter=8
    # suffices where plain needed ~30
    fast = sorted(
        map(tuple, connected_components(e, shortcut=True, max_iter=8).collect())
    )
    assert plain == fast
    assert all(c == 1 for n, c in fast if n < 100)


def test_kcore_peels_to_dense_backbone(spark):
    from itertools import combinations

    from certa_spark.operators.graph import kcore

    # K4 core {1,2,3,4} + a tail 4-5-6 + a pendant 1-7
    edges = list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (5, 6), (1, 7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    core3 = {r["node"]: r["degree"] for r in kcore(e, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the chain and pendant still peel away (degree-1 cascade)
    core2 = {r["node"]: r["degree"] for r in kcore(e, k=2).collect()}
    assert set(core2) == {1, 2, 3, 4}
    # k larger than any degree -> empty core
    assert kcore(e, k=5).count() == 0


def test_weighted_pagerank_degenerates_and_biases(spark):
    from certa_spark.operators.graph import pagerank, pagerank_weighted
    from pyspark.sql import functions as F

    # uniform weights == plain pagerank, bit for bit
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0)],
        ["src", "dst", "w"],
    )
    plain = sorted(map(tuple, pagerank(
        edges.select("src", "dst"), iterations=3).collect()))
    unif = sorted(map(tuple, pagerank_weighted(
        edges, weight="w", iterations=3).collect()))
    assert plain == unif
    # node 1 splits rank 9:1 toward node 2 -> rank(2) > rank(3)'s share
    biased = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        ["src", "dst", "w"],
    )
    r = {row["node"]: row["r"] for row in
         pagerank_weighted(biased, weight="w", iterations=4,
                           symmetric=True).collect()}
    assert r[2] > r[3]


def test_bfs_distances_known_graph(spark):
    from certa_spark.operators.graph import bfs_distances

    # path 1-2-3-4 with a shortcut 1-4, plus unreachable 9-10
    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (9, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    d = {r["node"]: r["dist"] for r in bfs_distances(e, source=1).collect()}
    assert d == {1: 0, 2: 1, 4: 1, 3: 2}
    # depth cap honors the bound
    d2 = {r["node"]: r["dist"]
          for r in bfs_distances(e, source=1, max_depth=1).collect()}
    assert d2 == {1: 0, 2: 1, 4: 1}


def test_lsss_matches_plain_on_chain_hub_random(spark):
    """Large-star/small-star must produce the identical (node, cluster)
    labeling as min-label propagation — on its motivating worst case
    (a deep chain, where propagation needs diameter rounds and LS/SS
    O(log n)), on a hub (star) graph, and on a seeded random graph."""
    import random

    from certa_spark.operators.graph import (
        connected_components,
        connected_components_lsss,
    )

    rng = random.Random(7)
    rand_edges = [
        (rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(60)
    ]
    rand_edges = [(a, b) for a, b in rand_edges if a != b]
    fixtures = {
        "chain": [(i, i + 1) for i in range(1, 40)] + [(200, 201)],
        "hub": [(50, i) for i in range(51, 80)],
        "random": rand_edges,
    }
    for name, edges in fixtures.items():
        e = spark.createDataFrame(edges, "src long, dst long")
        plain = sorted(map(tuple, connected_components(e, max_iter=60).collect()))
        lsss = sorted(map(tuple, connected_components_lsss(e, max_iter=12).collect()))
        assert plain == lsss, name


def test_lsss_log_round_convergence_on_chain(spark):
    """A 60-node chain converges within ~log2(60) LS/SS rounds where
    plain propagation would need ~60 — the scale reason the algorithm
    exists. max_iter=9 must suffice (and raise if it ever stops
    converging that fast)."""
    from certa_spark.operators.graph import connected_components_lsss

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "src long, dst long"
    )
    got = {r["node"]: r["cluster"] for r in connected_components_lsss(e, max_iter=9).collect()}
    assert len(got) == 60 and set(got.values()) == {1}


def test_assign_clusters_lsss_flag(spark):
    from certa_spark.operators.graph import assign_clusters

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 99)], "doc_id long")
    edges = spark.createDataFrame([(2, 3)], "src long, dst long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in assign_clusters(nodes, edges, "doc_id", algorithm="lsss").collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 99: 99}


def test_kcore_raises_when_not_converged(spark):
    import pytest

    from certa_spark.operators.graph import kcore

    # a 12-node chain peels from both ends: k=2 strips one layer per
    # round, so max_iter=2 cannot finish -> must raise, not return a
    # non-core
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(e, k=2, max_iter=2)


def test_personalized_pagerank_seed_validation(spark):
    import pytest

    from certa_spark.operators.graph import pagerank_personalized

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="non-empty"):
        pagerank_personalized(e, seeds=[])
    with pytest.raises(ValueError, match="duplicate"):
        pagerank_personalized(e, seeds=[1, 1])


def _py_brandes(edges, sources=None):
    """Pure-python exact Brandes (directed-pair sum convention) used as
    the oracle for betweenness_approx."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    bc = {v: 0.0 for v in nodes}
    for s in (sources if sources is not None else nodes):
        sigma = {v: 0 for v in nodes}
        dist = {v: -1 for v in nodes}
        preds = {v: [] for v in nodes}
        sigma[s], dist[s] = 1, 0
        order, queue = [], deque([s])
        while queue:
            v = queue.popleft()
            order.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in nodes}
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_exact_on_all_sources(spark):
    """With sources = all nodes the estimator IS exact Brandes (scale
    n/k = 1) — compare against the python twin on a graph with branchy
    shortest paths (a 4-cycle hung off a path) so sigma > 1 paths and
    the dependency splits are exercised."""
    from certa_spark.operators.graph import betweenness_approx

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (6, 5), (5, 7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = sorted({x for ed in edges for x in ed})
    got = {
        r["node"]: round(r["bc"], 6)
        for r in betweenness_approx(e, sources=nodes).collect()
    }
    want = {v: round(b, 6) for v, b in _py_brandes(edges).items()}
    assert got == want


def test_betweenness_sampled_scales_and_is_deterministic(spark):
    from certa_spark.operators.graph import betweenness_approx

    edges = [(i, i + 1) for i in range(1, 12)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: round(r["bc"], 6) for r in betweenness_approx(e, k=4).collect()}
    b = {r["node"]: round(r["bc"], 6) for r in betweenness_approx(e, k=4).collect()}
    assert a == b  # content-hash sampling: no RNG state
    # the estimator must agree with the python twin restricted to the
    # same deterministic source set, scaled by n/k
    from pyspark.sql import functions as F

    srcs = [
        r["node"]
        for r in e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .orderBy(F.xxhash64(F.col("node")).asc(), F.col("node").asc())
        .limit(4)
        .collect()
    ]
    n = 12
    want = {
        v: round(b_ * n / 4, 6) for v, b_ in _py_brandes(edges, sources=srcs).items()
    }
    assert a == want


def test_betweenness_guards(spark):
    """r4 ADVICE: duplicate / unknown explicit sources and a BFS that
    exhausts max_depth with deeper nodes remaining must raise, not
    silently bias the estimate."""
    import pytest

    from certa_spark.operators.graph import betweenness_approx

    edges = [(i, i + 1) for i in range(1, 8)]
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(ValueError, match="duplicate source"):
        betweenness_approx(e, sources=[1, 1, 2])
    with pytest.raises(ValueError, match="absent"):
        betweenness_approx(e, sources=[1, 999])
    # path 1..8 from source 1 needs depth 7; max_depth=3 leaves nodes
    # unreached -> every visited node's delta would be wrong
    with pytest.raises(RuntimeError, match="max_depth"):
        betweenness_approx(e, sources=[1], max_depth=3)
    # exactly-eccentricity max_depth drains and must NOT raise
    got = betweenness_approx(e, sources=[1], max_depth=7)
    assert got.count() == 8


def test_modularity_rejects_incomplete_assignment(spark):
    import pytest

    from certa_spark.operators.graph import modularity

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    comm = spark.createDataFrame([(1, 1), (2, 1)], "node long, cluster long")
    with pytest.raises(ValueError, match="absent"):
        modularity(e, comm)


def test_connected_components_zero_max_iter_raises_cleanly(spark):
    """max_iter<=0 must reach the intended RuntimeError, not a
    NameError on the unbound loop variable (r4 ADVICE)."""
    import pytest

    from certa_spark.operators.graph import connected_components

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(e, max_iter=0)


def test_kcore_weighted_peels_by_strength(spark):
    """A hub with many weight-1 edges must NOT survive a strength
    threshold its volume doesn't meet, while a small heavy clique
    does — the volume-aware refinement plain k-core can't express."""
    from certa_spark.operators.graph import kcore_weighted

    edges = []
    # heavy triangle: strength 20 per node
    for a, b in ((1, 2), (2, 3), (1, 3)):
        edges.append((a, b, 10.0))
    # hub 50 with 8 trivial spokes: strength 8 < 12
    for i in range(51, 59):
        edges.append((50, i, 1.0))
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["strength"]
        for r in kcore_weighted(e, k=12.0, weight="w").collect()
    }
    assert got == {1: 20.0, 2: 20.0, 3: 20.0}
    # weight=None degenerates to degree semantics
    got2 = {
        r["node"]: r["strength"]
        for r in kcore_weighted(e, k=2.0).collect()
    }
    assert set(got2) == {1, 2, 3}


def test_kcore_weighted_raises_on_exhaustion(spark):
    import pytest

    from certa_spark.operators.graph import kcore_weighted

    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, 12)], "src long, dst long, w double"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_weighted(e, k=2.0, weight="w", max_iter=2)


def test_ktruss_keeps_clique_drops_tree(spark):
    """3-truss = edges in >= 1 triangle: a K4 clique survives whole, a
    star/tree hanging off it contributes no triangles and is peeled;
    the clique edges each close 2 triangles in K4."""
    from certa_spark.operators.graph import ktruss

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tree = [(4, 10), (10, 11), (10, 12)]
    e = spark.createDataFrame(clique + tree, "src long, dst long")
    got = {(r["a"], r["b"]): r["support"] for r in ktruss(e, k=3).collect()}
    assert set(got) == set(clique)
    assert all(s == 2 for s in got.values())
    # 4-truss (>= 2 triangles/edge) also keeps exactly K4; 5-truss kills it
    got4 = {(r["a"], r["b"]) for r in ktruss(e, k=4).select("a", "b").collect()}
    assert got4 == set(clique)
    assert ktruss(e, k=5).count() == 0


def test_ktruss_cascade_peels(spark):
    """Removing a triangle-poor edge can demote its neighbors — the
    cascade the iterative peel exists for: two triangles sharing an
    edge, plus a pendant triangle chained off one corner."""
    from certa_spark.operators.graph import ktruss

    # bowtie: triangles (1,2,3) and (3,4,5) share only node 3; at k=4
    # every edge has support 1 < 2 -> everything peels (cascade from
    # round 1), while k=3 keeps both triangles
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)],
        "src long, dst long",
    )
    assert ktruss(e, k=3).count() == 6
    assert ktruss(e, k=4).count() == 0


def test_modularity_known_values(spark):
    """Two disjoint triangles: perfect 2-community split gives
    Q = 1/2 (hand computation: each community has e_c=3, d_c=6, m=6:
    2*(3/6 - (6/12)^2) = 2*(0.5-0.25) = 0.5); the all-one-community
    assignment scores 0; splitting a triangle scores negative."""
    from certa_spark.operators.graph import modularity

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    good = spark.createDataFrame(
        [(n, 0 if n <= 3 else 1) for n in range(1, 7)], "node long, cluster int"
    )
    assert abs(modularity(e, good) - 0.5) < 1e-9
    allone = spark.createDataFrame(
        [(n, 0) for n in range(1, 7)], "node long, cluster int"
    )
    assert abs(modularity(e, allone)) < 1e-9
    bad = spark.createDataFrame(
        [(n, n % 2) for n in range(1, 7)], "node long, cluster int"
    )
    assert modularity(e, bad) < 0.0


def test_cc_raises_on_max_iter_exhaustion(spark):
    """Propagation that exhausts max_iter has NOT converged; silent
    partial labels are wrong clusters (the kcore ADVICE bug class)."""
    import pytest

    from certa_spark.operators.graph import connected_components

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(e, max_iter=3)
    # the documented escape hatch converges on the same chain
    ok = connected_components(e, shortcut=True, max_iter=8)
    assert {r["cluster"] for r in ok.collect()} == {1}


def _two_clique_bridge_edges():
    """Two 5-cliques joined by one bridge edge — the canonical Louvain
    fixture: the optimum is exactly the two cliques."""
    e = []
    for base in (0, 10):
        nodes = [base + i for i in range(5)]
        e += [(a, b) for a in nodes for b in nodes if a < b]
    e.append((4, 10))
    return e


def test_louvain_recovers_cliques_and_is_monotone(spark):
    from certa_spark.operators.graph import louvain, modularity

    e = spark.createDataFrame(
        _two_clique_bridge_edges(), "src long, dst long"
    )
    out, hist = louvain(e, with_history=True)
    got = {r["node"]: r["community"] for r in out.collect()}
    assert set(got) == set(range(5)) | set(range(10, 15))
    # the two cliques are the two communities
    assert len({got[n] for n in range(5)}) == 1
    assert len({got[n] for n in range(10, 15)}) == 1
    assert got[0] != got[10]
    # accepted rounds are strictly Q-monotone (the exact-J gate)
    assert all(b > a for a, b in zip(hist, hist[1:]))
    # the tracked Q of the final assignment equals the float scorer on
    # the ORIGINAL graph — pins the contraction/self-loop conventions
    comm = out.withColumnRenamed("community", "cluster")
    assert abs(hist[-1] - modularity(e, comm)) < 1e-9


def test_louvain_partition_invariant_and_deterministic(spark):
    from certa_spark.operators.graph import louvain

    rows = _two_clique_bridge_edges()
    # a second component: a 4-cycle with a chord
    rows += [(20, 21), (21, 22), (22, 23), (23, 20), (20, 22)]
    a = spark.createDataFrame(rows, "src long, dst long")
    b = spark.createDataFrame(list(reversed(rows)), "src long, dst long") \
        .repartition(7)
    ra = sorted(map(tuple, louvain(a).collect()))
    rb = sorted(map(tuple, louvain(b).collect()))
    assert ra == rb
    # labels are node ids (deterministic, reproducible run-to-run)
    nodes = {t[0] for t in ra}
    assert {t[1] for t in ra} <= nodes


def test_louvain_weighted_overrides_topology(spark):
    """Heavy intra-pair weights beat raw edge counts: with the bridge
    edge weighted far above the clique edges, the bridge endpoints
    merge."""
    from certa_spark.operators.graph import louvain

    rows = [(a, b, 1) for a, b in _two_clique_bridge_edges() if (a, b) != (4, 10)]
    rows.append((4, 10, 50))
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    out = {r["node"]: r["community"] for r in louvain(e, weight="w").collect()}
    assert out[4] == out[10]


def test_louvain_improves_on_singletons(spark):
    """On a ring of small cliques the result must beat the singleton
    assignment's Q = -sum(d^2)/4m^2 (< 0) by a wide margin."""
    from certa_spark.operators.graph import louvain, modularity

    e = []
    k = 4
    for c in range(4):
        base = c * k
        nodes = [base + i for i in range(k)]
        e += [(a, b) for a in nodes for b in nodes if a < b]
        e.append((base + k - 1, ((c + 1) % 4) * k))
    df = spark.createDataFrame(sorted(set(e)), "src long, dst long")
    out = louvain(df)
    comm = out.withColumnRenamed("community", "cluster")
    q = modularity(df, comm)
    assert q > 0.5  # 4 cliques on a ring: optimum ~0.65
    assert out.select("community").distinct().count() == 4


def test_refine_communities_splits_disconnected(spark):
    """A community whose members span two disconnected parts is split
    into its connected parts, and Q strictly increases; connected
    communities pass through untouched."""
    from certa_spark.operators.graph import modularity, refine_communities

    # two triangles {1,2,3} and {7,8,9}, no edge between them, plus a
    # connected pair {4,5}
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9), (4, 5)],
        "src long, dst long",
    )
    # assignment that wrongly merges the two triangles
    comm = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3, 7, 8, 9)] + [(4, 4), (5, 4)],
        "node long, community long",
    )
    out = refine_communities(e, comm)
    got = {r["node"]: r["community"] for r in out.collect()}
    assert len({got[1], got[7]}) == 2  # split
    assert got[1] == got[2] == got[3]
    assert got[7] == got[8] == got[9]
    assert got[4] == got[5]
    q_before = modularity(e, comm.withColumnRenamed("community", "cluster"))
    q_after = modularity(
        e, out.withColumnRenamed("community", "cluster")
    )
    assert q_after > q_before


def test_louvain_refine_is_noop_on_connected_result(spark):
    from certa_spark.operators.graph import louvain

    e = spark.createDataFrame(
        _two_clique_bridge_edges(), "src long, dst long"
    )
    def groups(rows):
        byc: dict = {}
        for r in rows:
            byc.setdefault(r["community"], set()).add(r["node"])
        return sorted(map(frozenset, byc.values()), key=min)

    plain = groups(louvain(e).collect())
    refined = groups(louvain(e, refine=True).collect())
    # identical PARTITION; refinement only renames labels to the min
    # member (CC convention) when communities are already connected
    assert plain == refined


def test_betweenness_exact_pivot_batched_matches_brandes(spark):
    """Pivot-batched exact betweenness == pure-python Brandes == the
    all-at-once sources=all run, for every batch size that splits the
    pivots differently."""
    from certa_spark.operators.graph import betweenness_exact

    # branchy graph: two diamonds sharing a bridge
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4),      # diamond A
        (4, 5),                               # bridge
        (5, 6), (5, 7), (6, 8), (7, 8),      # diamond B
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    want = {v: round(b, 6) for v, b in _py_brandes(edges).items()}
    for bs in (3, 8, 100):
        got = {
            r["node"]: round(r["bc"], 6)
            for r in betweenness_exact(e, batch_size=bs).collect()
        }
        assert got == want, f"batch_size={bs}"


def test_hyperball_neighborhood_function(spark):
    """HyperBall NF on a path + separate triangle: nondecreasing,
    converges at the true diameter (plateau rows equal), tracks the
    exact neighborhood function within HLL error, and is
    partition-invariant."""
    from collections import deque

    from certa_spark.operators.graph import hyperball

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r["r"]: r["nf"] for r in hyperball(e, rounds=6, p=6).collect()}

    # exact NF by BFS
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def ball(v, r):
        seen, frontier = {v}, {v}
        for _ in range(r):
            frontier = {w for u in frontier for w in adj[u]} - seen
            seen |= frontier
        return len(seen)

    for r in range(7):
        exact = sum(ball(v, r) for v in adj)
        assert abs(out[r] - exact) / exact < 0.2, (r, out[r], exact)
    # nondecreasing, and converged by the path diameter (4): rows 4..6
    # are an exact plateau
    vals = [out[r] for r in range(7)]
    assert all(b >= a for a, b in zip(vals, vals[1:]))
    assert out[4] == out[5] == out[6]

    out2 = {
        r["r"]: r["nf"]
        for r in hyperball(e.repartition(5), rounds=6, p=6).collect()
    }
    assert out == out2


def test_random_walks_deterministic_and_valid(spark):
    """Every consecutive (node, next) pair is a real edge, walks have
    exactly length+1 positions, and results are identical under any
    partitioning (content-hash steps, no RNG state)."""
    from certa_spark.operators.graph import random_walks

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (5, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = random_walks(e, length=3, walks_per_node=2).collect()
    adj = set()
    for a, b in edges:
        adj |= {(a, b), (b, a)}
    byw = {}
    for r in out:
        byw.setdefault((r["start"], r["walk"]), {})[r["step"]] = r["node"]
    assert len(byw) == 5 * 2
    for (start, w), path in byw.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == start
        for s in range(3):
            assert (path[s], path[s + 1]) in adj
    out2 = random_walks(e.repartition(7), length=3, walks_per_node=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_harmonic_centrality_hyperball(spark):
    """Star + path: the hub dominates; estimates track exact harmonic
    centrality within HLL error; partition-invariant."""
    from certa_spark.operators.graph import harmonic_centrality

    # star center 1 with leaves 2..6, plus a path 6-7-8
    edges = [(1, k) for k in range(2, 7)] + [(6, 7), (7, 8)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["harmonic"] for r in harmonic_centrality(e, rounds=6, p=8).collect()}

    # exact harmonic by BFS
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def hc(v):
        from collections import deque

        dist = {v: 0}
        q = deque([v])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return sum(1.0 / d for u, d in dist.items() if d > 0)

    for v in adj:
        assert abs(out[v] - hc(v)) / hc(v) < 0.15, (v, out[v], hc(v))
    # hub ranks first
    assert max(out, key=lambda v: out[v]) == 1
    out2 = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(e.repartition(5), rounds=6, p=8).collect()
    }
    assert out == out2


def test_louvain_degenerate_graph_history(spark):
    """VERDICT r6 item 7: an edge set that is empty (or all
    self-loops) must yield an empty assignment and a clean
    ``history == [0.0]`` with ``with_history=True`` — not an
    IndexError in callers reading ``history[-1]`` (the q_part_louvain
    shape)."""
    from certa_spark.operators.graph import louvain

    empty = spark.createDataFrame([], "src long, dst long")
    out, hist = louvain(empty, with_history=True, partitions=2)
    assert out.count() == 0
    assert hist == [0.0]

    selfloops = spark.createDataFrame(
        [(1, 1), (2, 2)], "src long, dst long"
    )
    out2, hist2 = louvain(selfloops, with_history=True, partitions=2)
    assert out2.count() == 0
    assert hist2 == [0.0]


def test_louvain_local_matches_distributed(spark):
    """The coarsen-then-finish-locally path (local_max_edges) must be
    BIT-IDENTICAL to the distributed level loop: same assignment, same
    accepted-round history (the J values come from the same integer
    arithmetic), on graphs that exercise multi-level contraction."""
    from certa_spark.operators.graph import louvain

    # two 5-cliques + a 4-clique, sparsely bridged, plus a weighted
    # multi-edge pair — forces moves, contraction, and a second level
    ed = []
    for base in (0, 10):
        ed += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    ed += [(20 + i, 20 + j) for i in range(4) for j in range(i + 1, 4)]
    ed += [(4, 10), (13, 20), (23, 0), (2, 3)]  # bridges + dup edge
    e = spark.createDataFrame(ed, "src long, dst long")

    for kwargs in (
        dict(max_rounds=5, max_levels=3),
        dict(max_rounds=3, max_levels=2),
    ):
        dist, h_dist = louvain(
            e, with_history=True, partitions=4, **kwargs
        )
        loc, h_loc = louvain(
            e, with_history=True, partitions=4,
            local_max_edges=10**6, **kwargs
        )
        assert sorted(map(tuple, dist.collect())) == sorted(
            map(tuple, loc.collect())
        )
        assert h_dist == h_loc

    # hybrid: level 0 distributed, later levels local — same result as
    # both pure paths (threshold between level sizes)
    hyb, h_hyb = louvain(
        e, with_history=True, partitions=4, max_rounds=5, max_levels=3,
        local_max_edges=20,
    )
    dist2, h_dist2 = louvain(
        e, with_history=True, partitions=4, max_rounds=5, max_levels=3
    )
    assert sorted(map(tuple, hyb.collect())) == sorted(
        map(tuple, dist2.collect())
    )
    assert h_hyb == h_dist2


def test_cc_local_matches_distributed(spark):
    # the bounded local-finish path (numpy hook + pointer jumping) must
    # reproduce the distributed fixpoint exactly: min reachable id per
    # node, across chain / hub / random / multi-component shapes
    import random

    rng = random.Random(7)
    fixtures = {
        "chain": [(i, i + 1) for i in range(20)],
        "hub": [(0, i) for i in range(1, 20)],
        "random": [
            (rng.randrange(60), rng.randrange(60)) for _ in range(80)
        ],
        "two_comp": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "offset_ids": [(1_000_005, 3), (3, 7), (2_000_000, 1_000_005)],
    }
    for name, edges in fixtures.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        dist = connected_components(df, partitions=4)
        loc = connected_components(
            df, partitions=4, local_finish_edges=10**6
        )
        assert sorted(map(tuple, dist.collect())) == sorted(
            map(tuple, loc.collect())
        ), name
        assert dict(dist.dtypes) == dict(loc.dtypes), name

    # over-budget graphs must stay distributed (budget smaller than the
    # edge list) — same answer either way, via the distributed loop
    df = spark.createDataFrame(fixtures["random"], "src long, dst long")
    small = connected_components(df, partitions=4, local_finish_edges=3)
    full = connected_components(df, partitions=4)
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_kcore_local_matches_distributed(spark):
    import random

    from certa_spark.operators.graph import kcore

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 5):
        dist = kcore(df, k=k, partitions=4)
        loc = kcore(df, k=k, partitions=4, local_finish_edges=10**6)
        assert sorted(map(tuple, dist.collect())) == sorted(
            map(tuple, loc.collect())
        ), k
        assert dict(dist.dtypes) == dict(loc.dtypes), k
    # peel-to-empty: local path returns the same empty (node, degree)
    tree = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert kcore(tree, k=3, local_finish_edges=10**6).count() == 0


def test_ktruss_local_matches_distributed(spark):
    import random

    from certa_spark.operators.graph import ktruss

    rng = random.Random(23)
    # dense-ish random graph so triangles exist at several k levels,
    # plus a clique-with-tail fixture where the peel takes >1 round
    rand_edges = [
        (rng.randrange(30), rng.randrange(30)) for _ in range(200)
    ]
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    tail = [(5, 10), (10, 11), (11, 12)]
    for name, edges in {
        "random": rand_edges, "clique_tail": clique + tail
    }.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        for k in (3, 4, 5):
            dist = ktruss(df, k=k, partitions=4)
            loc = ktruss(df, k=k, partitions=4, local_finish_edges=10**6)
            assert sorted(map(tuple, dist.collect())) == sorted(
                map(tuple, loc.collect())
            ), (name, k)
            assert dict(dist.dtypes) == dict(loc.dtypes), (name, k)
    # peel-to-empty parity
    df = spark.createDataFrame(tail, "src long, dst long")
    assert ktruss(df, k=3, local_finish_edges=10**6).count() == 0


def test_local_finish_empty_and_isolating_edges(spark):
    # empty edge set through the local-finish branches: both must
    # return empty frames with the distributed schema, not crash on
    # zero-row numpy/Arrow conversions
    from certa_spark.operators.graph import kcore, ktruss

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(
        empty, local_finish_edges=10**6
    ).count() == 0
    assert kcore(empty, k=2, local_finish_edges=10**6).count() == 0
    assert ktruss(empty, k=3, local_finish_edges=10**6).count() == 0
    # a peel that strands a survivor with zero edges: the delta-deg
    # loop removes it one round later than a recompute would, but the
    # fixpoint (and so the output) is identical to the local peel
    # star + triangle sharing node 0: peeling the star leaves 0 with
    # only triangle edges
    edges = [(0, i) for i in range(10, 16)] + [(0, 1), (0, 2), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dist = kcore(df, k=2, partitions=4)
    loc = kcore(df, k=2, partitions=4, local_finish_edges=10**6)
    assert sorted(map(tuple, dist.collect())) == sorted(
        map(tuple, loc.collect())
    ) == [(0, 2), (1, 2), (2, 2)]


def test_kcore_maxiter_boundary_with_stranded_survivor(spark):
    # review finding (r8): a peel whose FINAL round strands a survivor
    # at degree 0 must not be misreported as non-converged when that
    # round lands exactly on max_iter — the stranded node is the delta
    # table's +1 identity round, not missing convergence. Chain + star:
    # k=2 peels the chain end inward; each round kills one node.
    from certa_spark.operators.graph import kcore

    # path 0-1-2-3 hung off a triangle (10,11,12)-3: k=2 peel removes
    # 0, then 1, then 2 — 3 rounds to fixpoint, 4th round would be
    # identity. With max_iter exactly at the fixpoint round count the
    # old recompute returned fine; the delta table must too.
    edges = [(0, 1), (1, 2), (2, 3), (3, 10), (10, 11), (11, 12), (12, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(map(tuple, kcore(df, k=2, max_iter=3, partitions=4).collect()))
    assert got == [(3, 2), (10, 2), (11, 2), (12, 2)]
    # truly unconverged peels still fail loudly
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_iter=1, partitions=4)
    # the case that actually pins the exhaustion-discount fix (second
    # review pass: the fixture above never strands anyone): a 2-star
    # at k=2 kills both leaves in round 1 and leaves the hub STRANDED
    # at degree 0 exactly when max_iter runs out — the recompute
    # schedule returns the (empty) core, and the delta table must not
    # misreport it as non-convergence (pre-fix code raised here)
    star = spark.createDataFrame([(0, 1), (0, 2)], "src long, dst long")
    assert kcore(star, k=2, max_iter=1, partitions=4).count() == 0


def test_cc_local_declines_null_endpoints(spark):
    # review finding (r8): null endpoints act as join-through hubs in
    # the distributed label algebra (F.min skips nulls); the numpy
    # local path cannot represent that, so it must DECLINE (fall
    # through to the distributed loop) — same answer both ways, no
    # NaN-cast crash
    edges = [(1, 2), (None, 2), (None, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dist = connected_components(df, partitions=4)
    loc = connected_components(df, partitions=4, local_finish_edges=10**6)
    assert sorted(
        map(tuple, dist.collect()), key=str
    ) == sorted(map(tuple, loc.collect()), key=str)


def test_oriented_wedge_count_matches_local_prologue(spark):
    # r8 ADVICE low #2: the distributed wedge pre-check must compute
    # exactly the quantity the in-numpy prologue budgets (same
    # (degree, id) orientation, same sum of C(outdeg, 2)) — otherwise
    # the pre-collect decline and the post-collect decline could
    # disagree on which graphs take the local path
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from certa_spark.operators.graph import _oriented_wedge_count

    rng = random.Random(47)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(180)]
    df = spark.createDataFrame(edges, "src long, dst long")
    und = (
        df.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    pdf = und.toPandas()
    # recompute the prologue's wedge count independently
    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n = len(ids)
    deg = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
    okey = np.empty(n, dtype=np.int64)
    okey[np.lexsort((np.arange(n), deg))] = np.arange(n)
    s = np.where(okey[ai] < okey[bi], ai, bi)
    outdeg = np.bincount(s, minlength=n).astype(np.int64)
    expected = int((outdeg * (outdeg - 1) // 2).sum())
    assert _oriented_wedge_count(und) == expected
    # empty edge set: zero wedges, no None crash
    empty = spark.createDataFrame([], "a long, b long")
    assert _oriented_wedge_count(empty) == 0


def test_dense_graph_declines_local_finish_before_collect(spark, monkeypatch):
    # r8 ADVICE low #2: a graph whose edge list fits the collect budget
    # but whose wedge expansion exceeds the wedge budget must decline
    # the local finish WITHOUT collecting (above the pre-check
    # threshold) — and the distributed fallback still answers. Squeeze
    # the knobs so a 12-clique trips both.
    from certa_spark.operators import graph as G

    monkeypatch.setattr(G, "_KTRUSS_LOCAL_WEDGE_BUDGET", 10)
    monkeypatch.setattr(G, "_WEDGE_PRECHECK_EDGES", 0)
    calls = {"n": 0}
    orig = G.DataFrame.toPandas

    def counting_topandas(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(G.DataFrame, "toPandas", counting_topandas)
    clique = [(i, j) for i in range(12) for j in range(i + 1, 12)]
    df = spark.createDataFrame(clique, "src long, dst long")
    res = G.ktruss(df, k=3, partitions=4, local_finish_edges=10**6)
    assert res.count() == len(clique), "distributed fallback must answer"
    assert calls["n"] == 0, (
        "over-wedge-budget graph must not pay the edge collect"
    )
    calls["n"] = 0
    cc = G.clustering_coefficient(df, partitions=4, local_finish_edges=10**6)
    assert cc.count() == 12
    assert calls["n"] == 0


def test_ppr_degree_column_contract_checked(spark):
    # r8 ADVICE low #3: a stale caller-supplied out-degree column must
    # raise loudly, not silently mis-rank
    import pytest
    from pyspark.sql import functions as F

    from certa_spark.operators.graph import pagerank_personalized

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    ).localCheckpoint()
    # correct degrees: accepted, ranks computed
    ok = e.join(
        e.groupBy(F.col("src").alias("k")).agg(F.count("*").alias("deg")),
        F.col("src") == F.col("k"),
    ).select("src", "dst", "deg").localCheckpoint()
    assert pagerank_personalized(
        ok, seeds=[1], degree="deg", iterations=2
    ).count() > 0
    # degree claimed too low (computed-before-a-filter style bug):
    # EVERY source has out-degree 2 here, so whichever row the probe
    # lands on exposes the mismatch
    stale = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], "src long, dst long"
    ).withColumn("deg", F.lit(1))
    with pytest.raises(ValueError, match="inconsistent with the edge set"):
        pagerank_personalized(stale, seeds=[1], degree="deg", iterations=2)
    # non-positive / fractional / null degrees
    for bad_val in (0, -2):
        bad = e.withColumn("deg", F.lit(bad_val))
        with pytest.raises(ValueError, match="violates its contract"):
            pagerank_personalized(bad, seeds=[1], degree="deg", iterations=2)
    frac = e.withColumn("deg", F.lit(1.5))
    with pytest.raises(ValueError, match="violates its contract"):
        pagerank_personalized(frac, seeds=[1], degree="deg", iterations=2)


def test_clustering_coeff_local_matches_distributed(spark):
    import random

    from certa_spark.operators.graph import clustering_coefficient

    rng = random.Random(31)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dist = clustering_coefficient(df, partitions=4)
    loc = clustering_coefficient(df, partitions=4, local_finish_edges=10**6)
    assert sorted(map(tuple, dist.collect())) == sorted(
        map(tuple, loc.collect())
    )
    assert dict(dist.dtypes) == dict(loc.dtypes)
    # triangle-free graph: every degree>=2 node reports 0.0 both ways
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    got = clustering_coefficient(star, local_finish_edges=10**6).collect()
    assert [(r["node"], r["cc"]) for r in got] == [(0, 0.0)]


def test_hyperball_local_matches_distributed(spark):
    """The r9 bounded local finish for HyperBall: the integer register
    merges run driver-side but the NF estimator stays a Spark
    expression over the SAME register sets, so the (r, nf) output must
    be BIT-identical to the distributed loop — including the
    early-convergence plateau rows and disconnected components."""
    import random

    from certa_spark.operators.graph import hyperball

    rng = random.Random(37)
    rand_edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(220)]
    # path + separate triangle: converges well before rounds=6, so the
    # plateau repetition is exercised on both paths
    path_tri = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)]
    for name, edges in {"random": rand_edges, "path_tri": path_tri}.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        for rounds, p in ((6, 6), (3, 4)):
            dist = hyperball(df, rounds=rounds, p=p, partitions=4)
            loc = hyperball(
                df, rounds=rounds, p=p, partitions=4,
                local_finish_edges=10**6,
            )
            assert sorted(map(tuple, dist.collect())) == sorted(
                map(tuple, loc.collect())
            ), (name, rounds, p)
            assert dict(dist.dtypes) == dict(loc.dtypes), (name, rounds, p)
    # over-budget graphs decline the collect and stay distributed
    # (equality again — the budget bounds memory, not correctness)
    df = spark.createDataFrame(rand_edges, "src long, dst long")
    tight = hyperball(df, rounds=3, p=6, partitions=4, local_finish_edges=5)
    full = hyperball(df, rounds=3, p=6, partitions=4)
    assert sorted(map(tuple, tight.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_betweenness_local_matches_distributed(spark):
    """The r9 bounded local finish for exact Brandes: same integer
    sigma/levels, float deltas differing only in addition order — so
    the python-twin comparison holds at round-6 exactly like the
    distributed path, the gate's 1e-6 micro quantization matches the
    distributed output on a branchy random graph, and over-budget
    graphs decline (stay distributed) without collecting."""
    import random

    from pyspark.sql import functions as F

    from certa_spark.operators.graph import (
        _BETWEENNESS_LOCAL_WORK,
        betweenness_exact,
    )

    # python-twin exactness on the diamonds fixture
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4), (4, 5),
        (5, 6), (5, 7), (6, 8), (7, 8),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    want = {v: round(b, 6) for v, b in _py_brandes(edges).items()}
    got = {
        r["node"]: round(r["bc"], 6)
        for r in betweenness_exact(
            e, batch_size=3, local_finish_edges=10**6
        ).collect()
    }
    assert got == want

    # micro-grain equality vs the distributed loop on a random graph
    rng = random.Random(17)
    rand = [(rng.randrange(40), rng.randrange(40)) for _ in range(130)]
    df = spark.createDataFrame(rand, "src long, dst long")

    def micro(frame):
        return {
            r["node"]: r["m"]
            for r in frame.select(
                "node",
                F.floor(F.col("bc") * 1e6 + F.lit(0.5))
                .cast("long")
                .alias("m"),
            ).collect()
        }

    dist = micro(betweenness_exact(df, batch_size=11, partitions=4))
    loc = micro(
        betweenness_exact(
            df, batch_size=11, partitions=4, local_finish_edges=10**6
        )
    )
    assert dist == loc
    assert len(dist) > 30

    # an edge budget that passes but a work budget that cannot
    # (V * 2E > _BETWEENNESS_LOCAL_WORK requires a huge graph, so
    # instead verify the decline path via a tight EDGE budget)
    tight = micro(
        betweenness_exact(
            df, batch_size=11, partitions=4, local_finish_edges=3
        )
    )
    assert tight == dist
    assert _BETWEENNESS_LOCAL_WORK > 0

    # max_depth drain guard fires on the local path too
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    import pytest

    with pytest.raises(RuntimeError, match="not drained"):
        betweenness_exact(path, max_depth=2, local_finish_edges=10**6)


def test_betweenness_local_property_random_graphs():
    """Hypothesis sweep over random graphs for the numpy Brandes
    kernel (no Spark session — the kernel is pure numpy, so the
    examples are cheap and the generator covers shapes the fixed
    fixtures cannot: multi-component graphs, stars, near-cliques,
    isolated pairs). Oracle: the pure-python Brandes twin."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from certa_spark.operators.graph import _betweenness_local

    edges_st = st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=60, deadline=None)
    @given(edges=edges_st)
    def run(edges):
        canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
        if not canon:
            return
        pdf = pd.DataFrame(canon, columns=["a", "b"])
        ids, bc = _betweenness_local(pdf, max_depth=30)
        got = {int(i): round(float(v), 6) for i, v in zip(ids, bc)}
        want = {v: round(b, 6) for v, b in _py_brandes(canon).items()}
        assert got == want

    run()


def test_hyperball_local_property_registers_are_exact_ball_maxima():
    """Mathematical pin for the numpy HyperBall kernel, independent of
    the Spark twin: after r merge rounds, node v's register for bucket
    j must equal the max rho over EXACTLY the members of ball(v, r)
    (BFS-computed) that hash to bucket j — i.e. the merge loop spans
    radius-r balls, no more, no less. Random graphs via hypothesis;
    registers recomputed from scratch per node per radius."""
    import hashlib

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from certa_spark.operators.graph import _hyperball_local
    from certa_spark.operators.sketch import _HASH_BITS

    p = 4
    wbits = _HASH_BITS - p
    mask = (1 << wbits) - 1

    def reg_of(node):
        h = int(hashlib.md5(str(int(node)).encode()).hexdigest()[:15], 16)
        w = h & mask
        rho = (wbits + 1) if w == 0 else (wbits + 1 - w.bit_length())
        return h >> wbits, rho

    edges_st = st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=40, deadline=None)
    @given(edges=edges_st)
    def run(edges):
        canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        if not canon:
            return
        directed = sorted(canon | {(b, a) for a, b in canon})
        pdf = pd.DataFrame(directed, columns=["a", "b"])
        rounds = 4
        frame = _hyperball_local(pdf, rounds=rounds, p=p)
        adj = {}
        for a, b in directed:
            adj.setdefault(a, set()).add(b)

        def ball(v, r):
            seen, frontier = {v}, {v}
            for _ in range(r):
                frontier = {
                    w for u in frontier for w in adj.get(u, ())
                } - seen
                seen |= frontier
            return seen

        got = {
            (int(row.r), int(row.node), int(row.bucket)): int(row.m)
            for row in frame.itertuples()
        }
        for r in range(rounds + 1):
            for v in adj:
                want = {}
                for u in ball(v, r):
                    bkt, rho = reg_of(u)
                    want[bkt] = max(want.get(bkt, 0), rho)
                mine = {
                    bkt: m
                    for (rr, vv, bkt), m in got.items()
                    if rr == r and vv == v
                }
                assert mine == want, (r, v)

    run()


def _layered_edges(width: int, layers: int) -> list[tuple[int, int]]:
    """Adversarial deep layered graph: node 0 -> w layer-1 nodes, then
    full bipartite between consecutive layers — sigma at layer d is
    width^(d-1), the textbook int64-wrap construction."""
    edges = [(0, 1 + j) for j in range(width)]
    for d in range(1, layers):
        lo, hi = 1 + (d - 1) * width, 1 + d * width
        edges += [(lo + i, hi + j) for i in range(width) for j in range(width)]
    return edges


def test_betweenness_local_sigma_overflow_guard_raises():
    """r10 verdict ask #7: the local finish's post-BFS sigma scan must
    fail loudly on a genuine deep layered graph whose path counts
    leave [0, 2^50] (32^11 = 2^55 at layer 12) — int64 sigma would
    wrap silently under np.add.at otherwise."""
    import pandas as pd
    import pytest

    from certa_spark.operators.graph import _betweenness_local

    pdf = pd.DataFrame(_layered_edges(32, 12), columns=["a", "b"])
    with pytest.raises(RuntimeError, match="guard band"):
        _betweenness_local(pdf, max_depth=20)
    # control: the same construction two layers shallower stays inside
    # the band (32^9 = 2^45) and completes
    ids, bc = _betweenness_local(
        pd.DataFrame(_layered_edges(32, 10), columns=["a", "b"]),
        max_depth=20,
    )
    assert len(ids) == 1 + 10 * 32


def test_betweenness_distributed_sigma_overflow_guard_raises(
    spark, monkeypatch
):
    """The distributed path's post-BFS guard (r11, closing ADVICE r9
    low #1 on both paths) fires on the same layered construction. The
    band is monkeypatched down so the overflow needs 4 BFS rounds, not
    12 — the guard arithmetic is identical at any band value."""
    import pytest

    from certa_spark.operators import graph

    edges = spark.createDataFrame(
        _layered_edges(4, 4), "src long, dst long"
    )
    monkeypatch.setattr(graph, "_SIGMA_SAFE", 50)  # 4^3 = 64 > 50
    with pytest.raises(RuntimeError, match="guard band"):
        graph.betweenness_approx(
            edges, sources=[0], max_depth=10
        ).collect()
    # control: the real band passes and the guard leaves values alone
    monkeypatch.setattr(graph, "_SIGMA_SAFE", 1 << 50)
    out = graph.betweenness_approx(edges, sources=[0], max_depth=10)
    assert out.count() == 1 + 4 * 4
