"""Triangle engine golden tests vs a pandas oracle that re-derives the
reference algorithm (certa/triangles_method.py) on tiny fixtures."""

from pyspark.sql import functions as F

from certa_spark.operators import triangles as T

SCORES = ("match_score", "nomatch_score")


def _support(spark, rows):
    return spark.createDataFrame(rows, ["id", "label"])


def _oracle_wedges(rows):
    """Reference getMixedTriangles (triangles_method.py:25-53) re-derived:
    iterate positives, join with negatives on shared endpoints."""
    pos = [(i.split("#")[0], i.split("#")[1]) for i, l in rows if l == 1]
    neg = [(i.split("#")[0], i.split("#")[1]) for i, l in rows if l == 0]
    tri = []
    for lt, rt in pos:
        for nlt, nrt in neg:
            if nrt == rt:
                tri.append((lt, rt, nlt, "left"))
        for nlt, nrt in neg:
            if nlt == lt:
                tri.append((rt, lt, nrt, "right"))
    return sorted(tri)


def test_mixed_triangles_matches_oracle(spark):
    rows = [
        ("0@1#1@10", 1),
        ("0@2#1@10", 0),
        ("0@3#1@10", 0),
        ("0@1#1@11", 0),
        ("0@5#1@12", 1),
        ("0@5#1@13", 0),
        ("0@9#1@14", 0),
    ]
    got = sorted(
        (r["pivot"], r["anchor"], r["free"], r["side"])
        for r in T.mixed_triangles(_support(spark, rows)).collect()
    )
    assert got == _oracle_wedges(rows)
    # triangle invariant (FIXTURES.md §3.4): pivot-anchor from a match,
    # anchor-free from a non-match
    for pivot, anchor, free, side in got:
        if side == "left":
            assert (f"{pivot}#{anchor}", 1) in rows
            assert (f"{free}#{anchor}", 0) in rows
        else:
            assert (f"{anchor}#{pivot}", 1) in rows
            assert (f"{anchor}#{free}", 0) in rows
    # the driver-side enumeration the explainer runs gives the same set
    assert sorted(T.wedges(rows)) == _oracle_wedges(rows)


def _sources(spark):
    ls = spark.createDataFrame(
        [(1, "u name", "u desc"), (2, "w name", "w desc"), (5, "x", "y")],
        ["id", "name", "description"],
    )
    rs = spark.createDataFrame(
        [(10, "v name", "v desc"), (12, "q", "r")], ["id", "name", "description"]
    )
    return ls, rs


def _perturbations(ls, rs, tri, depth, class_to_explain):
    """Resolve one triangle's members in the sources, then build its
    depth-``depth`` perturbation rows."""
    members = T.fetch_members({0: T.Probe([tri], class_to_explain)}, ls, rs)[0]
    l_attrs = [c for c in ls.columns if c != "id"]
    r_attrs = [c for c in rs.columns if c != "id"]
    return T.perturbations(members, l_attrs, r_attrs, depth, class_to_explain)


def test_perturbations_class1_copy_semantics(spark):
    """class 1: perturbed record starts from pivot u, receives subset
    values from free w (triangles_method.py:84-94)."""
    ls, rs = _sources(spark)
    tri = ("0@1", "1@10", "0@2", "left")
    out = _perturbations(ls, rs, tri, 1, 1)
    by_attr = {tuple(r["alteredAttributes"]): r for r in out}
    assert set(by_attr) == {("ltable_name",), ("ltable_description",)}
    r = by_attr[("ltable_name",)]
    assert r["ltable_name"] == "w name"          # copied from free
    assert r["ltable_description"] == "u desc"   # untouched from pivot
    assert r["rtable_name"] == "v name"          # anchor side intact
    assert list(r["droppedValues"]) == ["u name"]
    assert list(r["copiedValues"]) == ["w name"]
    assert r["triangle"] == "0@1 1@10 0@2"


def test_perturbations_class0_reversed(spark):
    """class 0: perturbed record starts from free w, receives values
    from pivot u (triangles_method.py:96-105)."""
    ls, rs = _sources(spark)
    tri = ("0@1", "1@10", "0@2", "left")
    out = _perturbations(ls, rs, tri, 1, 0)
    by_attr = {tuple(r["alteredAttributes"]): r for r in out}
    r = by_attr[("ltable_name",)]
    assert r["ltable_name"] == "u name"          # copied from pivot
    assert r["ltable_description"] == "w desc"   # base is free record
    assert list(r["droppedValues"]) == ["w name"]
    assert list(r["copiedValues"]) == ["u name"]


def test_perturbations_right_side_and_depth2(spark):
    ls, rs = _sources(spark)
    rs3 = spark.createDataFrame(
        [(10, "v name", "v desc"), (12, "q", "r"), (13, "s", "t")],
        ["id", "name", "description"],
    )
    tri = ("1@10", "0@1", "1@12", "right")
    out = _perturbations(ls, rs3, tri, 2, 1)
    assert len(out) == 1  # C(2,2) = 1 subset of rtable attrs
    r = out[0]
    assert tuple(r["alteredAttributes"]) == ("rtable_name", "rtable_description")
    assert r["rtable_name"] == "q" and r["rtable_description"] == "r"
    assert r["ltable_name"] == "u name"  # anchor (left) side intact


def test_aggregate_and_summary():
    # (alteredAttributes, flips, depth)
    rankings = [
        (("a",), 3, 1),
        (("b",), 0, 1),
        (("a", "b"), 5, 2),
        (("a", "c"), 5, 2),
    ]
    expl = T.aggregate_rankings(rankings, n_triangles=10, attr_length=3)
    vals = {"/".join(k): v for k, v in expl.items()}
    assert vals == {"a": 0.3, "b": 0.0, "a/b": 0.5, "a/c": 0.5}

    summary = T.cf_summary(expl)
    keys = {"/".join(k) for k in summary}
    assert keys == {"a/b", "a/c"}  # both at max 0.5, neither contains the other

    sal = T.saliency(rankings, ["a", "b", "c"], n_triangles=10, n_flipped=13)
    flips = 13 + 10
    assert abs(sal["a"] - (10 / flips + (3 + 5 + 5) / flips)) < 1e-12
    assert abs(sal["b"] - (10 / flips + (0 + 5) / flips)) < 1e-12
    assert abs(sal["c"] - (10 / flips + 5 / flips)) < 1e-12


def test_cf_summary_minimality():
    expl = {("a",): 0.5, ("a", "b"): 0.5, ("c", "d"): 0.5, ("b",): 0.2}
    keys = {"/".join(k) for k in T.cf_summary(expl)}
    # a/b strictly contains surviving a -> dropped; c/d survives
    assert keys == {"a", "c/d"}


def test_monotonicity_early_exit(spark):
    """Once an entire depth flips, deeper depths synthesize flips
    without model calls (triangles_method.py:309-327)."""
    calls = []

    class AlwaysFlipMatcher:
        def predict(self, pairs):
            calls.append(1)
            return pairs.withColumn("match_score", F.lit(0.0)).withColumn(
                "nomatch_score", F.lit(1.0)
            )

    ls = spark.createDataFrame(
        [(1, "a", "b", "c"), (2, "d", "e", "f")],
        ["id", "name", "description", "price"],
    )
    rs = spark.createDataFrame(
        [(10, "p", "q", "r")], ["id", "name", "description", "price"]
    )
    tri = ("0@1", "1@10", "0@2", "left")
    flipped, rankings, all_pred = T.perturb_predict(
        spark, [tri], ls, rs, AlwaysFlipMatcher(), 1, attr_length=3
    )
    # depth 1 flips everything -> depth 2 synthesized (1 model call only)
    assert len(calls) == 1
    # flips recorded for both depths: C(3,1) + C(3,2) subsets
    assert len(flipped) == 3 + 3
    assert sum(flips for _, flips, _ in rankings) == 6
    # prediction log only contains genuinely predicted rows
    assert len(all_pred) == 3


def test_lens_interventions_and_degrees(spark):
    from certa_spark.operators.interventions import degrees, intervention_frame
    from pyspark.sql import functions as F

    inp = {"a": "x", "b": "y"}
    refs = spark.createDataFrame([(1, "p", "q"), (2, "x", "q")], ["id", "a", "b"])
    cf = intervention_frame(inp, refs, ["a", "b"], r2i=True)
    rows = {
        (r["ref_id"], "/".join(r["intervention_set"])): (r["a"], r["b"])
        for r in cf.collect()
    }
    # 2 refs x 4 subsets
    assert len(rows) == 8
    assert rows[(1, "")] == ("p", "q")          # no intervention -> ref
    assert rows[(1, "a")] == ("x", "q")         # a takes input value
    assert rows[(1, "a/b")] == ("x", "y")       # full input
    # i2r flips the roles
    cf2 = intervention_frame(inp, refs, ["a", "b"], r2i=False)
    rows2 = {
        (r["ref_id"], "/".join(r["intervention_set"])): (r["a"], r["b"])
        for r in cf2.collect()
    }
    assert rows2[(1, "")] == ("x", "y")
    assert rows2[(1, "a")] == ("p", "y")

    scored = cf.withColumn("pred", (F.col("a") == "x").cast("int"))
    deg = {
        r["intervention_set"]: (r["degree"], r["n"])
        for r in degrees(scored, f_inp=1, r2i=True).collect()
    }
    # subsets containing 'a' force a == input -> sufficiency 1.0
    assert deg["a"] == (1.0, 2)
    assert deg["a/b"] == (1.0, 2)
    # empty set: only ref 2 already has a == 'x' -> 0.5
    assert deg[""] == (0.5, 2)


def test_mojito_shared_tokens_rank_top(spark):
    from certa_spark.matching import NativeCosineMatcher
    from certa_spark.operators.mojito import explain_pair

    l = {"id": 0, "name": "apple iphone pro", "desc": "oled smartphone"}
    r = {"id": 0, "name": "apple iphone max", "desc": "great phone"}
    out = explain_pair(spark, l, r, NativeCosineMatcher(), n_samples=128)
    top4 = {(row["side"], row["token"]) for row in out[:4]}
    # the cross-side shared tokens drive the match score
    assert top4 == {("l", "apple"), ("l", "iphone"), ("r", "apple"), ("r", "iphone")}
    assert all(row["weight"] > 0 for row in out[:4])
    # deterministic: same seed -> same weights
    again = explain_pair(spark, l, r, NativeCosineMatcher(), n_samples=128)
    assert [r_["weight"] for r_ in again] == [r_["weight"] for r_ in out]


def test_landmark_and_greedy_cf(spark):
    from certa_spark.matching import NativeCosineMatcher
    from certa_spark.operators.mojito import explain_pair, greedy_counterfactual

    l = {"id": 0, "name": "apple iphone pro", "desc": "oled smartphone"}
    r = {"id": 0, "name": "apple iphone max", "desc": "great phone"}
    m = NativeCosineMatcher()

    lk = explain_pair(spark, l, r, m, n_samples=128, landmark="right")
    assert {x["side"] for x in lk} == {"l"}  # right side pinned

    rank = explain_pair(spark, l, r, m, n_samples=128)
    cf = greedy_counterfactual(spark, l, r, m, rank, predicted_class=1)
    assert cf is not None
    assert cf["match_score"] < 0.5
    # minimality: dropping one fewer token must NOT flip
    assert cf["n_dropped"] >= 1
    if cf["n_dropped"] > 1:
        shorter = greedy_counterfactual(
            spark, l, r, m, rank, predicted_class=1,
            max_tokens=cf["n_dropped"] - 1,
        )
        assert shorter is None


def test_kernel_shap_efficiency_and_ranking(spark):
    """KernelSHAP weights satisfy the efficiency axiom (sum = f(x) -
    f(empty)) by construction of the constrained solve, rank the
    cross-side shared tokens on top, and are seed-deterministic."""
    from certa_spark.matching import NativeCosineMatcher
    from certa_spark.operators.mojito import (
        greedy_counterfactual,
        kernel_shap_pair,
        token_mask_samples,
    )

    l = {"id": 0, "name": "apple iphone pro", "desc": "oled smartphone"}
    r = {"id": 0, "name": "apple iphone max", "desc": "great phone"}
    m = NativeCosineMatcher()
    out = kernel_shap_pair(spark, l, r, m, n_samples=128)

    samples, _ = token_mask_samples(spark, l, r, n_samples=2, empty_sample_id=1)
    scores = {
        row["_sample_id"]: row["match_score"]
        for row in m.predict(samples).select("_sample_id", "match_score").collect()
    }
    assert abs(sum(x["weight"] for x in out) - (scores[0] - scores[1])) < 1e-6

    top4 = {(row["side"], row["token"]) for row in out[:4]}
    assert top4 == {("l", "apple"), ("l", "iphone"), ("r", "apple"), ("r", "iphone")}
    again = kernel_shap_pair(spark, l, r, m, n_samples=128)
    assert [x["weight"] for x in again] == [x["weight"] for x in out]

    # SHAP-C: the ranking plugs into the greedy CF search and flips
    cf = greedy_counterfactual(spark, l, r, m, out, predicted_class=1)
    assert cf is not None and cf["match_score"] < 0.5


def test_fused_depth_loop_equivalence(spark):
    """The one-round mode of a cheap matcher must reproduce the per-depth
    loop of a costly one exactly — including the post-hoc early-exit
    reconstruction when a depth fully flips."""

    class AlwaysFlipMatcher:
        def __init__(self, cheap):
            self.cheap = cheap

        def predict(self, pairs):
            return pairs.withColumn("match_score", F.lit(0.0)).withColumn(
                "nomatch_score", F.lit(1.0)
            )

    ls = spark.createDataFrame(
        [(1, "a", "b", "c"), (2, "d", "e", "f")],
        ["id", "name", "description", "price"],
    )
    rs = spark.createDataFrame(
        [(10, "p", "q", "r")], ["id", "name", "description", "price"]
    )
    tri = ("0@1", "1@10", "0@2", "left")

    def snapshot(fused):
        f, r, a = T.perturb_predict(
            spark, [tri], ls, rs, AlwaysFlipMatcher(fused), 1, attr_length=3
        )
        key = lambda rows: sorted(
            (tuple(row["alteredAttributes"]), row["depth"], row["match_score"])
            for row in rows
        )
        rank = sorted((tuple(a_), depth, flips) for a_, flips, depth in r)
        return key(f), rank, key(a)

    assert snapshot(fused=False) == snapshot(fused=True)

    # and with a non-flipping matcher (no early exit at all)
    from certa_spark.matching import NativeCosineMatcher

    def unscored(rows):
        return sorted(
            tuple(sorted((k, v) for k, v in row.items() if k not in SCORES))
            for row in rows
        )

    def snap2(fused):
        m = NativeCosineMatcher()
        m.cheap = fused
        f, r, a = T.perturb_predict(spark, [tri], ls, rs, m, 1, attr_length=3)
        return unscored(f), sorted(r), unscored(a)

    assert snap2(False) == snap2(True)
