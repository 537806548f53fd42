"""Direct output parity vs the reference implementation.

Runs the ACTUAL reference code (/root/reference, imported read-only)
and this engine on the same fixture with the same deterministic pandas
predict_fn, and compares saliency / PSS / triangle sets / CF attr-sets.

The fixture is engineered so every stochastic reference code path is a
no-op, making set-level outputs exactly deterministic:
  * sources have 12 rows, num_triangles=6 -> scan batch = 12 = one
    batch covering the whole source (order within a batch cannot change
    the qualifying SET);
  * exactly 3 qualifying (opposite-class) candidates per side ->
    support = 6 == num_triangles: no DA fallback (< triggers it), no
    head/tail truncation (> triggers it), no balancing subsample
    (sides equal) — the only unseeded reference RNG calls
    (sample(frac=1) permute) then permute a set we compare as a set.

The engine's outputs on these fixtures are also frozen below as literal
goldens (GOLDEN), so parity holds without a reference checkout: every
test compares against the goldens, and additionally against the live
reference when /root/reference exists. The goldens were proved equal to
the reference by the r12 verification run (VERIFY_r12.json: 361 passed
with the reference present, these five tests included) on the explain
code they were frozen from.
"""

from __future__ import annotations

import os
import sys
import types

import pandas as pd
import pytest

REF = "/root/reference"
HAVE_REF = os.path.isdir(REF)

# The engine's outputs per fixture: saliency, PSS, sorted triangles and
# sorted CF attr-sets (one entry per counterfactual row).
_SAL_HALF = {"ltable_desc": 0.75, "ltable_name": 0.5,
             "rtable_desc": 0.75, "rtable_name": 0.5}
_PSS_DESC = {"ltable_desc": 0.5, "ltable_name": 0.0,
             "rtable_desc": 0.5, "rtable_name": 0.0}
GOLDEN = {
    "nonmatch": {
        "saliency": {"ltable_desc": 0.6, "ltable_name": 0.8,
                     "rtable_desc": 0.6, "rtable_name": 0.8},
        "pss": {"ltable_desc": 0.0, "ltable_name": 1 / 3,
                "rtable_desc": 0.0, "rtable_name": 1 / 3},
        "triangles": [("0@1", "1@0", "0@0"), ("0@2", "1@0", "0@0"),
                      ("0@3", "1@0", "0@0"), ("1@1", "0@0", "1@0"),
                      ("1@2", "0@0", "1@0"), ("1@3", "0@0", "1@0")],
        "cf_sets": [("ltable_name",)] * 2 + [("rtable_name",)] * 2,
    },
    "match": {
        "saliency": {"ltable_desc": 0.5, "ltable_name": 0.6428571428571428,
                     "rtable_desc": 0.5, "rtable_name": 0.6428571428571428},
        "pss": {"ltable_desc": 1 / 6, "ltable_name": 0.5,
                "rtable_desc": 1 / 6, "rtable_name": 0.5},
        "triangles": [("0@0", "1@0", "0@1"), ("0@0", "1@0", "0@2"),
                      ("0@0", "1@0", "0@3"), ("1@0", "0@0", "1@1"),
                      ("1@0", "0@0", "1@2"), ("1@0", "0@0", "1@3")],
        "cf_sets": [("ltable_name",)] * 3 + [("rtable_name",)] * 3,
    },
    "da_fallback": {
        "saliency": _SAL_HALF,
        "pss": _PSS_DESC,
        "triangles": [("0@0", "1@0", "0@11"), ("0@0", "1@0", "0@13"),
                      ("0@0", "1@0", "0@28"), ("1@0", "0@0", "1@11"),
                      ("1@0", "0@0", "1@13"), ("1@0", "0@0", "1@28")],
        "cf_sets": [("ltable_desc",)] * 3 + [("rtable_desc",)] * 3,
    },
    # the engine's seeded truncation picks; the reference's are unseeded
    # (see test_explain_truncation_branch_invariants)
    "truncation": {
        "saliency": _SAL_HALF,
        "pss": _PSS_DESC,
        "triangles": [("0@0", "1@0", "0@2"), ("0@0", "1@0", "0@5"),
                      ("0@0", "1@0", "0@6"), ("1@0", "0@0", "1@10"),
                      ("1@0", "0@0", "1@5"), ("1@0", "0@0", "1@9")],
        "cf_sets": [("ltable_desc",)] * 3 + [("rtable_desc",)] * 3,
    },
}
# the engine's side of each CF-metric bridge (test_cf_metrics_...)
GOLDEN_CF_METRICS = {"validity": 2 / 3, "proximity": 2.0, "diversity": 2 / 3}


def _import_reference():
    if "certa.explain" in sys.modules:
        import certa.explain as ref_explain  # type: ignore

        return ref_explain
    # the reference imports tqdm (absent here) purely as a progress bar
    if "tqdm" not in sys.modules:
        stub = types.ModuleType("tqdm")

        class _Tqdm:
            def __init__(self, iterable=None, **kw):
                self._it = iterable

            def __iter__(self):
                return iter(self._it)

        stub.tqdm = _Tqdm
        sys.modules["tqdm"] = stub
    # the reference targets pandas 1.x; restore DataFrame.append (removed
    # in pandas 2) with the old list-of-Series row semantics
    if not hasattr(pd.DataFrame, "append"):

        def _append(self, other, ignore_index=False, **kw):
            if isinstance(other, (pd.DataFrame, pd.Series)):
                frames = [self, pd.DataFrame(other).T if isinstance(other, pd.Series) else other]
            else:
                frames = [self, pd.DataFrame(other)]
            return pd.concat(frames, ignore_index=ignore_index)

        pd.DataFrame.append = _append  # type: ignore[attr-defined]
    sys.dont_write_bytecode = True
    sys.path.insert(0, REF)
    import certa.explain as ref_explain  # type: ignore

    return ref_explain


# 12-row sources; probe pair (l0, r0) shares no tokens -> predicted
# non-match (class 0) -> support hunts POSITIVES. Exactly rows 1-3 of
# each source overlap heavily with the OPPOSITE probe; rows 4-11 are
# disjoint filler.
L0 = ("alpha beta gamma", "delta epsilon")
R0 = ("omega sigma tau", "kappa lambda")


def _sources():
    l_rows = [(0, *L0)]
    r_rows = [(0, *R0)]
    # qualifying vs the opposite probe (share >= 4 of its 5 tokens)
    l_rows += [
        (1, "omega sigma tau", "kappa one"),
        (2, "omega sigma tau extra", "kappa lambda"),
        (3, "omega sigma", "kappa lambda"),
    ]
    r_rows += [
        (1, "alpha beta gamma", "delta two"),
        (2, "alpha beta gamma extra", "delta epsilon"),
        (3, "alpha beta", "delta epsilon"),
    ]
    for i in range(4, 12):
        l_rows.append((i, f"lfill{i} lnoise{i}", f"ldesc{i}"))
        r_rows.append((i, f"rfill{i} rnoise{i}", f"rdesc{i}"))
    cols = ["id", "name", "desc"]
    return cols, l_rows, r_rows


def _ours(spark, cols, l_rows, r_rows, num_triangles=6):
    from certa_spark.explainer import CertaExplainer
    from certa_spark.matching import NativeCosineMatcher

    A = spark.createDataFrame(l_rows, cols)
    B = spark.createDataFrame(r_rows, cols)
    ours = CertaExplainer(spark, A, B, data_augmentation="no")
    return ours.explain(
        dict(zip(cols, l_rows[0])),
        dict(zip(cols, r_rows[0])),
        NativeCosineMatcher(),
        num_triangles=num_triangles,
    )


def _reference(cols, l_rows, r_rows, num_triangles=6):
    ref_explain = _import_reference()
    from certa_spark.matching import NativeCosineMatcher

    l_pdf = pd.DataFrame(l_rows, columns=cols)
    r_pdf = pd.DataFrame(r_rows, columns=cols)
    ref = ref_explain.CertaExplainer(l_pdf, r_pdf, data_augmentation="no")
    return ref.explain(
        l_pdf.iloc[0], r_pdf.iloc[0], NativeCosineMatcher().predict_pandas,
        num_triangles=num_triangles,
    )


def _cf_sets(res) -> list[tuple]:
    if not len(res.counterfactuals):
        return []
    return sorted(
        tuple(sorted(v.split("/")))
        for v in res.counterfactuals["alteredAttributes"]
    )


def _assert_golden(res, golden):
    assert sorted(res.triangles) == golden["triangles"]
    assert set(res.saliency_dict) == set(golden["saliency"])
    for k, v in golden["saliency"].items():
        assert abs(v - res.saliency_dict[k]) < 1e-9, (k, v, res.saliency_dict[k])
    assert {k: float(v) for k, v in dict(res.pss).items()} == pytest.approx(
        golden["pss"]
    )
    assert _cf_sets(res) == sorted(golden["cf_sets"])


def _check(spark, name, cols, l_rows, r_rows):
    """Compare against the frozen golden always, and against the live
    reference when it is present."""
    res = _ours(spark, cols, l_rows, r_rows)
    _assert_golden(res, GOLDEN[name])
    if HAVE_REF:
        _assert_match(_reference(cols, l_rows, r_rows), res)
    return res


def _assert_match(ref_out, res):
    ref_sal, ref_pss, ref_cfs, ref_tris, _ = ref_out

    # triangles: same wedge set
    assert sorted(tuple(t) for t in ref_tris) == sorted(res.triangles)

    # saliency: same per-attribute values
    ref_sal_d = {c: float(ref_sal.iloc[0][c]) for c in ref_sal.columns}
    assert set(ref_sal_d) == set(res.saliency_dict)
    for k, v in ref_sal_d.items():
        assert abs(v - res.saliency_dict[k]) < 1e-9, (k, v, res.saliency_dict[k])

    # probability of sufficiency: same attr-set -> value map
    ref_pss_d = {k: float(v) for k, v in dict(ref_pss).items()}
    ours_pss_d = {k: float(v) for k, v in dict(res.pss).items()}
    assert ref_pss_d == pytest.approx(ours_pss_d)

    # counterfactuals: same altered attr-sets (reference stringifies
    # python tuples; normalize both to frozensets)
    def ref_attrs(v) -> frozenset:
        if isinstance(v, tuple):
            return frozenset(v)
        return frozenset(
            t for t in str(v).replace("(", "").replace(")", "").replace("'", "").replace(",", " ").split()
        )

    ref_sets = sorted(
        tuple(sorted(ref_attrs(v))) for v in ref_cfs["alteredAttributes"]
    ) if len(ref_cfs) else []
    assert ref_sets == _cf_sets(res)


def test_explain_matches_reference_nonmatch_class(spark):
    cols, l_rows, r_rows = _sources()
    _check(spark, "nonmatch", cols, l_rows, r_rows)


def test_explain_matches_reference_match_class(spark):
    """pc=1 path: probe pair predicted MATCH; support hunts negatives;
    perturbations run base=pivot / donor=free. Rows 1-3 per side are
    disjoint from the opposite probe (the 3 qualifying negatives); rows
    4-11 share >=4/5 tokens with it (non-qualifying matches)."""
    l0 = (0, "core token set one two", "shared desc words")
    r0 = (0, "core token set one three", "shared desc words")
    l_rows = [l0]
    r_rows = [r0]
    l_rows += [
        (1, "xeno yotta", "zulu one"),
        (2, "xeno yotta quux", "zulu two"),
        (3, "xeno quux", "zulu three"),
    ]
    r_rows += [
        (1, "nadir oblong", "pylon one"),
        (2, "nadir oblong quill", "pylon two"),
        (3, "nadir quill", "pylon three"),
    ]
    for i in range(4, 12):
        # shares most tokens with the OPPOSITE probe -> predicted match
        l_rows.append((i, "core token set one three", f"shared desc l{i}"))
        r_rows.append((i, "core token set one two", f"shared desc r{i}"))
    cols = ["id", "name", "desc"]
    res = _check(spark, "match", cols, l_rows, r_rows)
    assert len(res.triangles) > 0


def test_explain_matches_reference_da_fallback(spark):
    """DA-fallback branch (local_explain.py:51-60): initial support =
    2 < num_triangles=6 triggers expand_copies; the copies scan finds
    exactly 2 qualifying negatives per side (the kk=2 token-drop
    variants; cos = sqrt(kk/11): kk=2 -> 0.426 < 0.5 < 0.522 <- kk=3),
    so total support = 6 == num_triangles and the random head/tail
    truncation never fires — every stochastic reference path is a
    no-op and the comparison is exact at set level.

    Fixture: match-class probe pair (identical records, 1-token name +
    10-token desc => 18 variants per probe >= the scan batch of 12,
    and variant ids 12..29 reproduce the reference's len(source)+i
    numbering because src_id=0 zeroes the arithmetic-id stride term);
    sources hold 10 near-copies (cos 0.909, non-qualifying) and one
    disjoint row (the single qualifying negative) per side.
    """
    desc = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    l_rows = [(0, "anchor", desc)]
    r_rows = [(0, "anchor", desc)]
    for i in range(1, 11):
        l_rows.append((i, "anchor", f"c1 c2 c3 c4 c5 c6 c7 c8 c9 lfil{i}"))
        r_rows.append((i, "anchor", f"c1 c2 c3 c4 c5 c6 c7 c8 c9 rfil{i}"))
    l_rows.append((11, "zork", "la1 la2 la3 la4 la5 la6 la7 la8 la9 la10"))
    r_rows.append((11, "zork", "ra1 ra2 ra3 ra4 ra5 ra6 ra7 ra8 ra9 ra10"))
    cols = ["id", "name", "desc"]
    res = _check(spark, "da_fallback", cols, l_rows, r_rows)
    # the branch actually fired and contributed: 6 triangles, 4 of them
    # anchored on generated copy ids (>= 12)
    assert len(res.triangles) == 6
    copy_frees = [t for t in res.triangles if int(t[2].split("@")[1]) >= 12]
    assert len(copy_frees) == 4


def test_explain_truncation_branch_invariants(spark):
    """Head/tail truncation branch (local_explain.py:63-64): 22
    qualifying support rows > num_triangles=6. The reference truncates
    a pandas sample(frac=1) permutation — an UNSEEDED random subset —
    so exact set parity is impossible by design (SURVEY §7 grades this
    distribution-level). Assert the invariants both engines must share:
    exactly num_triangles triangles, every triangle = the two probe
    vertices plus one free vertex from the qualifying universe, and the
    saliency frame covers the same attributes. The engine's own seeded
    picks are pinned by its golden.
    """
    desc = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    l_rows = [(0, "anchor", desc)]
    r_rows = [(0, "anchor", desc)]
    for i in range(1, 12):
        l_rows.append((i, f"lw{i}", f"lx{i} ly{i} lz{i}"))
        r_rows.append((i, f"rw{i}", f"rx{i} ry{i} rz{i}"))
    cols = ["id", "name", "desc"]
    res = _ours(spark, cols, l_rows, r_rows)
    _assert_golden(res, GOLDEN["truncation"])

    probes = {"0@0", "1@0"}
    allowed_free = {f"0@{i}" for i in range(1, 12)} | {
        f"1@{i}" for i in range(1, 12)
    }
    runs = [(sorted(res.triangles), set(res.saliency_dict))]
    if HAVE_REF:
        ref_sal, _, _, ref_tris, _ = _reference(cols, l_rows, r_rows)
        runs.append((sorted(tuple(t) for t in ref_tris), set(ref_sal.columns)))
    for tris, sal_attrs in runs:
        assert len(tris) == 6
        assert len(set(tris)) == 6
        for t in tris:
            assert set(t[:2]) == probes, t
            assert t[2] in allowed_free, t
        assert sal_attrs == set(res.saliency_dict)


def test_cf_metrics_match_reference_formulas(spark):
    """A9-A12 parity vs the EXECUTED reference metric code
    (certa/metrics/counterfactual.py): our Spark metrics use a
    count/unordered-pair convention internally, so this test pins the
    exact algebraic bridge — ref_proximity = 1 - ours/len(original),
    ref_diversity = ours*(n-1)/n (ordered pairs over n² vs unordered
    mean), validity identical given the same matcher scores, and
    cf_sparsity reproduces get_sparsity when fed reference-convention
    inputs. If either side's semantics drift, a bridge equality
    breaks. Our side is pinned to GOLDEN_CF_METRICS; the reference side
    runs only when the reference is present."""
    from certa_spark.matching import NativeCosineMatcher
    from certa_spark.metrics import (
        cf_diversity,
        cf_proximity,
        cf_sparsity,
        cf_validity,
    )

    attrs = [
        "ltable_name", "ltable_desc", "rtable_name", "rtable_desc",
    ]
    extras = {
        "alteredAttributes": "('name',)",
        "copiedValues": "[]",
        "droppedValues": "[]",
        "attr_count": 1,
    }
    rows = [
        {"ltable_name": "alpha beta", "ltable_desc": "gamma",
         "rtable_name": "alpha beta", "rtable_desc": "gamma", **extras},
        {"ltable_name": "omega tau", "ltable_desc": "gamma",
         "rtable_name": "alpha beta", "rtable_desc": "sigma", **extras},
        {"ltable_name": "alpha beta", "ltable_desc": "delta",
         "rtable_name": "kappa mu", "rtable_desc": "gamma", **extras},
    ]
    original = {
        "ltable_name": "alpha beta", "ltable_desc": "gamma",
        "rtable_name": "kappa mu", "rtable_desc": "sigma",
    }
    pdf = pd.DataFrame(rows)
    matcher = NativeCosineMatcher()
    sdf = spark.createDataFrame(pdf)

    ours_val = cf_validity(sdf, 1, matcher)
    ours_prox = cf_proximity(sdf, original)
    ours_div = cf_diversity(sdf, attrs)
    golden = GOLDEN_CF_METRICS
    assert abs(ours_val - golden["validity"]) < 1e-9
    assert abs(ours_prox - golden["proximity"]) < 1e-9
    assert abs(ours_div - golden["diversity"]) < 1e-9

    # the reference-convention values the bridge maps ours onto
    n = len(rows)
    bridged_prox = 1.0 - ours_prox / len(original)
    bridged_div = ours_div * (n - 1) / n
    ours_spars = cf_sparsity(bridged_prox, len(attrs))
    assert abs(bridged_prox - 0.5) < 1e-9
    assert abs(bridged_div - 4 / 9) < 1e-9
    assert abs(ours_spars - 0.75) < 1e-9
    if not HAVE_REF:
        return

    _import_reference()  # sets sys.path to /root/reference
    from certa.metrics.counterfactual import (  # type: ignore
        get_diversity,
        get_proximity,
        get_sparsity,
        get_validity,
    )

    # validity: reference takes precomputed scores, ours re-predicts
    # through the same matcher (predict == predict_pandas to 1e-9)
    ref_val = get_validity(None, matcher.predict_pandas(pdf), 1)
    assert abs(ref_val - ours_val) < 1e-9
    ref_prox = get_proximity(pdf[attrs], original)
    assert abs(ref_prox - bridged_prox) < 1e-9
    assert abs(get_diversity(pdf[attrs]) - bridged_div) < 1e-9
    assert abs(get_sparsity(pdf[attrs], original) - ours_spars) < 1e-9
