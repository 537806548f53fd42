"""End-to-end invariants of CertaExplainer (FIXTURES.md §6)."""

import pytest
from pyspark.sql import functions as F

from certa_spark.explainer import CertaExplainer
from certa_spark.matching import NativeCosineMatcher
from tests.fixtures import COLS


@pytest.fixture(scope="module")
def result(spark, er_tables):
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    l = dict(zip(COLS, rows_a[0]))
    r = dict(zip(COLS, rows_b[0]))
    return ex.explain(l, r, NativeCosineMatcher(), num_triangles=10), rows_a, rows_b


def test_saliency_bounds_and_base_rate(result):
    res, *_ = result
    n_tri = len(res.triangles)
    assert n_tri > 0
    sal = res.saliency_dict
    assert set(sal) == {
        "ltable_name", "ltable_description", "ltable_price",
        "rtable_name", "rtable_description", "rtable_price",
    }
    # flips >= n_triangles so base rate <= 1; every attr >= base rate
    base = min(sal.values())
    for v in sal.values():
        assert 0.0 <= v <= 1.0
        assert v >= base - 1e-12


def test_cf_summary_minimal_and_max(result):
    res, *_ = result
    if len(res.cf_summary) == 0:
        pytest.skip("no flips")
    assert res.cf_summary.nunique() <= 1  # all at the max PSS
    keys = [set(k.split("/")) for k in res.cf_summary.index]
    for i, a in enumerate(keys):
        for j, b in enumerate(keys):
            if i != j:
                assert not (b < a), "non-minimal set survived"


def test_counterfactuals_flipped(result):
    res, *_ = result
    cfs = res.counterfactuals
    if len(cfs) == 0:
        pytest.skip("no cfs")
    # class 1 explained -> flipped rows have match_score < 0.5
    assert (cfs["match_score"] < 0.5).all()
    # dedup respected
    key = cfs[["copiedValues", "alteredAttributes", "droppedValues"]]
    assert not key.duplicated().any()
    # simplest-first ordering
    assert list(cfs["attr_count"]) == sorted(cfs["attr_count"])


def test_triangle_invariant_repredicted(result, spark):
    """FIXTURES.md §6: every triangle's <pivot,anchor> pair must be
    predicted a match and <anchor,free> a non-match by the matcher."""
    res, rows_a, rows_b = result
    a_by_id = {r[0]: dict(zip(COLS, r)) for r in rows_a}
    b_by_id = {r[0]: dict(zip(COLS, r)) for r in rows_b}
    m = NativeCosineMatcher()

    def lookup(member):
        src, rid = member.split("@")
        return (a_by_id if src == "0" else b_by_id).get(int(rid))

    checked = 0
    for pivot, anchor, free in res.triangles[:5]:
        pr, ar, fr = lookup(pivot), lookup(anchor), lookup(free)
        if pr is None or ar is None or fr is None:
            continue  # DA-generated record beyond the base sources
        left_first = pivot.startswith("0@")
        lrec, rrec = (pr, ar) if left_first else (ar, pr)
        from certa_spark.operators.pairs import pair_row

        match_pair = pair_row(spark, lrec, rrec)
        s1 = m.predict(match_pair).collect()[0]["match_score"]
        assert s1 >= 0.5, (pivot, anchor)
        lrec2, rrec2 = (fr, ar) if left_first else (ar, fr)
        non_pair = pair_row(spark, lrec2, rrec2)
        s2 = m.predict(non_pair).collect()[0]["match_score"]
        assert s2 < 0.5, (anchor, free)
        checked += 1
    assert checked > 0


def test_empty_when_no_support(spark, er_tables):
    """A probe with no text overlap anywhere and DA off yields the empty
    explanation contract (explain.py:156-158)."""
    *_, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    l = {"id": 999, "name": "zzz qqq", "description": "xxx", "price": "1"}
    r = {"id": 999, "name": "www vvv", "description": "uuu", "price": "2"}
    res = ex.explain(l, r, NativeCosineMatcher(), num_triangles=200)
    assert len(res.triangles) == 0
    assert len(res.saliency) == 0


def test_explain_debug_lattices(spark, er_tables):
    from certa_spark.explainer import CertaExplainer
    from certa_spark.matching import NativeCosineMatcher
    from tests.fixtures import COLS

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    res = ex.explain(
        dict(zip(COLS, rows_a[0])),
        dict(zip(COLS, rows_b[0])),
        NativeCosineMatcher(),
        num_triangles=4,
        debug=True,
    )
    assert len(res.lattices) == len(
        {t for t in (lat.triangle for lat in res.lattices)}
    )
    if res.lattices:
        lat = res.lattices[0]
        dot = lat.hasse_dot()
        assert dot.startswith("digraph G")
        assert lat.bottom == frozenset()


def test_explain_pandas_adapter_matches_native(spark, er_tables):
    """UD1 — an arbitrary pandas predict_fn wrapped in mapInPandas must
    yield the same explanation as the JVM-side Column matcher (the two
    compute identical scores by construction)."""
    from certa_spark.explainer import CertaExplainer
    from certa_spark.matching import NativeCosineMatcher, PandasPredictAdapter
    from tests.fixtures import COLS

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    l_rec = dict(zip(COLS, rows_a[0]))
    r_rec = dict(zip(COLS, rows_b[0]))

    native = NativeCosineMatcher()
    adapted = PandasPredictAdapter(predict_fn=native.predict_pandas)

    res_n = ex.explain(l_rec, r_rec, native, num_triangles=4)
    res_a = ex.explain(l_rec, r_rec, adapted, num_triangles=4)

    assert res_n.saliency_dict == res_a.saliency_dict
    assert sorted(res_n.triangles) == sorted(res_a.triangles)
    assert dict(res_n.pss) == dict(res_a.pss)


def test_explain_data_augmentation_always(spark, er_tables):
    """'always' widens sources upfront AND disables the batched
    early-exit scan (use_all -> one full predict pass)."""
    from certa_spark.explainer import CertaExplainer
    from certa_spark.matching import NativeCosineMatcher
    from tests.fixtures import COLS

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="always")
    n_l = A.count()
    assert ex.lsource.count() > n_l  # token-drop copies appended
    res = ex.explain(
        dict(zip(COLS, rows_a[0])),
        dict(zip(COLS, rows_b[0])),
        NativeCosineMatcher(),
        num_triangles=4,
    )
    assert res.saliency is not None


def _reaches_copy(triangle, n_rows: int) -> bool:
    """Whether a triangle has a vertex past the ``n_rows`` source rows:
    a DA token-drop copy."""
    return any(int(v.split("@")[1]) >= n_rows for v in triangle)


def test_explain_on_demand_fallback_expands_copies(spark, er_tables):
    """An instance whose main-source support falls short of
    num_triangles runs the DA fallback: the token-drop copies of its
    own records are scanned, and their support pairs join the main
    ones. Here 5 of the 6 triangles reach a copy (an id past the 60
    source rows) and one stays within the sources."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    res = ex.explain(
        dict(zip(COLS, rows_a[0])),
        dict(zip(COLS, rows_b[40])),
        NativeCosineMatcher(),
        num_triangles=6,
    )
    assert len(res.triangles) == 6
    assert sum(_reaches_copy(t, len(rows_b)) for t in res.triangles) == 5


def _jobs_of(spark, group: str, fn):
    """(Spark jobs ``fn()`` launched on this thread, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_fallback_explain_job_budget(spark, er_tables):
    """A warm explain whose support falls short (num_triangles=40 over
    60-row sources, so the main scan qualifies nothing) launches at most
    6 Spark jobs, through ``explain`` and ``explain_batch([x])`` alike:
    the main scan (2) and the scan of the cached copies (4). The copies
    are built on the driver, each source is counted once per explainer
    and the main sources are never scanned twice. Sizing each side's
    copies with a Spark aggregate cost 4 more jobs; before that, the
    fallback also rescanned the main sources and counted both on every
    call: 14 jobs for ``explain`` and 16 for ``explain_batch``."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    l, r = dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))
    ex.explain(l, r, m, num_triangles=40)
    n_one, one = _jobs_of(
        spark, "fallback-explain", lambda: ex.explain(l, r, m, num_triangles=40)
    )
    n_batch, [batch] = _jobs_of(
        spark, "fallback-batch",
        lambda: ex.explain_batch([(l, r)], m, num_triangles=40),
    )
    assert n_one <= 6, n_one
    assert n_batch <= 6, n_batch
    assert _summary(batch) == _summary(one)


def test_explain_batch_mixes_fallback_and_plain(spark, er_tables):
    """A batch where one instance runs the DA fallback and one does not
    gives each instance its explanation alone."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    insts = [
        (dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))),  # plain
        (dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[40]))),  # fallback
    ]
    batch = ex.explain_batch(insts, m, num_triangles=6)
    alone = [ex.explain(l, r, m, num_triangles=6) for l, r in insts]
    assert [_summary(b) for b in batch] == [_summary(a) for a in alone]
    assert [any(_reaches_copy(t, len(rows_b)) for t in a.triangles)
            for a in alone] == [False, True]


# explain(left=False) / explain(right=False) outputs, frozen from the
# engine before explain became the one-instance batch: the triangles of
# the one side scanned and the saliency, keyed by (left row, right row)
# and the side left out
ONE_SIDE = {
    ((0, 0), "left"): (
        [("1@0", "0@0", f"1@{i}") for i in (14, 19, 20, 21, 24, 31, 43, 45, 5, 58)],
        {"ltable_name": 1 / 6, "ltable_description": 1 / 6,
         "ltable_price": 1 / 6, "rtable_name": 2 / 3,
         "rtable_description": 2 / 3, "rtable_price": 0.5},
    ),
    ((0, 0), "right"): (
        [("0@0", "1@0", f"0@{i}") for i in (1, 12, 2, 20, 25, 30, 32, 34, 41, 42)],
        {"ltable_name": 2 / 3, "ltable_description": 2 / 3,
         "ltable_price": 0.5, "rtable_name": 1 / 6,
         "rtable_description": 1 / 6, "rtable_price": 1 / 6},
    ),
    ((2, 40), "left"): (
        [("1@2", "0@2", "1@40")],
        {"ltable_name": 0.5, "ltable_description": 0.5, "ltable_price": 0.5,
         "rtable_name": 1.0, "rtable_description": 1.0, "rtable_price": 0.5},
    ),
    ((2, 40), "right"): (
        [("0@24", "1@40", "0@2")],
        {"ltable_name": 1.0, "ltable_description": 1.0, "ltable_price": 0.5,
         "rtable_name": 0.5, "rtable_description": 0.5, "rtable_price": 0.5},
    ),
}


@pytest.mark.parametrize("case", sorted(ONE_SIDE), ids=str)
def test_explain_one_side_frozen(spark, er_tables, case):
    """``left=False`` scans for support on the right side only (the q
    probe) and ``right=False`` on the left side only (the w probe)."""
    (i, j), off = case
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    res = ex.explain(
        dict(zip(COLS, rows_a[i])), dict(zip(COLS, rows_b[j])),
        NativeCosineMatcher(), num_triangles=10, **{off: False},
    )
    triangles, saliency = ONE_SIDE[case]
    assert sorted(res.triangles) == sorted(triangles)
    assert res.saliency_dict == pytest.approx(saliency, abs=1e-12)


def test_explain_batch_matches_per_instance(spark, er_tables):
    """Set-oriented explain_batch must reproduce per-instance explain
    outputs exactly — saliency, PSS, counterfactual sets, triangles —
    including a batch whose instances get DIFFERENT predicted classes
    (the per-tag polarity path through the fused scan)."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    insts = [
        (dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))),  # match
        (dict(zip(COLS, rows_a[1])), dict(zip(COLS, rows_b[1]))),
        (dict(zip(COLS, rows_a[2])), dict(zip(COLS, rows_b[40]))),  # likely non-match
    ]
    batch = ex.explain_batch(insts, m, num_triangles=10)
    for inst, got in zip(insts, batch):
        want = ex.explain(inst[0], inst[1], m, num_triangles=10)
        assert got.saliency_dict == want.saliency_dict
        assert got.triangles == want.triangles
        assert dict(got.pss) == dict(want.pss)
        assert dict(got.cf_summary) == dict(want.cf_summary)
        wcf = want.counterfactuals
        gcf = got.counterfactuals
        assert len(wcf) == len(gcf)
        if len(wcf):
            key = ["alteredAttributes", "droppedValues"]
            assert sorted(map(tuple, gcf[key].values.tolist())) == sorted(
                map(tuple, wcf[key].values.tolist())
            )


def test_explain_batch_chunked_parity(spark, er_tables):
    """Batches above SCAN_BATCH_SIZE (8) split into overlapped chunk
    pipelines — outputs must be ordered and identical across the chunk
    boundary. The chunk workers run in the caller's job group."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    insts = [
        (dict(zip(COLS, rows_a[i])), dict(zip(COLS, rows_b[i])))
        for i in range(9)
    ]
    n_jobs, batch = _jobs_of(
        spark, "chunked-batch",
        lambda: ex.explain_batch(insts, m, num_triangles=10),
    )
    # each of the 2 chunks runs at least its scan (2 jobs) and its
    # member lookup (1) in the group
    assert n_jobs >= 2 * 3, n_jobs
    assert len(batch) == 9
    for i in (0, 5, 8):  # first chunk, first chunk, last partial chunk
        want = ex.explain(insts[i][0], insts[i][1], m, num_triangles=10)
        assert batch[i].saliency_dict == want.saliency_dict
        assert sorted(batch[i].triangles) == sorted(want.triangles)
        assert dict(batch[i].pss) == dict(want.pss)


def _summary(res):
    """Saliency, PSS, triangles and CF sets of an explanation."""
    cfs = res.counterfactuals
    key = ["alteredAttributes", "droppedValues"]
    return (
        res.saliency_dict,
        dict(res.pss),
        sorted(res.triangles),
        sorted(map(tuple, cfs[key].values.tolist())) if len(cfs) else [],
    )


def test_explain_batch_always_matches_serial(spark, er_tables):
    """With data augmentation 'always' the batch scan, like the serial
    one, scores every candidate instead of stopping early (use_all)."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="always")
    m = NativeCosineMatcher()
    insts = [
        (dict(zip(COLS, rows_a[i])), dict(zip(COLS, rows_b[j])))
        for i, j in ((0, 0), (1, 1), (2, 40), (3, 3))
    ]
    batch = ex.explain_batch(insts, m, num_triangles=4)
    for (l, r), got in zip(insts, batch):
        assert _summary(got) == _summary(ex.explain(l, r, m, num_triangles=4))


def test_concurrent_explains_match_serial(spark, er_tables):
    """Two explains running at once on one session (different predicted
    classes) give exactly their serial results: the explain path keeps
    no session-global state."""
    from concurrent.futures import ThreadPoolExecutor

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    insts = [
        (dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))),
        (dict(zip(COLS, rows_a[2])), dict(zip(COLS, rows_b[40]))),
    ]

    def run(inst):
        return _summary(ex.explain(inst[0], inst[1], m, num_triangles=10))

    serial = [run(inst) for inst in insts]
    with ThreadPoolExecutor(max_workers=2) as pool:
        concurrent = list(pool.map(run, insts))
    assert concurrent == serial
    assert all(s[2] for s in serial)  # both instances have triangles


def test_explain_null_attribute(spark, er_tables):
    """A record with a missing attribute value is explained, and
    ``explain`` and ``explain_batch`` agree on it."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    l = {**dict(zip(COLS, rows_a[0])), "description": None}
    r = dict(zip(COLS, rows_b[0]))
    one = ex.explain(l, r, m, num_triangles=10)
    [batch] = ex.explain_batch([(l, r)], m, num_triangles=10)
    assert one.triangles
    assert _summary(batch) == _summary(one)


def test_warm_explain_job_budget(spark, er_tables):
    """A warm explain launches at most 3 Spark jobs: 2 for the support
    scan, which ends in one collect of its ranked rows (the stop rule,
    balancing and permutation then run on the driver), and one member
    lookup. The original prediction and the model round score local
    relations with a JVM-expression matcher, so their collects launch
    none."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    l, r = dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))
    ex.explain(l, r, m, num_triangles=10)
    n_jobs, res = _jobs_of(
        spark, "test-explain-job-budget",
        lambda: ex.explain(l, r, m, num_triangles=10),
    )
    assert len(res.triangles) > 0
    assert n_jobs <= 3, n_jobs


def test_warm_explain_py4j_budget(spark, er_tables, monkeypatch):
    """A warm explain makes at most 627 py4j round trips on its own
    thread, the count measured when this budget was set (the count is
    deterministic). Every Column built on the driver costs about a
    dozen round trips, so the cosine expression (about 450 per build)
    and the matcher's ``nomatch_score`` are built once per column
    layout, the source projections of the candidate pairs and the
    member lookup once per source, the member ids enter as one SQL
    predicate, and the support search's bookkeeping after the scan
    runs in Python. Before the cosine memo the same explain made 4,979;
    before the projection memos and the driver-side support
    bookkeeping, 2,194; before the ``nomatch_score`` memo, 704. Releases of
    JVM objects are sent later by py4j's finalizer thread, at times of
    its own, so they are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    l, r = dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))
    ex.explain(l, r, m, num_triangles=10)
    me = threading.get_ident()
    calls = [0]
    for cls in (ClientServerConnection, GatewayConnection):
        def counted(self, command, _send=cls.send_command):
            if threading.get_ident() == me:
                calls[0] += 1
            return _send(self, command)

        monkeypatch.setattr(cls, "send_command", counted)
    res = ex.explain(l, r, m, num_triangles=10)
    assert len(res.triangles) > 0
    assert calls[0] <= 627, calls[0]


def test_costly_matcher_rows_scored(spark, er_tables):
    """A costly (``cheap=False``) pandas model scores exactly the rows
    the reference's per-depth early exit allows — the support scan, the
    original pair and every perturbation depth up to the first that
    fully flips. The counts are pinned from the per-instance depth loop
    this engine used before its driver-side pass: 181 rows for a pair
    that never exits early, and 151 for an identical pair under an
    exact-match model, whose depth 1 all flips, so its 30 depth-2
    perturbations are synthesized instead of scored."""
    from certa_spark.matching import PandasPredictAdapter

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    rows = spark.sparkContext.accumulator(0)
    native = NativeCosineMatcher()
    attrs = COLS[1:]

    def cosine(pdf):
        rows.add(len(pdf))
        return native.predict_pandas(pdf)

    def exact(pdf):
        rows.add(len(pdf))
        left = pdf[["ltable_" + c for c in attrs]].values
        right = pdf[["rtable_" + c for c in attrs]].values
        out = pdf.copy()
        out["match_score"] = (left == right).all(axis=1).astype(float)
        out["nomatch_score"] = 1.0 - out["match_score"]
        return out

    l_rec = dict(zip(COLS, rows_a[0]))
    for fn, r_rec, want in (
        (cosine, dict(zip(COLS, rows_b[0])), 181),
        (exact, dict(l_rec), 151),
    ):
        model = PandasPredictAdapter(fn)
        assert model.cheap is False
        before = rows.value
        res = ex.explain(l_rec, r_rec, model, num_triangles=10)
        assert len(res.triangles) == 10
        assert rows.value - before == want, fn.__name__
