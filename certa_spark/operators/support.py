"""Support-pair search (certa/local_explain.py:17-197).

Given the explained pair (r1, r2), find ``num_triangles`` support pairs
that pair r1 (resp. r2) with records of the *opposite* source and get
the *opposite* model prediction — the raw material for open triangles.

Reference pipeline per side (find_candidates_predict,
local_explain.py:82-137): replicate the probe against every opposite
row (J2), rank by bag-of-words cosine (T1), then scan the ranked list
in batches of ``4*num_candidates`` (max 20), calling the model per
batch and stopping once ``num_candidates`` qualifying rows are found
(T3 early exit).

Spark-first re-expression — ONE distributed pass, exact same stopping
semantics:
  1. probe columns are literals -> no join at all for J2;
  2. ranking cap: only the first ``batch*20`` rows in score order can
     ever be scanned, so ``orderBy(score).limit(batch*20)`` (a
     distributed TopK, no global sort) bounds the data;
  3. model scores for the capped set are computed in one pass
     (one ``mapInPandas`` job instead of <=20 driver round-trips);
  4. the batched early-exit is replayed exactly with window arithmetic:
     rows keep batch index ``floor(rank/batch)``; the scan "stops" at
     the first batch where the cumulative qualifying count reaches
     ``num_candidates``; rows of later batches are dropped.

At 100TB the cosine ranking itself is the bottleneck; the scale path is
MinHash-LSH candidate pruning (certa_spark.operators.similarity) feeding
this same scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from certa_spark import tmpcache
from pyspark.sql.window import Window

from certa_spark.functions.hashing import hash32
from certa_spark.functions.text import bow_cosine_of, side_text
from certa_spark.matching import Matcher
from certa_spark.operators.pairs import composite_id
from certa_spark.schema import LPREFIX, RPREFIX, side_attributes

MAX_BATCHES = 20  # certa/local_explain.py:113


def probe_text(rec: dict) -> str:
    """A probe record's attribute values joined by spaces — the text
    its candidates are ranked against (ids and labels left out)."""
    return " ".join(str(v) for k, v in rec.items() if k not in ("id", "label"))


def candidate_pairs(
    probe: dict,
    source: DataFrame,
    probe_side: str,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> DataFrame:
    """J2 — pair the probe record with every row of the opposite source.

    The probe enters the plan as literal columns (cheaper than even a
    broadcast nested-loop join). ``probe_side='left'`` pairs the probe
    as ltable_* with each source row as rtable_*.
    """
    if probe_side == "left":
        probe_pfx, src_pfx = lprefix, rprefix
    else:
        probe_pfx, src_pfx = rprefix, lprefix
    return source.select(
        *[F.col(c).cast("string").alias(src_pfx + c) for c in source.columns],
        *[
            F.lit(None if v is None else str(v)).alias(probe_pfx + k)
            for k, v in probe.items()
        ],
    )


def scan_candidates_dual(
    parts: list[tuple[DataFrame, str, str, int, str]],
    matcher: Matcher,
    find_positives: bool | dict[str, bool],
    num_candidates: int,
    max_predict: int = -1,
    batched: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Both sides' T1+T3 scans fused into ONE Spark pass.

    ``parts``: (pairs, score_side_prefix, probe_text, seed, side_tag)
    per side. The sides are unioned under a ``_side_tag`` column so
    ranking (window per side), the single model round, and the stop-rule
    batch counts all run as one job chain instead of two — the per-side
    semantics (batch = 4*num_candidates, <=20 batches, stop at
    num_candidates qualifying, local_explain.py:112-128) are replayed
    exactly from the per-(side, batch) counts, which also yield the
    per-side qualifying totals for free (returned as the second value —
    saves the two count() jobs the balancing step used to run).
    Returns (qualifying rows with _side_tag, {side_tag: n_qualifying}).
    """
    # per-tag polarity: a plain bool applies to every part (the
    # single-instance path); a {tag: bool} dict lets one fused scan
    # serve a BATCH of instances whose predicted classes differ
    # (explain_batch) — ordering rides a sign-folded score column and
    # the qualifying test becomes tag-conditional.
    if isinstance(find_positives, dict):
        fp = dict(find_positives)
    else:
        fp = {tag: find_positives for *_, tag in parts}

    batch = num_candidates * 4
    frames = []
    for pairs, pfx, ptext, seed, tag in parts:
        df = pairs
        if max_predict > 0:
            # reference: random subsample before ranking (local_explain.py:103-104)
            df = (
                df.withColumn("_smp", hash32(side_text(df.columns), seed))
                .orderBy("_smp")
                .limit(max_predict)
                .drop("_smp")
            )
        # the probe text enters as a literal column, so the memoized
        # score depends only on column names; the optimizer folds the
        # probe side to a constant and tokenizes only the candidates
        score = bow_cosine_of(("_ptext",), side_attributes(pairs.columns, pfx))
        frames.append(
            df.withColumn("_ptext", F.lit(ptext))
            .withColumns({"_score": score, "_side_tag": F.lit(tag)})
            .drop("_ptext")
            # ascending sort of the sign-folded score == the per-part
            # direction (desc for find-positives); ties fall to the id
            # tiebreak either way, so ranks match the per-direction sort
            .withColumn(
                "_sord", F.col("_score") * F.lit(-1.0 if fp[tag] else 1.0)
            )
        )
    allc = frames[0]
    for f in frames[1:]:
        allc = allc.unionByName(f)

    id_cols = [c for c in parts[0][0].columns if c.endswith("_id") or c.endswith("id")]
    order = [F.col("_sord").asc()]
    # deterministic tiebreak (pandas sort ties are arbitrary; we pin them)
    order += [F.col(c).asc() for c in id_cols]
    pos_tags = [t for t, v in fp.items() if v]
    if len(pos_tags) == len(fp):
        qual = F.col("match_score") > 0.5
    elif not pos_tags:
        qual = F.col("match_score") < 0.5
    else:
        qual = F.when(
            F.col("_side_tag").isin(pos_tags), F.col("match_score") > 0.5
        ).otherwise(F.col("match_score") < 0.5)

    if not batched:
        predicted = matcher.predict(allc.drop("_score", "_sord"))
        result = predicted.filter(qual)
        counts = {
            r["_side_tag"]: r["n"]
            for r in result.groupBy("_side_tag").agg(F.count("*").alias("n")).collect()
        }
        return result, {tag: counts.get(tag, 0) for *_, tag in parts}

    # rows beyond batch*MAX_BATCHES can never be scanned; row_number<=k
    # over the per-side window is executed as WindowGroupLimit (partial
    # top-k per partition before the shuffle)
    w = Window.partitionBy("_side_tag").orderBy(*order)
    ranked = (
        allc.withColumn("_rn", F.row_number().over(w) - 1)
        .filter(F.col("_rn") < batch * MAX_BATCHES)
        .withColumn("_batch", (F.col("_rn") / F.lit(batch)).cast("int"))
    )
    predicted = matcher.predict(ranked.drop("_score", "_sord")).withColumn(
        "_q", qual.cast("int")
    )
    # one narrow materialization; lineage truncated for the driver loop
    predicted = predicted.repartition(4).localCheckpoint()
    # replay the per-side stop rule on per-(side, batch) counts
    rows = (
        predicted.groupBy("_side_tag", "_batch")
        .agg(F.sum("_q").alias("nq"), F.count("*").alias("n"))
        .collect()
    )
    per_side: dict[str, list] = {}
    for r in rows:
        per_side.setdefault(r["_side_tag"], []).append(r)
    stop_filter = F.lit(False)
    n_qual: dict[str, int] = {}
    for *_, tag in parts:
        batch_counts = sorted(per_side.get(tag, []), key=lambda r: r["_batch"])
        n_total = sum(r["n"] for r in batch_counts)
        splits = min(MAX_BATCHES, n_total // batch)
        stop, cum = -1, 0
        for r in batch_counts:
            if r["_batch"] >= splits:
                break
            stop = r["_batch"]
            cum += r["nq"]
            if cum >= num_candidates:
                break
        n_qual[tag] = cum
        stop_filter = stop_filter | (
            (F.col("_side_tag") == tag) & (F.col("_batch") <= stop)
        )
    result = predicted.filter(stop_filter & (F.col("_q") == 1))
    return result.drop("_q", "_rn", "_batch"), n_qual


def get_support(
    spark: SparkSession,
    r1: dict,
    r2: dict,
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    find_positives: bool,
    num_triangles: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    use_w: bool = True,
    use_q: bool = True,
    max_predict: int = -1,
    use_all: bool = False,
    seed: int = 42,
) -> tuple[DataFrame, int]:
    """certa/local_explain.py:162-197 — gather qualifying candidates on
    both sides, balance them, permute, and keep rows past the 0.5
    threshold. Returns (scored pair rows + composite ``id``, row count).

    The row count is DRIVER-COMPUTED from the per-side qualifying
    totals the fused scan already collected: the final polarity filter
    is a no-op on qualifying rows (qual is strictly > / < 0.5 while the
    threshold is >= / < 0.5 with matching polarity) and balancing keeps
    ``min(count, max_len)`` rows per side — so callers never pay a
    count() action over the scan output (r12: one fewer job per
    explain).
    """
    num_candidates = int(num_triangles / 2)

    parts = []
    if use_q:
        c1 = candidate_pairs(r1, rsource, "left", lprefix, rprefix)
        parts.append((c1, rprefix, probe_text(r1), seed, "q"))
    if use_w:
        c2 = candidate_pairs(r2, lsource, "right", lprefix, rprefix)
        parts.append((c2, lprefix, probe_text(r2), seed + 1, "w"))
    if not parts:
        raise ValueError("at least one of use_w/use_q must be set")

    # both sides' rank+predict+stop-rule in one fused pass; the per-side
    # qualifying totals come from the same batch-count collect
    scanned, n_qual = scan_candidates_dual(
        parts, matcher, find_positives, num_candidates, max_predict,
        batched=not use_all,
    )
    counts = [n_qual[tag] for *_, tag in parts]
    n_rows = sum(counts)
    if len(parts) == 2:
        max_len = min(*counts) or max(*counts)
        n_rows = sum(min(c, max_len) for c in counts)
        if max(*counts) > max_len:
            # reference: random sample the larger side down to max_len
            # (local_explain.py:182-185); per-side window over a tiny
            # input, kept in one partition so it plans no exchange
            wb = Window.partitionBy("_side_tag").orderBy(
                "_h", lprefix + "id", rprefix + "id"
            )
            scanned = (
                scanned.coalesce(1)
                .withColumn(
                    "_h",
                    hash32(
                        composite_id(F.col(lprefix + "id"), F.col(rprefix + "id")),
                        seed,
                    ),
                )
                .withColumn("_bn", F.row_number().over(wb))
                .filter(F.col("_bn") <= max_len)
                .drop("_h", "_bn")
            )
    candidates = scanned.drop("_side_tag")

    candidates = candidates.withColumn(
        "id", composite_id(F.col(lprefix + "id"), F.col(rprefix + "id"))
    )
    thr = (
        F.col("match_score") >= 0.5
        if find_positives
        else F.col("match_score") < 0.5
    )
    return candidates.filter(thr), n_rows


def support_predictions(
    spark: SparkSession,
    r1: dict,
    r2: dict,
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    class_to_explain: int,
    num_triangles: int = 100,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    use_w: bool = True,
    use_q: bool = True,
    max_predict: int = -1,
    use_all: bool = False,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """certa/local_explain.py:17-79 — the full support-set assembly.

    Returns (support_pairs, copies_left, copies_right). Row 0 of
    ``support_pairs`` is the explained pair itself with
    ``label = class_to_explain``.
    """
    from certa_spark.operators.augment import expand_copies
    from certa_spark.operators.pairs import pair_row

    find_positives = class_to_explain == 0
    support1, n_support = get_support(
        spark, r1, r2, lsource, rsource, matcher, find_positives,
        num_triangles, lprefix, rprefix, use_w, use_q, max_predict, use_all, seed,
    )
    # one partition from here on: the frame is small (at most a few
    # scan batches), and the windows and sort below then plan no
    # exchange; uncached, because the caller collects it once — so
    # that collect is a single job
    support = support1.coalesce(1)

    copies_left = copies_right = None
    if n_support < num_triangles:
        # DA fallback (local_explain.py:51-60): token-drop copies of the
        # probes themselves, paired through the same scan.
        n_l, n_r = lsource.count(), rsource.count()
        copies_left, copies_right = expand_copies(spark, r1, r2, n_l, n_r)
        copies_left = tmpcache.track(copies_left.cache())
        copies_right = tmpcache.track(copies_right.cache())
        support2, n_support2 = get_support(
            spark, r1, r2, copies_right, copies_left, matcher, find_positives,
            num_triangles, lprefix, rprefix, use_w, use_q, max_predict, use_all,
            seed + 7,
        )
        support = support.unionByName(support2).coalesce(1)
        n_support += n_support2

    if n_support == 0:
        # same schema as the non-empty path (label/_ord, no raw scores)
        # so downstream triangle plans analyze without a row-count probe
        empty = (
            support.limit(0)
            .withColumn("label", F.lit(int(class_to_explain)))
            .drop("match_score", "nomatch_score")
            .withColumn("_ord", F.lit(0))
        )
        return empty, copies_left, copies_right

    # deterministic permutation stands in for pandas sample(frac=1)
    # (local_explain.py:186); head n/2 + tail n/2 cap (line 63-64).
    permuted = support.withColumn("_h", hash32(F.col("id"), seed + 13))
    if n_support > num_triangles:
        half = int(num_triangles / 2)
        w_asc = Window.orderBy(F.col("_h").asc(), F.col("id"))
        w_desc = Window.orderBy(F.col("_h").desc(), F.col("id"))
        permuted = (
            permuted.withColumn("_ra", F.row_number().over(w_asc))
            .withColumn("_rd", F.row_number().over(w_desc))
            .filter((F.col("_ra") <= half) | (F.col("_rd") <= half))
            .drop("_ra", "_rd")
        )
    support_rows = (
        permuted.orderBy("_h", "id")
        .drop("_h")
        .withColumn("label", F.round(F.col("match_score")).cast("int"))
        .drop("match_score", "nomatch_score")
    )

    head = (
        pair_row(spark, r1, r2, lprefix, rprefix)
        .withColumn(
            "id", composite_id(F.col(lprefix + "id"), F.col(rprefix + "id"))
        )
        .withColumn("label", F.lit(int(class_to_explain)))
    )
    for c in support_rows.columns:
        if c not in head.columns:
            head = head.withColumn(c, F.lit(None).cast("string"))
    head = head.select(*support_rows.columns).withColumn("_ord", F.lit(0))
    support_pairs = head.unionByName(
        support_rows.withColumn("_ord", F.lit(1))
    )
    return support_pairs, copies_left, copies_right


def support_predictions_batch(
    spark: SparkSession,
    instances: list[tuple[dict, dict]],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    classes_to_explain: list[int],
    num_triangles: int = 100,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    max_predict: int = -1,
    seed: int = 42,
) -> tuple[DataFrame, list[int]]:
    """Set-oriented support assembly for a BATCH of explained pairs —
    the capability the reference's per-instance loop cannot express:
    ONE corpus scan, ONE TopK window pass, and ONE model round cover
    every instance's candidate search, instead of k sequential scans.

    Mechanics: each instance contributes its two probe parts tagged
    ``"{i}:q"``/``"{i}:w"`` to a single :func:`scan_candidates_dual`
    call (the per-tag machinery — ranking windows, stop-rule batch
    counts, qualifying totals — is already keyed by the tag, and the
    per-tag ``find_positives`` dict handles instances whose predicted
    classes differ). Balancing, thresholding, the deterministic
    permutation, and the head/tail cap then run per instance over the
    SHARED checkpointed scan output, with the same seeds the
    single-instance path uses — ``explain_batch([x]) == explain(x)``
    by construction (parity-tested).

    Returns ``(support_pairs_all, n_support_per_instance)`` where
    ``support_pairs_all`` carries a ``_probe`` column (instance index;
    filter + drop it to obtain each instance's frame — row 0 semantics
    preserved per instance via ``_ord``). Instances whose support
    falls short of ``num_triangles`` (the DA-fallback path) are NOT
    assembled here — callers detect them via the returned counts and
    run the single-instance :func:`support_predictions` for those.
    """
    from certa_spark.operators.pairs import pair_row

    num_candidates = int(num_triangles / 2)

    parts = []
    fp_by_tag: dict[str, bool] = {}
    for i, (r1, r2) in enumerate(instances):
        find_positives = classes_to_explain[i] == 0
        c1 = candidate_pairs(r1, rsource, "left", lprefix, rprefix)
        parts.append((c1, rprefix, probe_text(r1), seed, f"{i}:q"))
        fp_by_tag[f"{i}:q"] = find_positives
        c2 = candidate_pairs(r2, lsource, "right", lprefix, rprefix)
        parts.append((c2, lprefix, probe_text(r2), seed + 1, f"{i}:w"))
        fp_by_tag[f"{i}:w"] = find_positives

    scanned, n_qual = scan_candidates_dual(
        parts, matcher, fp_by_tag, num_candidates, max_predict, batched=True
    )

    # per-instance balancing caps (local_explain.py:182-185), applied on
    # the shared frame via a tag -> cap literal map
    caps: dict[str, int] = {}
    n_support: list[int] = []
    for i in range(len(instances)):
        cq, cw = n_qual[f"{i}:q"], n_qual[f"{i}:w"]
        max_len = min(cq, cw) or max(cq, cw)
        caps[f"{i}:q"] = caps[f"{i}:w"] = max_len
        n_support.append(min(cq, max_len) + min(cw, max_len))
    cap_map = F.create_map(
        *[F.lit(x) for kv in caps.items() for x in kv]
    )
    wb = Window.partitionBy("_side_tag").orderBy(
        "_h", lprefix + "id", rprefix + "id"
    )
    # the qualifying rows are few (at most a few scan batches per
    # instance): one partition lets the windows below plan no exchange,
    # so collecting the support pairs is a single job
    balanced = (
        scanned.coalesce(1)
        .withColumn(
            "_h",
            hash32(
                composite_id(F.col(lprefix + "id"), F.col(rprefix + "id")),
                seed,
            ),
        )
        .withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= F.element_at(cap_map, F.col("_side_tag")))
        .drop("_h", "_bn")
    )
    candidates = (
        balanced.withColumn(
            "_probe", F.split(F.col("_side_tag"), ":").getItem(0).cast("int")
        )
        .drop("_side_tag")
        .withColumn(
            "id", composite_id(F.col(lprefix + "id"), F.col(rprefix + "id"))
        )
    )

    # deterministic permutation + per-instance head/tail cap
    # (local_explain.py:63-64,186) — windows per _probe
    permuted = candidates.withColumn("_h", hash32(F.col("id"), seed + 13))
    over = [i for i, n in enumerate(n_support) if n > num_triangles]
    if over:
        half = int(num_triangles / 2)
        w_asc = Window.partitionBy("_probe").orderBy(F.col("_h").asc(), "id")
        w_desc = Window.partitionBy("_probe").orderBy(F.col("_h").desc(), "id")
        keep = (
            ~F.col("_probe").isin(over)
            | (F.col("_ra") <= half)
            | (F.col("_rd") <= half)
        )
        permuted = (
            permuted.withColumn("_ra", F.row_number().over(w_asc))
            .withColumn("_rd", F.row_number().over(w_desc))
            .filter(keep)
            .drop("_ra", "_rd")
        )
    support_rows = (
        permuted.drop("_h")
        .withColumn("label", F.round(F.col("match_score")).cast("int"))
        .drop("match_score", "nomatch_score")
    )

    heads = None
    for i, (r1, r2) in enumerate(instances):
        head = (
            pair_row(spark, r1, r2, lprefix, rprefix)
            .withColumn(
                "id", composite_id(F.col(lprefix + "id"), F.col(rprefix + "id"))
            )
            .withColumn("label", F.lit(int(classes_to_explain[i])))
        )
        for c in support_rows.columns:
            if c not in head.columns and c != "_probe":
                head = head.withColumn(c, F.lit(None).cast("string"))
        head = head.withColumn("_probe", F.lit(i)).select(*support_rows.columns)
        heads = head if heads is None else heads.unionByName(head)

    support_pairs = heads.withColumn("_ord", F.lit(0)).unionByName(
        support_rows.withColumn("_ord", F.lit(1))
    )
    return support_pairs, n_support
