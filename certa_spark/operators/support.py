"""Support-pair search (certa/local_explain.py:17-197).

Given the explained pair (r1, r2), find ``num_triangles`` support pairs
that pair r1 (resp. r2) with records of the *opposite* source and get
the *opposite* model prediction — the raw material for open triangles.

Reference pipeline per side (find_candidates_predict,
local_explain.py:82-137): replicate the probe against every opposite
row (J2), rank by bag-of-words cosine (T1), then scan the ranked list
in batches of ``4*num_candidates`` (max 20), calling the model per
batch and stopping once ``num_candidates`` qualifying rows are found
(T3 early exit). Then balance the two sides, permute, and cap the
result at ``num_triangles`` (local_explain.py:63-64,162-197).

Every explain runs one list-shaped assembly, :func:`support_predictions`
(``explain(x)`` is its one-instance case). Spark runs the part that
grows with the sources, as ONE pass over every instance's probes
ending in ONE collect:
  1. probe columns are literals over a source projection built once
     per source -> no join at all for J2;
  2. ranking cap: only the first ``batch*20`` rows per side in score
     order can ever be scanned, so a per-side ``row_number`` window
     (executed as a partial top-k before the shuffle) bounds the data;
  3. model scores for the capped set are computed in one model round
     instead of <=20 driver round trips;
  4. the collect brings back each ranked row's side, rank, ids,
     qualifying flag and label — at most ``batch*20`` rows per side.

The driver finishes over those rows with plain functions: the stop
rule (:func:`stop_rule`), balancing (:func:`balance`), and the
permutation, head/tail cap and head edge (:func:`support_edges`). The
seeded hash orders use :func:`md5_hash32`, the driver twin of Spark's
``hash32``. An instance whose support falls short (the DA fallback)
then scans only its own token-drop copies, through the same scan and
balancing, never the main sources again. The result is one
``(id, label)`` edge list per instance for ``triangles.wedges``.

At 100TB the cosine ranking itself is the bottleneck; the scale path is
MinHash-LSH candidate pruning (certa_spark.operators.similarity) feeding
this same scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from certa_spark import tmpcache
from certa_spark.functions.hashing import hash32, md5_hash32
from certa_spark.functions.text import bow_cosine_of, side_text
from certa_spark.io import derived
from certa_spark.matching import Matcher
from certa_spark.operators.augment import expand_copies
from certa_spark.schema import LPREFIX, RPREFIX, side_attributes

MAX_BATCHES = 20  # certa/local_explain.py:113

# a support candidate: (left id, right id, label) with the ids as strings
Candidate = tuple[str, str, int]
# a support pair: (composite id "0@<lid>#1@<rid>", label)
Edge = tuple[str, int]


def probe_text(rec: dict) -> str:
    """A probe record's attribute values joined by spaces — the text
    its candidates are ranked against (ids and labels left out)."""
    return " ".join(str(v) for k, v in rec.items() if k not in ("id", "label"))


def pair_id(lid, rid) -> str:
    """F1 — the composite pair id ``"0@<lid>#1@<rid>"``
    (certa/local_explain.py:44,190-191)."""
    return f"0@{lid}#1@{rid}"


def candidate_pairs(
    probe: dict,
    source: DataFrame,
    probe_side: str,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> DataFrame:
    """J2 — pair the probe record with every row of the opposite source.

    The probe enters the plan as literal columns (cheaper than even a
    broadcast nested-loop join) after the source's string projection,
    which is built once per source and prefix. ``probe_side='left'``
    pairs the probe as ltable_* with each source row as rtable_*.
    """
    if probe_side == "left":
        probe_pfx, src_pfx = lprefix, rprefix
    else:
        probe_pfx, src_pfx = rprefix, lprefix
    projected = derived(
        source,
        ("candidate_pairs", src_pfx),
        lambda s: s.select(
            *[F.col(c).cast("string").alias(src_pfx + c) for c in s.columns]
        ),
    )
    return projected.select(
        "*",
        *[
            F.lit(None if v is None else str(v)).alias(probe_pfx + k)
            for k, v in probe.items()
        ],
    )


def stop_rule(
    ranked: list[tuple[bool, Candidate]], num_candidates: int
) -> list[Candidate]:
    """T3 — the reference's batched early exit (local_explain.py:
    112-128) over one side's ``(qualifies, candidate)`` rows in rank
    order: batches of ``4*num_candidates``, at most ``MAX_BATCHES`` full
    ones (a partial last batch is never read), stopping after the first
    batch where the running qualifying count reaches ``num_candidates``.
    Returns the qualifying candidates of the batches read."""
    batch = 4 * num_candidates
    splits = min(MAX_BATCHES, len(ranked) // batch)
    found: list[Candidate] = []
    for at in range(0, splits * batch, batch):
        found += [c for q, c in ranked[at : at + batch] if q]
        if len(found) >= num_candidates:
            break
    return found


def scan_candidates_dual(
    parts: list[tuple[DataFrame, str, str, int, str]],
    matcher: Matcher,
    find_positives: dict[str, bool],
    num_candidates: int,
    max_predict: int = -1,
    batched: bool = True,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> dict[str, list[Candidate]]:
    """Both sides' T1+T3 scans fused into ONE Spark pass and ONE collect.

    ``parts``: (pairs, score_side_prefix, probe_text, seed, side_tag)
    per side. The sides are unioned under a ``_side_tag`` column so
    ranking (window per side) and the single model round run as one job
    chain; the collect returns each side's capped ranked rows, and
    :func:`stop_rule` replays the per-side batch scan on the driver.
    ``find_positives`` gives each tag's polarity, so one scan serves
    instances whose predicted classes differ: ordering rides a
    sign-folded score column and the qualifying test is tag-conditional.
    With ``batched=False`` (data augmentation 'always') every row is
    scored and every qualifying row kept.
    Returns {side_tag: qualifying candidates}.
    """
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
                "_sord",
                F.col("_score") * F.lit(-1.0 if find_positives[tag] else 1.0),
            )
        )
    allc = frames[0]
    for f in frames[1:]:
        allc = allc.unionByName(f)

    # ascending by name; deterministic id tiebreak (pandas sort ties
    # are arbitrary; we pin them)
    order = ["_sord"] + [
        c for c in parts[0][0].columns if c.endswith("_id") or c.endswith("id")
    ]
    pos_tags = [t for t, v in find_positives.items() if v]
    if len(pos_tags) == len(find_positives):
        qual = F.col("match_score") > 0.5
    elif not pos_tags:
        qual = F.col("match_score") < 0.5
    else:
        qual = F.when(
            F.col("_side_tag").isin(pos_tags), F.col("match_score") > 0.5
        ).otherwise(F.col("match_score") < 0.5)
    candidate = [
        lprefix + "id",
        rprefix + "id",
        F.round(F.col("match_score")).cast("int").alias("label"),
    ]

    sides: dict[str, list] = {tag: [] for *_, tag in parts}
    if not batched:
        predicted = matcher.predict(allc.drop("_score", "_sord"))
        for r in predicted.filter(qual).select("_side_tag", *candidate).collect():
            sides[r[0]].append(tuple(r[1:]))
        return sides

    # rows beyond batch*MAX_BATCHES can never be scanned; a filter on
    # row_number() itself (not on an expression over it) is planned as
    # WindowGroupLimit: a partial top-k per partition before the shuffle
    w = Window.partitionBy("_side_tag").orderBy(*order)
    ranked = allc.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= batch * MAX_BATCHES
    )
    rows = (
        matcher.predict(ranked.drop("_score", "_sord"))
        .select("_side_tag", "_rn", qual.alias("_q"), *candidate)
        .collect()
    )
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        sides[r[0]].append((bool(r[2]), tuple(r[3:])))
    return {tag: stop_rule(side, num_candidates) for tag, side in sides.items()}


def balance(sides: list[list[Candidate]], seed: int) -> list[Candidate]:
    """local_explain.py:182-185 — with both sides scanned, the larger is
    sampled down to the smaller's size (or, when the smaller found
    none, both are kept whole). A seeded hash order over the composite
    id, ties by the ids, stands in for pandas' random sample."""
    if len(sides) == 2:
        max_len = min(map(len, sides)) or max(map(len, sides))

        def order(c: Candidate):
            return md5_hash32(pair_id(c[0], c[1]), seed), c[0], c[1]

        sides = [sorted(s, key=order)[:max_len] for s in sides]
    return [c for s in sides for c in s]


def support_edges(
    r1: dict,
    r2: dict,
    class_to_explain: int,
    support: list[Candidate],
    num_triangles: int,
    seed: int,
) -> list[Edge]:
    """local_explain.py:63-64,186 — the explained pair labelled
    ``class_to_explain`` first, then the support pairs in a seeded
    permutation order, ``(hash32(id, seed+13), id)``, standing in for
    pandas' ``sample(frac=1)``. Past ``num_triangles`` pairs only the
    first half of that order and the first half by descending hash
    (ties by ascending id) are kept — the head/tail cap. Every support
    pair already passed the reference's final 0.5 threshold: it
    qualified strictly on the same side of 0.5."""
    ids = [(pair_id(lid, rid), label) for lid, rid, label in support]
    keyed = sorted((md5_hash32(cid, seed + 13), cid, label) for cid, label in ids)
    if len(keyed) > num_triangles:
        half = int(num_triangles / 2)
        tail = sorted(range(len(keyed)), key=lambda i: (-keyed[i][0], keyed[i][1]))
        keep = set(range(half)) | set(tail[:half])
        keyed = [k for i, k in enumerate(keyed) if i in keep]
    head = (pair_id(r1["id"], r2["id"]), int(class_to_explain))
    return [head, *((cid, label) for _, cid, label in keyed)]


def _scan(
    instances: list[tuple[dict, dict]],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    find_positives: list[bool],
    num_triangles: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    use_w: bool = True,
    use_q: bool = True,
    max_predict: int = -1,
    use_all: bool = False,
    seed: int = 42,
) -> list[list[Candidate]]:
    """certa/local_explain.py:162-197 for every instance at once: each
    contributes its probe parts, tagged ``"{i}:q"``/``"{i}:w"``, to ONE
    :func:`scan_candidates_dual` pass over ``(lsource, rsource)``, and
    each instance's sides are then balanced. ``use_q``/``use_w`` scan
    for r1's / r2's support; ``use_all`` (data augmentation 'always')
    scores every candidate instead of stopping early. Returns the
    balanced support candidates per instance."""
    if not (use_w or use_q):
        raise ValueError("at least one of use_w/use_q must be set")
    parts = []
    fp_by_tag: dict[str, bool] = {}
    for i, (r1, r2) in enumerate(instances):
        if use_q:
            c1 = candidate_pairs(r1, rsource, "left", lprefix, rprefix)
            parts.append((c1, rprefix, probe_text(r1), seed, f"{i}:q"))
            fp_by_tag[f"{i}:q"] = find_positives[i]
        if use_w:
            c2 = candidate_pairs(r2, lsource, "right", lprefix, rprefix)
            parts.append((c2, lprefix, probe_text(r2), seed + 1, f"{i}:w"))
            fp_by_tag[f"{i}:w"] = find_positives[i]
    sides = scan_candidates_dual(
        parts, matcher, fp_by_tag, int(num_triangles / 2), max_predict,
        not use_all, lprefix, rprefix,
    )
    return [
        balance([sides[t] for t in (f"{i}:q", f"{i}:w") if t in sides], seed)
        for i in range(len(instances))
    ]


def get_support(
    r1: dict, r2: dict, lsource: DataFrame, rsource: DataFrame,
    matcher: Matcher, find_positives: bool, num_triangles: int, **scan,
) -> tuple[list[Candidate], int]:
    """One instance's support scan over the given sources — the DA
    fallback's token-drop copies; ``scan`` takes :func:`_scan`'s
    settings. Returns (support candidates, count)."""
    [support] = _scan(
        [(r1, r2)], lsource, rsource, matcher, [find_positives],
        num_triangles, **scan,
    )
    return support, len(support)


def support_predictions_batch(
    instances: list[tuple[dict, dict]], lsource: DataFrame,
    rsource: DataFrame, matcher: Matcher, classes_to_explain: list[int],
    num_triangles: int, **scan,
) -> tuple[list[list[Candidate]], list[int]]:
    """The main support scan of a BATCH of explained pairs — ONE corpus
    scan, ONE TopK window pass, ONE model round and ONE collect cover
    every instance's candidate search, instead of k sequential scans
    (the per-tag ``find_positives`` handles instances whose predicted
    classes differ); ``scan`` takes :func:`_scan`'s settings. Returns
    the balanced support candidates and their count per instance."""
    supports = _scan(
        instances, lsource, rsource, matcher,
        [c == 0 for c in classes_to_explain], num_triangles, **scan,
    )
    return supports, [len(s) for s in supports]


def support_predictions(
    spark: SparkSession,
    instances: list[tuple[dict, dict]],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    classes_to_explain: list[int],
    num_triangles: int = 100,
    seed: int = 42,
    **scan,
) -> tuple[list[list[Edge]], list[tuple[DataFrame, DataFrame] | None]]:
    """certa/local_explain.py:17-79 — the full support-set assembly of
    every instance: one scan of the main sources for all of them
    (:func:`support_predictions_batch`); an instance whose support
    falls short of ``num_triangles`` then scans its own token-drop
    copies (the DA fallback, local_explain.py:51-60, :func:`get_support`).
    ``scan`` takes :func:`_scan`'s other settings.

    Returns (edges, extensions), one entry per instance: the support
    edges, the first being the explained pair labelled with its class,
    and the (left, right) copies extending the sources when the
    fallback ran.
    """
    supports, n_support = support_predictions_batch(
        instances, lsource, rsource, matcher, classes_to_explain,
        num_triangles, seed=seed, **scan,
    )
    edges: list[list[Edge]] = []
    extensions: list[tuple[DataFrame, DataFrame] | None] = []
    for (r1, r2), pc, support, n in zip(
        instances, classes_to_explain, supports, n_support
    ):
        extension = None
        if n < num_triangles:
            copies_left, copies_right = expand_copies(
                spark, r1, r2, _count(lsource), _count(rsource)
            )
            copies_left = tmpcache.track(copies_left.cache())
            copies_right = tmpcache.track(copies_right.cache())
            more, _ = get_support(
                r1, r2, copies_right, copies_left, matcher, pc == 0,
                num_triangles, seed=seed + 7, **scan,
            )
            support = support + more
            extension = (copies_right, copies_left)
        edges.append(support_edges(r1, r2, pc, support, num_triangles, seed))
        extensions.append(extension)
    return edges, extensions


def _count(source: DataFrame) -> int:
    """Row count of a long-lived source, counted once per source: the
    DA fallback numbers its copies after it."""
    return derived(source, "count", lambda s: s.count())
