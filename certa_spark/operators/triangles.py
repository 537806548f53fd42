"""Open-triangle enumeration, perturbation generation and the
depth-stratified flip analysis — the heart of CERTA
(certa/triangles_method.py).

Spark runs the phases whose size grows with the data: the support scan
(operators/support.py), the batched lookup of triangle members in the
sources, and every model round. Everything else an explanation needs is
bounded by ``num_triangles`` and runs on the driver over plain Python
rows:

  * Wedge enumeration (getMixedTriangles, triangles_method.py:25-53):
    :func:`wedges` over the collected support pairs (at most
    ``num_triangles`` + 1 per instance). :func:`mixed_triangles` keeps
    the Spark form — two hash equi-joins pos><neg on the shared
    endpoint — for the registry query over a full prediction graph.

  * Perturbation generation (createPerturbationsFromTriangle,
    triangles_method.py:72-121): n_tri × Σ_d C(attrs, d) rows.

  * Perturb+predict (triangles_method.py:266-334): a cheap matcher
    scores every depth of every instance in ONE model round and the
    monotonicity early exit is re-applied afterwards; a costly one
    (``matcher.cheap`` false) gets one round per depth that covers every
    instance not yet exited, so the early exit saves real inference.

  * Flip counting, PSS, saliency, cf_summary and counterfactuals
    (triangles_method.py:224-263, 376-396): integer sums and one float
    division per value.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from certa_spark.io import derived, local_frame
from certa_spark.matching import Matcher
from certa_spark.schema import LPREFIX, RPREFIX

# per-row lists of the altered attributes and their old and new values
VALUE_LISTS = ("alteredAttributes", "droppedValues", "copiedValues")
BOOKKEEPING = (*VALUE_LISTS, "triangle")

# (pivot, anchor, free, side): <pivot, anchor> predicted a match,
# <anchor, free> a non-match; side 'left' when pivot and free are
# left-source records
Triangle = tuple[str, str, str, str]


def mixed_triangles(support_pairs: DataFrame) -> DataFrame:
    """J3 — enumerate open triangles (pivot, anchor, free) in Spark.

    Input: support pairs with composite ``id`` ("0@l#1@r") and ``label``
    (1 = predicted match). A triangle <u, v, w> has <u,v> a match and
    <v,w> a non-match (triangles_method.py:26). Returns columns
    ``pivot, anchor, free`` ("src@id" strings) and ``side``
    ('left' when the pivot/free records live in the left source).
    """
    parts = F.split(F.col("id"), "#")
    edges = support_pairs.select(
        parts.getItem(0).alias("lt"),
        parts.getItem(1).alias("rt"),
        F.col("label").cast("int").alias("label"),
    )
    pos = edges.filter(F.col("label") == 1).select("lt", "rt")
    neg = edges.filter(F.col("label") == 0).select(
        F.col("lt").alias("n_lt"), F.col("rt").alias("n_rt")
    )
    # shared right endpoint: (l, r) match + (l', r) non-match -> <l, r, l'>
    left_tri = pos.join(neg, pos.rt == neg.n_rt).select(
        F.col("lt").alias("pivot"),
        F.col("rt").alias("anchor"),
        F.col("n_lt").alias("free"),
        F.lit("left").alias("side"),
    )
    # shared left endpoint: (l, r) match + (l, r') non-match -> <r, l, r'>
    right_tri = pos.join(neg, pos.lt == neg.n_lt).select(
        F.col("rt").alias("pivot"),
        F.col("lt").alias("anchor"),
        F.col("n_rt").alias("free"),
        F.lit("right").alias("side"),
    )
    return left_tri.unionByName(right_tri)


def wedges(edges) -> list[Triangle]:
    """Driver-side :func:`mixed_triangles` over collected
    ``(id, label)`` support pairs: every match <l, r> pairs with every
    non-match sharing its right endpoint (a 'left' triangle) and with
    every non-match sharing its left endpoint (a 'right' one),
    duplicates included — the same multiset as the join form."""
    pos: list[tuple[str, str]] = []
    neg_by_r: dict[str, list[str]] = {}
    neg_by_l: dict[str, list[str]] = {}
    for cid, label in edges:
        lt, rt = cid.split("#")
        if label == 1:
            pos.append((lt, rt))
        elif label == 0:
            neg_by_r.setdefault(rt, []).append(lt)
            neg_by_l.setdefault(lt, []).append(rt)
    out = [(lt, rt, f, "left") for lt, rt in pos for f in neg_by_r.get(rt, ())]
    out += [(rt, lt, f, "right") for lt, rt in pos for f in neg_by_l.get(lt, ())]
    return out


@dataclass
class Probe:
    """One explained instance after its support scan: its triangles,
    the class being explained and, when the DA fallback ran, the token-
    drop copies extending the (left, right) sources."""

    triangles: list[Triangle]
    class_to_explain: int
    extensions: tuple[DataFrame, DataFrame] | None = None


def _member_id(member: str) -> int:
    return int(member.split("@")[1])


def _member_values(source: DataFrame) -> DataFrame:
    """A source as (long ``id``, ``_vals``: its attributes as strings)."""
    return source.select(
        F.col("id").cast("long").alias("id"),
        F.array(
            *[F.col(c).cast("string") for c in source.columns if c != "id"]
        ).alias("_vals"),
    )


def fetch_members(
    probes: dict[int, Probe], lsource: DataFrame, rsource: DataFrame
) -> dict[int, list[tuple[Triangle, dict, dict, dict]]]:
    """J4 — resolve every triangle member (u=pivot, v=anchor, w=free) of
    every probe to its records with ONE Spark collect over the sources
    (and each probe's DA extensions). Returns, per probe, one
    ``(triangle, u, v, w)`` entry per matching record combination — an
    id held by several records yields every combination and a missing
    one none, as an inner join would."""
    l_attrs = [c for c in lsource.columns if c != "id"]
    r_attrs = [c for c in rsource.columns if c != "id"]
    # probe -> (left ids, right ids)
    need = {p: (set(), set()) for p in probes}
    for p, probe in probes.items():
        for pivot, anchor, free, side in probe.triangles:
            own, other = need[p] if side == "left" else need[p][::-1]
            own.update((_member_id(pivot), _member_id(free)))
            other.add(_member_id(anchor))

    def lookup(values, src, probe, ids):
        # the ids are ints: one SQL predicate, not a py4j literal per id
        in_list = ",".join(map(str, sorted(ids))) or "NULL"
        return values.filter(f"id IN ({in_list})").select(
            F.lit(probe).alias("_probe"), F.lit(src).alias("_src"), "id", "_vals"
        )

    parts = []
    for src, source in enumerate((lsource, rsource)):
        ids = set().union(*(need[p][src] for p in probes))
        parts.append(lookup(derived(source, "members", _member_values), src, -1, ids))
        for p, probe in probes.items():
            if probe.extensions is not None:
                ext = probe.extensions[src].select(*source.columns)
                parts.append(lookup(_member_values(ext), src, p, need[p][src]))
    frame = parts[0]
    for part in parts[1:]:
        frame = frame.unionByName(part)
    records: dict[tuple[int, int, int], list[dict]] = {}
    for r in frame.collect():
        attrs = r_attrs if r["_src"] else l_attrs
        records.setdefault((r["_probe"], r["_src"], r["id"]), []).append(
            dict(zip(attrs, r["_vals"]))
        )

    def recs(p: int, src: int, member: str) -> list[dict]:
        rid = _member_id(member)
        return records.get((-1, src, rid), []) + records.get((p, src, rid), [])

    out = {}
    for p, probe in probes.items():
        out[p] = []
        for tri in probe.triangles:
            own, other = (0, 1) if tri[3] == "left" else (1, 0)
            out[p] += [
                (tri, u, v, w)
                for u in recs(p, own, tri[0])
                for w in recs(p, own, tri[2])
                for v in recs(p, other, tri[1])
            ]
    return out


def perturbations(
    members: list[tuple[Triangle, dict, dict, dict]],
    l_attrs: list[str],
    r_attrs: list[str],
    depth: int,
    class_to_explain: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> list[dict]:
    """UD5/U3 — all depth-``depth`` perturbation rows of the resolved
    triangles. For a left-side triangle the pivot u and free w are
    left-source records and the anchor v a right-source one (vice versa
    for right). For class_to_explain==1 the perturbed record starts from
    u and receives the subset's values from w; for class 0 it starts
    from w and receives values from u (triangles_method.py:84-105).
    Subsets are over prefixed attribute names (triangles_method.py:
    211-212). Each row holds the prefixed pair attributes, the
    alteredAttributes/droppedValues/copiedValues tuples, the triangle
    string and the depth."""
    out = []
    for (pivot, anchor, free, side), u, v, w in members:
        if side == "left":
            ppfx, apfx, p_attrs, a_attrs = lprefix, rprefix, l_attrs, r_attrs
        else:
            ppfx, apfx, p_attrs, a_attrs = rprefix, lprefix, r_attrs, l_attrs
        base, donor = (u, w) if class_to_explain == 1 else (w, u)
        anchor_cols = {apfx + c: v[c] for c in a_attrs}
        triangle = f"{pivot} {anchor} {free}"
        for subset in combinations(p_attrs, depth):
            row = {
                ppfx + c: (donor if c in subset else base)[c] for c in p_attrs
            }
            row.update(anchor_cols)
            row["alteredAttributes"] = tuple(ppfx + c for c in subset)
            row["droppedValues"] = tuple(base[c] for c in subset)
            row["copiedValues"] = tuple(donor[c] for c in subset)
            row["triangle"] = triangle
            row["depth"] = depth
            out.append(row)
    return out


def is_flip(row: dict, class_to_explain: int) -> bool:
    """P9 — prediction flipped away from the original class
    (triangles_method.py:307)."""
    key = "match_score" if class_to_explain == 1 else "nomatch_score"
    return row[key] < 0.5


def _score(spark: SparkSession, matcher: Matcher, rows: list[dict], pair_cols):
    """One model round: a local relation of ``rows`` goes through
    ``matcher.predict`` and the scores are written back into the rows.
    With a JVM-expression matcher the collect runs on the driver and
    launches no Spark job."""
    if not rows:
        return
    strings = ArrayType(StringType())
    schema = StructType(
        [StructField(c, StringType()) for c in pair_cols]
        + [StructField(c, strings) for c in VALUE_LISTS]
        + [
            StructField("triangle", StringType()),
            StructField("depth", IntegerType()),
            StructField("_row", LongType()),
        ]
    )
    data = [
        (
            *[r[c] for c in pair_cols],
            *[list(r[c]) for c in VALUE_LISTS],
            r["triangle"],
            r["depth"],
            k,
        )
        for k, r in enumerate(rows)
    ]
    frame = local_frame(spark, data, schema)
    scored = matcher.predict(frame).select("_row", "match_score", "nomatch_score")
    for k, match, nomatch in scored.collect():
        rows[k]["match_score"] = match
        rows[k]["nomatch_score"] = nomatch


def perturb_predict_fused_batch(
    spark: SparkSession,
    probes: dict[int, Probe],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    attr_length: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> dict[int, tuple[list[dict], list[tuple], list[dict]]]:
    """:func:`perturb_predict` for many instances at once, keyed by
    probe: one member lookup and shared model rounds for all of them
    (probes may explain different classes). Each probe keeps the
    reference's monotonicity early exit: once every perturbation of a
    depth flips, deeper depths are synthesized as flipped without their
    model scores (``all_good``, triangles_method.py:309-327).

    A cheap matcher scores all depths of all probes in one round and the
    exit is applied afterwards (the scores of synthesized depths are
    discarded); otherwise round ``d`` scores depth ``d`` of the probes
    not yet exited."""
    l_attrs = [c for c in lsource.columns if c != "id"]
    r_attrs = [c for c in rsource.columns if c != "id"]
    pair_cols = [lprefix + c for c in l_attrs] + [rprefix + c for c in r_attrs]
    depths = range(1, attr_length)
    members = fetch_members(probes, lsource, rsource) if depths else {}
    rows = {
        p: {
            d: perturbations(
                members[p], l_attrs, r_attrs, d,
                probe.class_to_explain, lprefix, rprefix,
            )
            for d in depths
        }
        for p, probe in probes.items()
    }

    def all_flip(p: int, d: int) -> bool:
        pc = probes[p].class_to_explain
        return bool(rows[p][d]) and all(is_flip(r, pc) for r in rows[p][d])

    # the last depth of each probe that keeps its model scores
    real_upto = {p: attr_length for p in probes}
    if getattr(matcher, "cheap", False):
        _score(
            spark, matcher,
            [r for p in probes for d in depths for r in rows[p][d]], pair_cols,
        )
        for p in probes:
            real_upto[p] = next((d for d in depths if all_flip(p, d)), attr_length)
    else:
        live = set(probes)
        for d in depths:
            if not live:
                break
            _score(spark, matcher, [r for p in live for r in rows[p][d]], pair_cols)
            for p in [p for p in live if all_flip(p, d)]:
                real_upto[p] = d
                live.discard(p)

    out = {}
    for p, probe in probes.items():
        pc = probe.class_to_explain
        match_syn = 1.0 if pc == 0 else 0.0
        flips, counts, predicted = [], {}, []
        for d in depths:
            for r in rows[p][d]:
                if d > real_upto[p]:
                    r["match_score"], r["nomatch_score"] = match_syn, 1.0 - match_syn
                else:
                    predicted.append(r)
                key = (r["alteredAttributes"], d)
                counts[key] = counts.get(key, 0)
                if is_flip(r, pc):
                    counts[key] += 1
                    flips.append(r)
        out[p] = (flips, [(a, n, d) for (a, d), n in counts.items()], predicted)
    return out


def perturb_predict(
    spark: SparkSession,
    triangles: list[Triangle],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    class_to_explain: int,
    attr_length: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    extensions: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[list[dict], list[tuple], list[dict]]:
    """Depth-stratified perturb+predict of one instance
    (triangles_method.py:266-334); depths run 1..attr_length-1
    (reference ``range(1, attr_length)``).

    Returns (flipped_predictions, rankings, all_predictions):
      * flipped_predictions — scored perturbation rows that flipped;
      * rankings — (alteredAttributes, flips, depth) incl. zero-flip
        subsets (getAttributeRanking keeps zeros, line 377);
      * all_predictions — every row that kept its model score (the S3
        prediction log; synthesized depths excluded, matching the
        reference which only logs real predictions).
    """
    probe = Probe(triangles, class_to_explain, extensions)
    return perturb_predict_fused_batch(
        spark, {0: probe}, lsource, rsource, matcher, attr_length,
        lprefix, rprefix,
    )[0]


def aggregate_rankings(
    rankings: list[tuple], n_triangles: int, attr_length: int
) -> dict[tuple, float]:
    """A2 — merge per-depth flip counts, normalize by #triangles
    (aggregateRankings, triangles_method.py:387-396): attr-set -> PSS."""
    sums: dict[tuple, int] = {}
    for attrs, flips, _depth in rankings:
        if len(attrs) <= attr_length:
            sums[attrs] = sums.get(attrs, 0) + flips
    return {attrs: s / float(n_triangles) for attrs, s in sums.items()}


def saliency(
    rankings: list[tuple],
    attributes: list[str],
    n_triangles: int,
    n_flipped: int,
) -> dict[str, float]:
    """A3 — per-attribute saliency (triangles_method.py:224-233):
    base rate n_triangles/flips plus the attribute's share of flip
    counts, where flips = #flipped predictions + #triangles."""
    flips = n_flipped + n_triangles
    base = n_triangles / flips if flips else 0.0
    counts: dict[str, int] = {}
    for attrs, nf, _depth in rankings:
        for a in attrs:
            counts[a] = counts.get(a, 0) + nf
    return {a: base + counts.get(a, 0) / flips for a in attributes}


def cf_summary(pss: dict[tuple, float]) -> dict[tuple, float]:
    """A5+A6 — keep attr-sets at the max PSS, then drop any set that
    strictly contains another surviving set (cf_summary,
    triangles_method.py:254-263).

    The reference's minimality test operates on characters of the
    "a/b"-joined strings (a latent bug); we implement the documented
    intent — attr-*set* containment.
    """
    if not pss:
        return {}
    top = max(pss.values())
    keep = [a for a, v in pss.items() if v == top]
    return {
        a: top
        for a in keep
        if not any(set(b) < set(a) for b in keep)
    }


def counterfactuals(flipped_rows: list[dict], summary: dict) -> list[dict]:
    """P7+P8+T4 — flipped rows whose altered set is one of the summary's
    minimal sets, deduplicated on (copiedValues, alteredAttributes,
    droppedValues), simplest first (explain.py:73-77,
    triangles_method.py:236-239)."""
    seen, out = set(), []
    for r in flipped_rows:
        key = (r["copiedValues"], r["alteredAttributes"], r["droppedValues"])
        if r["alteredAttributes"] in summary and key not in seen:
            seen.add(key)
            out.append(r)
    return sorted(out, key=lambda r: len(r["alteredAttributes"]))
