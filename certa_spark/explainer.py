"""CertaExplainer — the flagship query facade (certa/explain.py:11-158).

Same contract as the reference: given two records and a matcher,
produce (saliency, probabilities-of-sufficiency, counterfactuals,
triangles). Pandas objects at the API edge for drop-in familiarity.

``explain`` is the one-instance case of ``explain_batch``: one pipeline
serves both. Spark runs the phases whose size grows with the data: the
support scan over the sources (operators/support.py) and the model
rounds. What follows the scan is bounded by ``num_triangles``, so the
pipeline collects the scan's capped ranked rows once and finishes on
the driver: the support search's stop rule, balancing and
permutation (operators/support.py), wedge enumeration, one batched
lookup of the triangle members, the perturbation rows, one model round
over them (one per depth for a costly matcher), and the
flip/PSS/saliency/counterfactual folds (operators/triangles.py).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from certa_spark import tmpcache
from certa_spark.matching import Matcher, NativeCosineMatcher
from certa_spark.operators import triangles as T
from certa_spark.operators.augment import generate_modified
from certa_spark.operators.pairs import pair_rows
from certa_spark.operators.support import support_predictions
from certa_spark.schema import LPREFIX, RPREFIX

# instances per fused support scan in explain_batch
SCAN_BATCH_SIZE = 8
# counterfactual frame columns after the pair attributes
CF_TAIL = (*T.BOOKKEEPING, "match_score", "nomatch_score", "depth", "attr_count")


@dataclass
class Explanation:
    """Result surface of one explain() call (explain.py:155)."""

    saliency: pd.DataFrame        # 1 row, one col per pair attribute
    pss: pd.Series                # "a/b"-keyed probability of sufficiency
    counterfactuals: pd.DataFrame
    triangles: list[tuple[str, str, str]]
    cf_summary: pd.Series = field(default_factory=pd.Series)
    lattices: list = field(default_factory=list)
    saliency_dict: dict[str, float] = field(default_factory=dict)


def _empty() -> Explanation:
    return Explanation(pd.DataFrame(), pd.Series(dtype=float), pd.DataFrame(), [])


def _series(by_set: dict[tuple, float]) -> pd.Series:
    return pd.Series(
        list(by_set.values()), index=["/".join(a) for a in by_set], dtype=float
    )


class CertaExplainer:
    def __init__(
        self,
        spark: SparkSession,
        lsource: DataFrame,
        rsource: DataFrame,
        data_augmentation: str = "on_demand",
        seed: int = 42,
    ):
        """Mirror of certa/explain.py:13-32: with DA enabled, both
        sources are widened upfront with token-drop copies
        (generate_subsequences); 'always' additionally disables the
        early-exit candidate scan (use_all)."""
        self.spark = spark
        self.seed = seed
        lsource, rsource = (
            s.select(
                F.col("id").cast("long").alias("id"),
                *[F.col(c).cast("string").alias(c) for c in s.columns if c != "id"],
            )
            for s in (lsource, rsource)
        )
        if data_augmentation in ("always", "on_demand"):
            n_l, n_r = lsource.count(), rsource.count()
            gen_l = generate_modified(lsource, start_id=n_l)
            gen_r = generate_modified(rsource, start_id=n_r)
            self.lsource = lsource.unionByName(gen_l).cache()
            self.rsource = rsource.unionByName(gen_r).cache()
            self.use_all = data_augmentation == "always"
        else:
            self.lsource = lsource.cache()
            self.rsource = rsource.cache()
            self.use_all = False

    def explain(
        self,
        l_tuple: dict,
        r_tuple: dict,
        matcher: Matcher | None = None,
        left: bool = True,
        right: bool = True,
        attr_length: int = -1,
        num_triangles: int = 100,
        lprefix: str = LPREFIX,
        rprefix: str = RPREFIX,
        max_predict: int = -1,
        debug: bool = False,
    ) -> Explanation:
        """Explain one pair (explain.py:11-158): the one-instance case
        of :meth:`explain_batch`. ``left``/``right`` say whether the
        left / right source is scanned for support pairs (the
        reference's w / q probes); ``debug`` adds the per-triangle
        lattices."""
        # the DA fallback's cached probe copies register with this scope
        # and are unpersisted when the explanation (pure driver-side
        # data) is returned — see tmpcache.py for why leaking them
        # degrades long sessions
        with tmpcache.scope():
            return self._explain_chunk(
                [(l_tuple, r_tuple)], matcher, num_triangles, attr_length,
                lprefix, rprefix, max_predict,
                use_w=left, use_q=right, debug=debug,
            )[0]

    def explain_batch(
        self,
        instances: list[tuple[dict, dict]],
        matcher: Matcher | None = None,
        num_triangles: int = 100,
        attr_length: int = -1,
        lprefix: str = LPREFIX,
        rprefix: str = RPREFIX,
        max_predict: int = -1,
    ) -> list[Explanation]:
        """Set-oriented multi-pair explain — the shape the reference's
        per-instance Python loop cannot express: ONE model round scores
        every instance's original pair (one local relation), ONE fused
        corpus scan + model round (operators/support.py) covers every
        instance's candidate search, and ONE member lookup and model
        round (per depth for a costly matcher) cover every instance's
        perturbations. An instance whose support falls short (DA
        fallback) scans only its own token-drop copies, then joins the
        shared rounds.

        ``explain(x)`` runs this pipeline on one instance, so
        ``explain_batch([x]) == [explain(x)]`` (parity-tested).

        Batches above ``SCAN_BATCH_SIZE`` are split into chunks, each
        one fused scan, run two at a time so that one chunk's driver
        work overlaps the other chunk's Spark jobs. Plan size is not
        the reason: on the perfbench inputs (4 cores) a 16-instance
        batch took 3.38 s as one literal-union plan and 3.29 s as a
        plan whose size does not grow with the batch, while two chunks
        took 2.57-2.90 s. The chunk workers run in the caller's job
        group.
        """
        if len(instances) > SCAN_BATCH_SIZE:
            # overlap chunk pipelines: chunk n+1's scan runs while chunk
            # n's driver-side pass and model round drain
            chunks = [
                instances[at : at + SCAN_BATCH_SIZE]
                for at in range(0, len(instances), SCAN_BATCH_SIZE)
            ]
            one = inheritable_thread_target(self.spark)(
                lambda ch: self.explain_batch(
                    ch, matcher, num_triangles, attr_length,
                    lprefix, rprefix, max_predict,
                )
            )
            with ThreadPoolExecutor(max_workers=2) as cpool:
                parts = list(cpool.map(one, chunks))
            return [e for part in parts for e in part]
        with tmpcache.scope():
            return self._explain_chunk(
                instances, matcher, num_triangles, attr_length,
                lprefix, rprefix, max_predict,
            )

    def _explain_chunk(
        self, instances, matcher, num_triangles, attr_length,
        lprefix, rprefix, max_predict, use_w=True, use_q=True, debug=False,
    ) -> list[Explanation]:
        spark = self.spark
        if matcher is None:
            matcher = NativeCosineMatcher(lprefix, rprefix)
        # 1. original predictions, one model round for all instances
        # (explain.py:54-55)
        heads = pair_rows(spark, instances, lprefix, rprefix, index="_i")
        match_scores = [0.0] * len(instances)
        pcs = [0] * len(instances)
        for r in (
            matcher.predict(heads)
            .select("_i", "nomatch_score", "match_score")
            .collect()
        ):
            match_scores[r["_i"]] = float(r["match_score"])
            pcs[r["_i"]] = 1 if r["match_score"] > r["nomatch_score"] else 0

        # 2. support search for all instances (explain.py:56-62)
        edges, extensions = support_predictions(
            spark, instances, self.lsource, self.rsource, matcher, pcs,
            num_triangles, self.seed, lprefix=lprefix, rprefix=rprefix,
            use_w=use_w, use_q=use_q, max_predict=max_predict,
            use_all=self.use_all,
        )

        # 3. perturb+predict for every instance with triangles at once;
        # DA copies of r2 extend the left source and copies of r1 the
        # right one (explain.py:67)
        if attr_length <= 0:
            attr_length = min(len(instances[0][0]) - 1, len(instances[0][1]) - 1)
        triangles = [T.wedges(e) for e in edges]
        probes = {
            i: T.Probe(tris, pcs[i], extensions[i])
            for i, tris in enumerate(triangles)
            if tris
        }
        results = (
            T.perturb_predict_fused_batch(
                spark, probes, self.lsource, self.rsource, matcher,
                attr_length, lprefix, rprefix,
            )
            if probes
            else {}
        )
        return [
            self._explanation(
                triangles[i], results[i], attr_length, lprefix, rprefix,
                match_scores[i] if debug else None,
            )
            if i in results
            else _empty()
            for i in range(len(instances))
        ]

    def _explanation(
        self, triangles, result, attr_length, lprefix, rprefix,
        debug_score: float | None = None,
    ) -> Explanation:
        """Fold one instance's scored perturbations into its
        explanation (explain.py:64-78): PSS, saliency, cf_summary and
        the deduplicated counterfactuals; with ``debug_score`` (the
        original match score) also the per-triangle lattices
        (explain.py:79-153)."""
        flips, rankings, predicted = result
        attributes = [lprefix + c for c in self.lsource.columns if c != "id"] + [
            rprefix + c for c in self.rsource.columns if c != "id"
        ]
        n_tri = len(triangles)
        pss = T.aggregate_rankings(rankings, n_tri, attr_length)
        summary = T.cf_summary(pss)
        sal = T.saliency(rankings, attributes, n_tri, len(flips))
        cfs = pd.DataFrame(
            [
                {
                    **r,
                    **{
                        c: "/".join(v for v in r[c] if v is not None)
                        for c in T.VALUE_LISTS
                    },
                    "attr_count": len(r["alteredAttributes"]),
                }
                for r in T.counterfactuals(flips, summary)
            ],
            columns=[*attributes, *CF_TAIL],
        ).astype({"depth": "int32", "attr_count": "int32"})
        lattices: list = []
        if debug_score is not None:
            from certa_spark.lattice import lattices_from_predictions

            lattices = lattices_from_predictions(predicted, attributes, debug_score)
        return Explanation(
            saliency=pd.DataFrame([sal]),
            pss=_series(pss),
            counterfactuals=cfs,
            triangles=[t[:3] for t in triangles],
            cf_summary=_series(summary),
            lattices=lattices,
            saliency_dict=sal,
        )
