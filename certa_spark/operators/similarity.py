"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; LSH-bucketed
(random hyperplane signs) variant as the sub-quadratic scale path.
Dot products stay JVM-side via ``zip_with``/``aggregate`` — no Python.

At cluster scale the probe set is broadcast (small side) and the corpus
scan is embarrassingly parallel; top-k per probe is a partial top-k per
partition followed by one narrow window over (probe, rank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from certa_spark.functions.litfast import array_lit


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-row precomputed norms. Identical float value to
    :func:`cosine` (same fold order: dot / (norm_a * norm_b)) but the
    norms are computed once per ROW instead of once per candidate PAIR
    — the difference between O(pairs·dim) and O(pairs·dim + rows·dim)
    work in a join's hot loop."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def duck_cosine(a: str, b: str) -> str:
    """DuckDB twin. NOTE: accumulation order matters for float equality;
    DuckDB's list_cosine_similarity uses a different internal order, so
    the oracle spells out the same left-to-right fold as Spark's
    ``aggregate`` with DOUBLE casts."""
    d = f"list_aggregate(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    na = f"sqrt(list_aggregate(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    nb = f"sqrt(list_aggregate(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    return f"(CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE ({d}) / ({na} * {nb}) END)"


def knn_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each probe over the corpus.

    ``probes`` is broadcast; ranking is a window per probe with a
    deterministic (similarity desc, id asc) order. Returns
    (probe_id, neighbor_id, rank, sim).
    """
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
        ).select("probe_id", "_pv", l2_norm(F.col("_pv")).alias("_pn"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).select("neighbor_id", "_cv", l2_norm(F.col("_cv")).alias("_cn"))
    scored = c.crossJoin(p).withColumn(
        "sim",
        F.round(
            cosine_pre(F.col("_pv"), F.col("_cv"), F.col("_pn"), F.col("_cn")), 6
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "sim")
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-dot-product LSH bucket id from fixed hyperplanes. The
    plane matrix rides as ONE nested-array literal (per-scalar literal
    trees re-pay analysis/codegen on every call — the PQ lesson),
    rendered in a single py4j round trip (litfast.array_lit; F.lit on
    a nested list costs one round trip PER SCALAR at build time)."""
    pl = array_lit([[float(x) for x in plane] for plane in planes])
    out = F.lit(0).cast("long")
    for i in range(len(planes)):
        p = F.element_at(pl, i + 1)
        out = out + F.when(dot(vec, p) > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def ivf_cell_sims(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of cosine(vec, centroid_i), unrounded (for argmax).

    Centroids are driver-held (k tiny vectors) and inlined as literals,
    so the whole assignment is map-side — no join, no shuffle. Alias
    the result once and reference the column (CollapseProject keeps
    multi-referenced non-cheap aliases as once-per-row columns)."""
    ct = array_lit([[float(x) for x in c] for c in centroids])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: cosine(vec, F.element_at(ct, i + 1)),
    )


def kmeans_centroids(
    df: DataFrame, k: int, vec_col: str = "embedding", seed: int = 42
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids with MLlib KMeans (the
    production path — at 100TB train on a sample, then assignment is
    the map-side literal expression in :func:`ivf_cell_sims`)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, initMode="k-means||").fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def knn_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: assign every corpus vector to its argmax-cosine
    centroid cell (map-side, no shuffle — at scale this is precomputed
    once and the corpus is written partitioned by cell), then search
    only each probe's ``nprobe`` nearest cells (broadcast equi-join on
    cell id). Ties break to the lowest cell index on both engines.
    Same output schema as :func:`knn_bruteforce`; recall is governed by
    nprobe / #cells, the classic IVF trade."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).select(
        "neighbor_id",
        "_cv",
        l2_norm(F.col("_cv")).alias("_cn"),
        ivf_cell_sims(F.col("_cv"), centroids).alias("_sims"),
    ).select(
        "neighbor_id",
        "_cv",
        "_cn",
        (F.array_position(F.col("_sims"), F.array_max("_sims")) - 1)
        .cast("int")
        .alias("_cell"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
    ).select(
        "probe_id",
        "_pv",
        l2_norm(F.col("_pv")).alias("_pn"),
        F.posexplode(ivf_cell_sims(F.col("_pv"), centroids)).alias("_cell", "_s"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("_s").desc(), F.col("_cell").asc())
    pc = (
        p.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("probe_id", "_pv", "_pn", "_cell")
    )
    scored = c.join(F.broadcast(pc), "_cell").withColumn(
        "sim",
        F.round(
            cosine_pre(F.col("_pv"), F.col("_cv"), F.col("_pn"), F.col("_cn")), 6
        ),
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "sim")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    (OR-amplification): split ``planes`` into ``bands`` bands, a pair
    is a candidate if ANY band's sign-bucket matches; candidates are
    cosine-scored and kept at ``sim >= threshold``.

    Plan: posexplode band buckets (narrow) -> self equi-join on
    (band, bucket) (ONE shuffle, sub-quadratic vs the n^2 cross join)
    -> score+filter in the join output stream -> distinct over the tiny
    surviving set. At 100TB use more planes per band (selectivity grows
    2^planes) and more bands (recall); here 3x2 fits the testdata.
    Returns (a_id, b_id, sim) with a_id < b_id."""
    per_band = len(planes) // bands
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    buckets = F.array(
        *[
            hyperplane_bucket(F.col("_v"), planes[b * per_band : (b + 1) * per_band])
            for b in range(bands)
        ]
    )
    # candidate generation ships IDS ONLY: the bucket self-join would
    # otherwise carry two dim-sized vectors per candidate row through
    # the exchange. Vectors are re-attached by id afterwards — the
    # vector table is |rows| * dim, which broadcasts far longer than
    # the candidate stream stays small.
    banded = base.select("_id", F.posexplode(buckets).alias("_band", "_bkt"))
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), ["_band", "_bkt"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("a_id"), F.col("r._id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # no broadcast hint: under the 64MB threshold Catalyst broadcasts
    # the vector table on its own; past it (100TB) the same plan
    # becomes two shuffled joins on the id — never a forced-OOM hint
    vecs = base.select("_id", "_v", l2_norm(F.col("_v")).alias("_n"))
    scored = (
        pairs.join(
            vecs.select(
                F.col("_id").alias("a_id"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "a_id",
        )
        .join(
            vecs.select(
                F.col("_id").alias("b_id"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.round(
                cosine_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
                round_to,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return scored


def cosine_neardup_pairs_blas(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Banded-LSH cosine near-dup, BLAS scale path: same candidate
    generation as :func:`cosine_neardup_pairs`, but each (band, bucket)
    group is scored as ONE vectorized matmul in an Arrow-batched
    ``applyInPandas`` — data shipped O(rows*dim) (each vector crosses
    once per band), compute is numpy/BLAS instead of a per-pair
    interpreted fold. ~3x faster already at sf0.1 and the gap widens
    with bucket size.

    Sims are rounded to ``round_to`` (default 6, same as the fold
    scorer so the two are swap-compatible at defaults) decimals: BLAS fold
    order differs from a left-to-right fold by ~1e-15, far below the
    rounding grain, so results stay engine-portable. Size planes so
    buckets are bounded and #buckets >> #cores (pairwise matrix per
    bucket is O(rows^2))."""
    import pandas as pd

    per_band = len(planes) // bands
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    buckets = F.array(
        *[
            hyperplane_bucket(F.col("_v"), planes[b * per_band : (b + 1) * per_band])
            for b in range(bands)
        ]
    )
    banded = base.select("_id", "_v", F.posexplode(buckets).alias("_band", "_bkt"))

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "sim": pd.Series(dtype="float64")})
        if len(pdf) < 2:
            return empty
        X = np.stack(pdf["_v"].to_numpy())
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        S = (X / norms) @ (X / norms).T
        ia, ib = np.triu_indices(len(X), 1)
        sims = np.round(S[ia, ib], round_to)
        keep = sims >= threshold
        if not keep.any():
            return empty
        ids = pdf["_id"].to_numpy()
        a, b = ids[ia[keep]], ids[ib[keep]]
        return pd.DataFrame(
            {"a_id": np.minimum(a, b), "b_id": np.maximum(a, b), "sim": sims[keep]}
        )

    out = banded.groupBy("_band", "_bkt").applyInPandas(
        score, "a_id long, b_id long, sim double"
    )
    return out.distinct()


def knn_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH
    bucket (equi-join on bucket id — one shuffle instead of a full
    scan per probe). Recall depends on #planes; the scale path for
    100TB corpora. Same output schema as :func:`knn_bruteforce`."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        hyperplane_bucket(F.col(vec_col), planes).alias("_bkt"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pv"),
        l2_norm(F.col(vec_col)).alias("_pn"),
        hyperplane_bucket(F.col(vec_col), planes).alias("_bkt"),
    )
    scored = c.join(F.broadcast(p), "_bkt").withColumn(
        "sim",
        F.round(
            cosine_pre(F.col("_pv"), F.col("_cv"), F.col("_pn"), F.col("_cn")), 6
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "sim")
    )


def quantize_uint8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension uint8 quantization of an embedding column — the
    4x storage/shuffle shrink every 100TB vector pipeline applies
    before indexing (IVF/LSH recall is insensitive to 8-bit rounding).

    Plan: posexplode dims -> per-dimension min/max aggregate (exact —
    min/max have no float-order sensitivity) -> broadcast the 1-row-
    per-dim stats back -> quantize -> reassemble in dimension order.
    Quantized value = floor((x - mn) * 255 / (mx - mn) + 0.5), written
    with floor(+0.5) instead of round() so both engines break .5 ties
    identically. Returns (id, qvec array<int>).
    """
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("idx", "x"),
    )
    stats = ex.groupBy("idx").agg(
        F.min("x").alias("_mn"), F.max("x").alias("_mx")
    )
    q = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.floor(
            (F.col("x") - F.col("_mn")) * 255.0 / (F.col("_mx") - F.col("_mn"))
            + 0.5
        ).cast("int")
    )
    return (
        ex.join(F.broadcast(stats), "idx")
        .select(id_col, F.struct("idx", q.alias("q")).alias("_s"))
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["q"]
            ).alias("qvec")
        )
    )


def duck_quantize_uint8_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle for :func:`quantize_uint8` (lateral unnest +
    ordered list() reassembly; 0-based idx matches posexplode)."""
    return f"""
    WITH ex AS (
        SELECT {id_col}, CAST(u.i AS INT) AS idx,
               CAST({vec_col}[CAST(u.i AS INT) + 1] AS DOUBLE) AS x
        FROM {table}, UNNEST(range(0, len({vec_col}))) AS u(i)
    ),
    stats AS (
        SELECT idx, min(x) AS mn, max(x) AS mx FROM ex GROUP BY idx
    )
    SELECT {id_col},
           list(CASE WHEN mx = mn THEN 0
                     ELSE CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT)
                END ORDER BY idx) AS qvec
    FROM ex JOIN stats USING (idx)
    GROUP BY {id_col}
    """


def _d2(a: Column, b: Column) -> Column:
    """Rounded squared-L2 between two equal-length arrays
    (left-to-right fold — the oracle spells the identical chain)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int, out_id: str
) -> DataFrame:
    v = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("_v", s * dsub + 1, dsub).alias("subv"),
            )
            for s in range(m)
        ]
    )
    return v.select(out_id, F.explode(slices).alias("_sv")).select(
        out_id, F.col("_sv.sub").alias("sub"), F.col("_sv.subv").alias("subv")
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: returns (id, sub, code) — one row
    per subspace with the argmin-L2 codebook entry (ties to the lowest
    code id via array_position's first-match).

    ``codebooks[s][c]`` is the c-th code of subspace s. The whole
    codebook is ONE constant-folded literal array of (sub, code, cvec)
    structs; per subspace the argmin is a higher-order
    filter → transform(d2) → array_min chain, so codegen holds a
    SINGLE copy of the d2 fold (inlining one fold per code measured
    ~10x slower from Janino compile alone) and encoding stays strictly
    MAP-SIDE — no join, no shuffle ever touches the corpus. At 100TB
    the codes table (m uint8s per vector, a ~32x shrink at 64 dims) is
    what gets persisted and scanned by ADC.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n_codes = len(codebooks[0])
    # ONE nested-array literal for the whole codebook, rendered in ONE
    # py4j round trip (array_lit): the r1 form spelled 1024 scalar
    # literals inside (sub,code,cvec) structs, and re-analyzing/
    # codegen'ing that tree cost ~1.5s per CALL (plans aren't cached
    # across calls) — 2x the encode time at small scale; the r11 form
    # also stops F.lit(list) from paying one driver round trip per
    # SCALAR at build time. Indexing is element_at(cb, sub+1)[code+1].
    cb = array_lit(
        [[list(map(float, code)) for code in book] for book in codebooks]
    )
    sv = _subvectors(df, id_col, vec_col, m, dsub, id_col)
    # argmin with ties to the lowest code id: array_min over
    # (d2, code) structs is lexicographic
    best = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_codes - 1)),
            lambda c: F.struct(
                _d2(
                    F.col("subv"),
                    F.element_at(F.element_at(cb, F.col("sub") + 1), c + 1),
                ).alias("d"),
                c.alias("code"),
            ),
        )
    )
    return sv.select(id_col, "sub", best["code"].alias("code"))


def _pq_codes_column(vec: Column, cb: Column, m: int, dsub: int,
                     n_codes: int) -> Column:
    """``array<int>`` of the argmin-L2 PQ code per subspace — the same
    argmin (ties to the lowest code id via array_min's lexicographic
    struct order) and the same ``_d2`` fold :func:`pq_encode` runs, but
    producing the dense per-vector code ARRAY map-side instead of one
    exploded row per subspace. One codegen'd nested fold (the
    `pq_encode` Janino lesson: a single copy of the d2 chain)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda c: F.struct(
                    _d2(
                        F.slice(vec, s * dsub + 1, dsub),
                        F.element_at(F.element_at(cb, s + 1), c + 1),
                    ).alias("d"),
                    c.alias("code"),
                ),
            )
        )["code"],
    )


def _pq_lut_column(vec: Column, cb: Column, m: int, dsub: int,
                   n_codes: int) -> Column:
    """Dense per-probe ADC lookup table: ``array<double>`` of
    ``m * n_codes`` entries, entry ``s*n_codes + c`` = the same rounded
    subspace distance ``_d2(vec_sub_s, codebook[s][c])`` the relational
    distance-table build produced — pivoted into one array so the
    asymmetric distance becomes an inline fold instead of a
    corpus-sized join + groupBy exchange."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda c: _d2(
                    F.slice(vec, s * dsub + 1, dsub),
                    F.element_at(F.element_at(cb, s + 1), c + 1),
                ),
            ),
        )
    )


def _adc_fold(codes: Column, lut: Column, m: int, n_codes: int) -> Column:
    """Asymmetric distance from a code array and a dense LUT: the
    fixed-order decimal fold ``sum_s lut[s*n_codes + codes[s]]``.
    Decimal(30,6) addition is exact and order-free, so the folded sum
    is bit-identical to the relational ``sum(d2 cast decimal(30,6))``
    the old groupBy computed; round(...,6) on a scale-6 decimal is the
    same no-op both ways and the final double cast sees the same exact
    decimal."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, s: acc
            + F.element_at(
                lut, s * n_codes + F.element_at(codes, s + 1) + 1
            ).cast("decimal(30,6)"),
        ),
        6,
    ).cast("double")


def knn_pq_adc(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance ANN: encode the corpus once (a dense
    ``array<int>`` of codes per vector, map-side), build each probe's
    distance table as a dense ``m * n_codes`` lookup ARRAY from the
    SAME literal codebooks, then approximate distance = an inline
    fixed-order decimal fold over table lookups — one broadcast of the
    tiny probe side against the corpus scan, no corpus-sized shuffle
    at all (the r11 relational shape paid a corpus x probes x m
    groupBy exchange purely to sum m lookups per pair). Returns
    (probe_id, neighbor_id, rank, adist) with adist the rounded
    squared-L2 approximation — bit-identical to the relational form
    (exact decimal addition, same d2 folds; see ``_adc_fold``).
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n_codes = len(codebooks[0])
    cb = array_lit(
        [[list(map(float, code)) for code in book] for book in codebooks]
    )
    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        "neighbor_id",
        _pq_codes_column(F.col("_v"), cb, m, dsub, n_codes).alias("_codes"),
    )
    luts = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pv"),
    ).select(
        "probe_id",
        _pq_lut_column(F.col("_pv"), cb, m, dsub, n_codes).alias("_lut"),
    )
    scored = codes.crossJoin(F.broadcast(luts)).select(
        "probe_id",
        "neighbor_id",
        _adc_fold(F.col("_codes"), F.col("_lut"), m, n_codes).alias("adist"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "adist")
    )


def knn_lsh_multiprobe(
    corpus: DataFrame,
    probes: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe hyperplane LSH: each probe searches its own sign
    bucket PLUS every Hamming-1 neighbor bucket (one flipped plane bit)
    — the standard recall/cost knob: ~(1+n_planes)x the candidates of
    single-probe LSH without growing the index, far below brute force.
    Same output schema as :func:`knn_bruteforce`. The probe side
    explodes its bucket list (tiny); the corpus side is untouched, so
    at 100TB the cost is still one equi-join on the bucket key.
    """
    n_planes = len(planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        hyperplane_bucket(F.col(vec_col), planes).alias("_bkt"),
    )
    base = hyperplane_bucket(F.col(vec_col), planes)
    buckets = F.array(
        base, *[base.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)]
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pv"),
        l2_norm(F.col(vec_col)).alias("_pn"),
        F.explode(buckets).alias("_bkt"),
    )
    scored = (
        c.join(F.broadcast(p), "_bkt")
        .dropDuplicates(["probe_id", "neighbor_id"])
        .withColumn(
            "sim",
            F.round(
                cosine_pre(F.col("_pv"), F.col("_cv"), F.col("_pn"), F.col("_cn")), 6
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "sim")
    )


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: each probe's
    top-k most-similar corpus vectors with a DIFFERENT label — the
    near-miss negatives that actually move an embedding model, vs the
    uninformative random negatives. Same broadcast-probe +
    partial-top-k shape as :func:`knn_bruteforce`; the label
    inequality filters BEFORE ranking so the window ranks only
    admissible negatives. Returns (probe_id, neighbor_id, rank, sim).
    """
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(label_col).alias("_pl"),
            F.col(vec_col).alias("_pv"),
        ).select(
            "probe_id", "_pl", "_pv", l2_norm(F.col("_pv")).alias("_pn")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
    ).select("neighbor_id", "_cl", "_cv", l2_norm(F.col("_cv")).alias("_cn"))
    scored = (
        c.crossJoin(p)
        .filter(F.col("_cl") != F.col("_pl"))
        .withColumn(
            "sim",
            F.round(
                cosine_pre(
                    F.col("_pv"), F.col("_cv"), F.col("_pn"), F.col("_cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "sim")
    )


def knn_ivfpq_adc(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite ANN (the production FAISS IVFPQ shape):
    coarse-quantize with ``centroids`` (argmin-L2 cell, ties to the
    lowest cell id), PQ-encode the RESIDUAL x - c(cell) with
    ``codebooks``, and answer queries with per-probed-cell asymmetric
    distance tables — ``||q - x||^2 ~ sum_s d2(q_res_s, code_s)`` with
    both sides residual to the SAME centroid, which is what makes the
    composite beat flat PQ at equal code budget (residuals are
    smaller, codes spend their bits on what the coarse cell didn't
    explain).

    Scale shape: cell assignment, residual arithmetic and encoding are
    strictly MAP-SIDE over the corpus (literal centroid/codebook
    arrays, one codegen'd d2 fold — the `pq_encode` lesson); at 100 TB
    the (cell, codes-array) table is what gets persisted, partitioned
    by cell. Query time touches only ``nprobe`` cells per probe: the
    dense per-(probe, cell) lookup tables (probes x nprobe rows, one
    m*n_codes array each) broadcast to an equi-join on the cell key and
    the asymmetric distance is an inline fixed-order decimal fold over
    table lookups — no corpus-sized aggregation exchange; the only
    shuffle left is the per-probe top-k window. No full-dimension math
    ever reaches corpus rows at query time.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n_codes = len(codebooks[0])
    ncell = len(centroids)
    centlit = array_lit([[float(x) for x in c] for c in centroids])
    cblit = array_lit(
        [[list(map(float, code)) for code in book] for book in codebooks]
    )

    def residual(vec: Column, cell: Column) -> Column:
        return F.zip_with(
            vec, F.element_at(centlit, cell + 1), lambda x, c: x - c
        )

    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    celld = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(ncell - 1)),
            lambda c: F.struct(
                _d2(F.col("_v"), F.element_at(centlit, c + 1)).alias("d"),
                c.alias("cell"),
            ),
        )
    )
    cv = cv.select("neighbor_id", "_v", celld["cell"].alias("cell"))
    # dense per-vector code array over the RESIDUAL to the assigned
    # cell — the same argmin/_d2 arithmetic the exploded (sub, code)
    # rows carried, pivoted map-side (see _pq_codes_column)
    codes = cv.select(
        "neighbor_id",
        "cell",
        _pq_codes_column(
            residual(F.col("_v"), F.col("cell")), cblit, m, dsub, n_codes
        ).alias("_codes"),
    )

    pv = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pv"),
    )
    pcell = pv.select(
        "probe_id",
        "_pv",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(ncell - 1)),
                lambda c: _d2(F.col("_pv"), F.element_at(centlit, c + 1)),
            )
        ).alias("cell", "_d"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_d").asc(), F.col("cell").asc()
    )
    pc = (
        pcell.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("probe_id", "_pv", "cell")
    )
    # dense per-(probe, cell) ADC lookup table over the probe residual
    # to THAT cell — probes x nprobe rows, each an m*n_codes array —
    # broadcast to an equi-join on the cell key. The r11 relational
    # shape shipped the same distances as (cell, sub, code, d2) rows
    # and paid a corpus x probes x m groupBy exchange to re-sum them;
    # the fold (see _adc_fold) is bit-identical and the exchange is
    # gone — the only shuffle left is the final top-k window.
    luts = pc.select(
        "probe_id",
        "cell",
        _pq_lut_column(
            residual(F.col("_pv"), F.col("cell")), cblit, m, dsub, n_codes
        ).alias("_lut"),
    )
    scored = codes.join(F.broadcast(luts), "cell").select(
        "probe_id",
        "neighbor_id",
        _adc_fold(F.col("_codes"), F.col("_lut"), m, n_codes).alias("adist"),
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "adist")
    )


def knn_ivfpq_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    shortlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — IVF-PQ ADC shortlist, then exact rerank
    (the production serving shape: FAISS IndexRefineFlat over IVFPQ).
    Stage 1 shortlists ``shortlist`` candidates per probe with
    :func:`knn_ivfpq_adc` — code arithmetic only, no full-dimension
    math touches the corpus. Stage 2 re-scores ONLY the shortlist
    against the full-dimension vectors and keeps the exact-squared-L2
    top ``k`` (ties to the lowest neighbor id).

    Scale shape: the shortlist is probes x shortlist rows — tiny by
    construction — so stage 2 is a BROADCAST hash join of the
    shortlist against the corpus scan plus one per-probe top-k
    window over <= shortlist rows. Full vectors of non-shortlisted
    rows never leave the scan stage; stage-2 compute is
    O(probes x shortlist x dim) regardless of corpus size, which is
    what makes refine affordable at 100 TB while repairing the PQ
    quantization error ADC alone cannot (rank inversions inside the
    shortlist are undone; misses OUTSIDE it are the recall budget the
    shortlist size buys).

    Returns (probe_id, neighbor_id, rank, dist, adist): ``dist`` the
    exact rounded squared-L2 that ordered the final top-k, ``adist``
    the stage-1 approximation kept so recall/IO audits can compare
    the two orderings row-for-row.
    """
    short = knn_ivfpq_adc(
        corpus,
        probes,
        centroids,
        codebooks,
        k=shortlist,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    pv = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pv"),
    )
    exact = (
        cv.join(
            F.broadcast(short.select("probe_id", "neighbor_id", "adist")),
            "neighbor_id",
        )
        .join(F.broadcast(pv), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            "adist",
            _d2(F.col("_pv"), F.col("_cv")).alias("dist"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "dist", "adist")
    )
