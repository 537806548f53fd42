"""Distributed covariance / PCA over an embedding column.

Architecture mirrors MLlib's RowMatrix PCA: the d x d Gramian is
aggregated DISTRIBUTED (here: one Arrow-batched ``mapInPandas`` pass
emitting per-batch partial outer products — d*(d+1)/2 rows per batch,
independent of batch row count), the tiny d x d eigenproblem is solved
on the driver with numpy, and the projection back over the data is a
map-side integer dot product against the broadcast component matrix.

Cross-engine determinism: floating-point summation is order-dependent,
so a naive double-sum covariance can never hash-match a sequential
DuckDB oracle. Instead every element is quantized ONCE to an integer
grid (``floor(x * Q + 0.5)`` — identical in numpy and SQL), all
aggregation happens on exact integers (decimal(38,0) sums in Spark,
HUGEINT sums in DuckDB), and the single float division at the end is
the same expression tree on both engines — bit-identical doubles, no
tolerance needed. The same trick makes the PCA projection exact: the
driver-side eigenvectors are quantized to integers before the
distributed dot product.

Reference parity note: tteofili/certa has no linear-algebra operators —
training-data-pipeline extension surface (SURVEY §2 extensions),
green-field, architecture modeled on MLlib RowMatrix (public Spark).

Overflow bounds (documented contract): with |x| <= B, the Gramian sum
term is <= B^2 * Q^2 per row; the int64 per-batch partial holds up to
~9.2e18, so batches of 10k rows are safe for B*Q <= 3e7 (B ~ 30 at
Q = 1e6). The cross-batch sums are decimal(38,0)/HUGEINT — exact at
any row count.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from certa_spark.functions.litfast import array_lit
from certa_spark.io import local_frame

Q_IN = 10**6  # input-element quantization grid
Q_W = 10**9   # eigenvector quantization grid


def covariance_moments(
    df: DataFrame, vec_col: str, dim: int, q: int = Q_IN,
    diag_only: bool = False,
) -> DataFrame:
    """Exact-integer second-moment table ``(i, j, sxy, si, sj, n)`` for
    0 <= i <= j < dim, where sxy = sum over rows of qx_i * qx_j on the
    ``q`` grid. One pass over the data; the shuffle carries only
    d*(d+1)/2 rows per Arrow batch (``d`` with ``diag_only`` — enough
    for per-dimension mean/variance)."""
    if diag_only:
        tri_i = tri_j = np.arange(dim)
    else:
        tri_i, tri_j = np.triu_indices(dim)

    def _moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qx = np.floor(x * q + 0.5).astype(np.int64)
            if diag_only:
                sxy = (qx * qx).sum(axis=0)
            else:
                # d x d int64 — exact for |x|*q <= 3e7 @ 10k rows
                sxy = (qx.T @ qx)[tri_i, tri_j]
            s = qx.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": tri_i.astype(np.int32),
                    "j": tri_j.astype(np.int32),
                    "sxy": sxy,
                    "si": s[tri_i],
                    "sj": s[tri_j],
                    "n": np.int64(len(pdf)),
                }
            )

    parts = df.select(vec_col).mapInPandas(
        _moments, "i int, j int, sxy long, si long, sj long, n long"
    )
    return parts.groupBy("i", "j").agg(
        F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("si").cast("decimal(38,0)")).alias("si"),
        F.sum(F.col("sj").cast("decimal(38,0)")).alias("sj"),
        F.sum("n").cast("long").alias("n"),
    )


def covariance_expr(q: int = Q_IN):
    """The shared covariance formula over the exact moment columns —
    spelled once so Spark and the SQL oracle share the expression tree:
    ``(sxy/q^2 - (si/q)*(sj/q)/n) / n``."""
    qd = float(q)
    return (
        (
            F.col("sxy").cast("double") / F.lit(qd * qd)
            - (F.col("si").cast("double") / F.lit(qd))
            * (F.col("sj").cast("double") / F.lit(qd))
            / F.col("n").cast("double")
        )
        / F.col("n").cast("double")
    )


def covariance(df: DataFrame, vec_col: str, dim: int, q: int = Q_IN) -> DataFrame:
    """Upper-triangle covariance matrix ``(i, j, cov)``."""
    return covariance_moments(df, vec_col, dim, q).select(
        "i", "j", covariance_expr(q).alias("cov")
    )


def duck_covariance_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q: int = Q_IN,
) -> str:
    """DuckDB oracle: same quantization, exact HUGEINT sums, same final
    expression tree. Yields bit-identical doubles to :func:`covariance`."""
    qd = float(q)
    return f"""
    WITH ex AS (
        SELECT {id_col}, CAST(u.i AS INT) AS i,
               CAST(floor(CAST({vec_col}[CAST(u.i AS INT) + 1] AS DOUBLE)
                          * {q} + 0.5) AS BIGINT) AS qx
        FROM {table}, UNNEST(range(0, len({vec_col}))) AS u(i)
    ),
    mom AS (
        SELECT a.i AS i, b.i AS j,
               sum(a.qx * b.qx) AS sxy, sum(a.qx) AS si, sum(b.qx) AS sj,
               count(*) AS n
        FROM ex a JOIN ex b
          ON a.{id_col} = b.{id_col} AND a.i <= b.i
        GROUP BY 1, 2
    )
    SELECT i, j,
           (CAST(sxy AS DOUBLE) / {qd * qd}
            - (CAST(si AS DOUBLE) / {qd}) * (CAST(sj AS DOUBLE) / {qd})
              / CAST(n AS DOUBLE))
           / CAST(n AS DOUBLE) AS cov
    FROM mom
    """


def standardize(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    q: int = Q_IN,
    scale: int = 6,
) -> DataFrame:
    """Per-dimension z-scoring of the embedding column:
    ``(id_col, zvec)`` with ``z_i = round((x_i - mean_i) / std_i)``.

    The per-dim stats come from the exact-integer diagonal moments
    (one map-side pass, ``dim`` rows per batch), are folded into ONE
    broadcast row of (mean[], std[]) arrays, and the scoring itself is
    a shuffle-free ``zip_with`` — the whole mean/std/score expression
    tree is spelled identically in the DuckDB oracle, so results are
    bit-identical. Zero-variance dimensions z-score to 0."""
    qd = float(q)
    mom = covariance_moments(df, vec_col, dim, q, diag_only=True)
    mean = F.col("si").cast("double") / F.lit(qd) / F.col("n").cast("double")
    var = covariance_expr(q)
    stats = (
        mom.select("i", mean.alias("m"), F.sqrt(var).alias("s"))
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "m", "s"))).alias("_a")
        )
        .select(
            F.transform("_a", lambda x: x["m"]).alias("_ms"),
            F.transform("_a", lambda x: x["s"]).alias("_ss"),
        )
    )
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.col("_ms"),
        lambda x, m: x - m,
    )
    z = F.zip_with(
        centered,
        F.col("_ss"),
        lambda d, s: F.round(F.when(s > 0, d / s).otherwise(F.lit(0.0)), scale),
    )
    return df.select(id_col, vec_col).crossJoin(F.broadcast(stats)).select(
        id_col, z.alias("zvec")
    )


def duck_standardize_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q: int = Q_IN,
    scale: int = 6,
) -> str:
    """DuckDB oracle for :func:`standardize`, EXPLODED to
    ``(id_col, i, z)`` rows (element-wise floats hash-compare safely;
    a stringified double array would be formatting-sensitive)."""
    qd = float(q)
    mean = f"(CAST(si AS DOUBLE) / {qd} / CAST(n AS DOUBLE))"
    var = (
        f"((CAST(sxy AS DOUBLE) / {qd * qd}"
        f" - (CAST(si AS DOUBLE) / {qd}) * (CAST(si AS DOUBLE) / {qd})"
        f" / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
    )
    return f"""
    WITH ex AS (
        SELECT {id_col}, CAST(u.i AS INT) AS i,
               CAST({vec_col}[CAST(u.i AS INT) + 1] AS DOUBLE) AS x,
               CAST(floor(CAST({vec_col}[CAST(u.i AS INT) + 1] AS DOUBLE)
                          * {q} + 0.5) AS BIGINT) AS qx
        FROM {table}, UNNEST(range(0, len({vec_col}))) AS u(i)
    ),
    mom AS (
        SELECT i, sum(qx * qx) AS sxy, sum(qx) AS si, count(*) AS n
        FROM ex GROUP BY 1
    ),
    stats AS (
        SELECT i, {mean} AS m, sqrt({var}) AS s FROM mom
    )
    SELECT e.{id_col}, e.i,
           round(CASE WHEN st.s > 0 THEN (e.x - st.m) / st.s
                      ELSE 0.0 END, {scale}) AS z
    FROM ex e JOIN stats st USING (i)
    """


def principal_components(
    cov_rows: list[tuple[int, int, float]], dim: int, k: int, qw: int = Q_W
) -> list[list[int]]:
    """Driver-side eigensolve of the (tiny) covariance matrix. Returns
    the top-``k`` eigenvectors quantized to the ``qw`` integer grid,
    sign-fixed so the largest-magnitude entry is positive (eigh's sign
    is otherwise arbitrary). Deterministic for identical input."""
    c = np.zeros((dim, dim))
    for i, j, v in cov_rows:
        c[i, j] = v
        c[j, i] = v
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1][:k]
    out = []
    for idx in order:
        w = vecs[:, idx]
        pivot = int(np.argmax(np.abs(w)))
        if w[pivot] < 0:
            w = -w
        out.append([int(v) for v in np.floor(w * qw + 0.5).astype(np.int64)])
    return out


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    comps_q: list[list[int]],
    q: int = Q_IN,
    qw: int = Q_W,
    scale: int = 6,
) -> DataFrame:
    """Project every row onto the quantized components: exact integer
    dot product (qx_i * w_ci summed with a sequential array fold — no
    shuffle, no float order-dependence), one final float division.
    Output: ``(id_col, pc1..pck)``."""
    qx = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * q + F.lit(0.5)).cast("long"),
    )
    row = df.select(F.col(id_col), qx.alias("_qx"))
    cols = []
    for c, w in enumerate(comps_q):
        # one py4j round trip per component literal (litfast); the
        # splat form paid one per element. BIGINT vs INT literals —
        # the fold widens to long either way, values identical
        wlit = array_lit([int(v) for v in w])
        dotq = F.aggregate(
            F.zip_with(F.col("_qx"), wlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cols.append(
            F.round(dotq.cast("double") / F.lit(float(q) * float(qw)), scale)
            .alias(f"pc{c + 1}")
        )
    return row.select(id_col, *cols)


def label_centroid_sums(
    df: DataFrame, vec_col: str, label_col: str, q: int = Q_IN
) -> DataFrame:
    """Exact per-label component sums on the ``q`` integer grid:
    ``(label, i, s, n)``. posexplode + map-side-combined groupBy — the
    standard distributed column-sum shape (d rows per input row before
    the partial aggregate collapses them to labels x d)."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * q + F.lit(0.5)).cast(
                    "long"
                ),
            )
        ).alias("i", "qx"),
    )
    return ex.groupBy("label", "i").agg(
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("s"),
        F.count("*").cast("long").alias("n"),
    )


def _sq_dist(vec_col: str, c: Column) -> Column:
    """Squared L2 distance of the vector column (as doubles) to the
    double array ``c``, folded left to right: the same summation order
    as the oracles' ``list_aggregate`` and the driver's ``cumsum``."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(xd, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_centroid_confusion(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    dim: int,
    q: int = Q_IN,
) -> DataFrame:
    """Nearest-centroid classifier evaluation: assign every vector to
    its closest label centroid (squared L2, ties to the smaller
    label), return the confusion matrix ``(true_label, pred_label,
    n)``.

    Architecture: exact integer centroid sums (one aggregation),
    means derived on the driver with the SAME float expression the
    SQL oracle uses (bit-identical), broadcast as literal arrays; the
    assignment pass is shuffle-free — per row, ``labels`` sequential
    zip_with/aggregate folds (deterministic summation order on both
    engines) and an array_sort argmin."""
    cent_rows = label_centroid_sums(df, vec_col, label_col, q).collect()
    by_label: dict[int, list[float]] = {}
    for r in cent_rows:
        lab = int(r["label"])
        arr = by_label.setdefault(lab, [0.0] * dim)
        # same expression tree as the oracle: s / (q * 1.0 * n)
        arr[int(r["i"])] = int(r["s"]) / (float(q) * int(r["n"]))
    labels = sorted(by_label)
    # index -> label: labels are sorted, so a tie in the index argmin
    # still goes to the smaller label
    nearest = nearest_centroid_expr(vec_col, [by_label[lab] for lab in labels])
    pred = array_lit(labels).cast("array<int>")[nearest]
    return (
        df.select(
            F.col(label_col).alias("true_label"), pred.alias("pred_label")
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("long").alias("n"))
    )


def duck_nearest_centroid_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    q: int = Q_IN,
) -> str:
    """DuckDB oracle for :func:`nearest_centroid_confusion` — the
    centroid means come from the same exact integer sums, the
    per-element distance fold is list_aggregate (sequential, same
    order as Spark's aggregate HOF), argmin via list_sort on
    (d, label) structs (lexicographic on both engines)."""
    qd = float(q)
    return f"""
    WITH ex AS (
        SELECT {label_col} AS label, CAST(u.i AS INT) AS i,
               CAST(floor(CAST({vec_col}[CAST(u.i AS INT) + 1] AS DOUBLE)
                          * {q} + 0.5) AS BIGINT) AS qx
        FROM {table}, UNNEST(range(0, len({vec_col}))) AS u(i)
    ),
    cent AS (
        SELECT label, i,
               CAST(sum(qx) AS DOUBLE) / ({qd} * count(*)) AS c
        FROM ex GROUP BY 1, 2
    ),
    cvec AS (
        SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY 1
    ),
    dists AS (
        SELECT t.{label_col} AS true_label, cv.label AS cand,
               list_aggregate(
                   list_transform(range(1, len(t.{vec_col}) + 1),
                       i -> (CAST(t.{vec_col}[CAST(i AS INT)] AS DOUBLE)
                             - cv.cv[CAST(i AS INT)])
                            * (CAST(t.{vec_col}[CAST(i AS INT)] AS DOUBLE)
                               - cv.cv[CAST(i AS INT)])),
                   'sum') AS d,
               row_number() OVER (
                   PARTITION BY t.{id_col} ORDER BY list_aggregate(
                       list_transform(range(1, len(t.{vec_col}) + 1),
                           i -> (CAST(t.{vec_col}[CAST(i AS INT)] AS DOUBLE)
                                 - cv.cv[CAST(i AS INT)])
                                * (CAST(t.{vec_col}[CAST(i AS INT)] AS DOUBLE)
                                   - cv.cv[CAST(i AS INT)])),
                       'sum'), cv.label
               ) AS rk
        FROM {table} t CROSS JOIN cvec cv
    )
    SELECT true_label, cand AS pred_label, CAST(count(*) AS BIGINT) AS n
    FROM dists WHERE rk = 1
    GROUP BY 1, 2
    """


def nearest_centroid_expr(vec_col: str, centroids: list[list[float]]):
    """Column expression assigning a row's vector to the index of the
    closest centroid (squared L2, ties to the smaller index). Pure
    map-side: centroids ride the plan as literal arrays, distances are
    sequential zip_with/aggregate folds (deterministic summation
    order), argmin is an array_sort over (distance, index) structs;
    :func:`nearest_centroid_confusion` assigns with it. Right
    for ONE-SHOT assignments; iterative loops should use the
    data-column twin :func:`nearest_centroid_col` (see
    :func:`_centroids_frame` for why)."""
    cands = [
        F.struct(
            _sq_dist(vec_col, array_lit([float(v) for v in c])).alias("d"),
            F.lit(idx).cast("int").alias("l"),
        )
        for idx, c in enumerate(centroids)
    ]
    return F.array_sort(F.array(*cands))[0]["l"]


def _centroids_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """One-row broadcastable frame carrying the current centroid list
    as DATA (``_cents array<array<double>>``) instead of plan
    literals. Each of the ~16 per-iteration plans that embedded k*d
    literal doubles paid Catalyst analysis of a 512-literal tree and a
    whole-stage-codegen recompile (the generated source embeds
    literals, so new values miss the Janino cache); r10 profile: 8.7 s
    wall, 6.3 s of it outside Spark jobs. With centroids as a data
    column the per-iteration tree is small and the generated code is
    identical across iterations; the price is a per-row ``_cents``
    read that literals would constant-fold away (interleaved A/B at
    sf0.1: literals min 7.35 s, data column min 6.28 s). Plan size
    stays O(1) in k*d, which a k=1024 IVF fit needs.

    The row is an Arrow local relation (:func:`certa_spark.io.local_frame`),
    so each Lloyd iteration's broadcast is one JVM task. A pickled
    ``createDataFrame`` list made it one task per core, each forking a
    Python worker to unpickle the row (a 1000-row cross join on 4
    cores: ~1.5 s -> ~0.7 s). Attach with
    ``df.crossJoin(F.broadcast(frame))``."""
    return local_frame(spark, [(centroids,)], "_cents array<array<double>>")


def nearest_centroid_col(vec_col: str, cents_col):
    """Data-column twin of :func:`nearest_centroid_expr`:
    ``cents_col`` is an ``array<array<double>>`` column (one
    :func:`_centroids_frame` row cross-joined in). Arithmetic is
    IDENTICAL — the same zip_with/aggregate fold per centroid in the
    same order, the same array_sort argmin with ties to the smaller
    index — so assignments are bit-for-bit the twin's (pinned by
    tests/test_linalg.py)."""
    cands = F.transform(
        cents_col,
        lambda c, i: F.struct(
            _sq_dist(vec_col, c).alias("d"), i.cast("int").alias("l")
        ),
    )
    return F.array_sort(cands)[0]["l"]


# init oversample size (r11): the driver-side greedy farthest-point
# init runs over the first max(this, 8k) rows by (xxhash64(id), id).
# A sample that covers the whole input reproduces the distributed
# per-pick init bit-for-bit (tests pass ``init_sample`` to force each
# path); 4096 x dim doubles is a trivially safe driver collect.
_KMEANS_INIT_SAMPLE = 4096


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 8,
    iterations: int = 5,
    q: int = Q_IN,
    init_sample: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic Lloyd k-means over an embedding column — the
    clustering primitive of SemDeDup-style semantic dedup and of IVF
    coarse-quantizer training (the `knn_ivf_ann` query inlines fixed
    centroids; this is where they would come from at 100 TB).

    Determinism end-to-end, per this module's contract: the first seed
    is the row ranked first by ``xxhash64(id)`` (content hash, no
    RNG) and the rest come from greedy farthest-point init (each next
    seed = the row maximizing distance-to-nearest-chosen, ties to the
    smaller id) — k-means++'s deterministic cousin, which spreads
    seeds across blobs instead of gambling on a hash draw (a same-blob
    seed pair strands Lloyd in the classic local optimum). The greedy
    runs DRIVER-SIDE over one content-hash oversample job (r11,
    verdict ask #6; k-means||'s oversample-then-finish shape): the
    first ``max(4096, 8k)`` rows by ``(xxhash64(id), id)`` collect
    once and the k-1 picks are numpy over that sample — replacing k-1
    sequential TakeOrdered scans (the r10 profile's ~7 init collects)
    with ONE job. Distances accumulate in the SAME left-to-right
    fold order as the Spark expression (cumsum, not pairwise sum), so
    when the sample covers the corpus — every test fixture; any input
    <= 4096 rows — the seeds are bit-identical to the old per-pick
    scans (goldens unchanged, asserted by an A/B test). A corpus
    bigger than the sample gets seeds spread over the SAMPLE's blobs
    (the standard k-means|| trade); if the sample runs out of
    distinct vectors before k seeds, the remaining picks FALL BACK to
    the distributed per-pick scan, which also owns the
    fewer-than-k-distinct failure. Assignment is the shuffle-free
    argmin of
    :func:`nearest_centroid_col` against the centroids broadcast as a
    one-row DATA frame (identical arithmetic to the literal twin —
    see :func:`_centroids_frame` for the plan-size/codegen-cache
    rationale); each update aggregates EXACT
    integer component sums on the ``q`` grid (decimal(38,0) — any
    partitioning, same centroids) and derives means on the driver with
    one fixed float expression. Clusters that lose every member keep
    their previous centroid (the standard Lloyd guard).

    Scale shape per iteration: one collect of a posexplode +
    map-side-combined (label, i) aggregate collapsing to k*d rows
    (k*d is tiny by construction). Under AQE that collect runs 3 Spark
    jobs: the centroid broadcast, the map stage and the result. The loop is
    driver-coordinated like the other iterative operators; no
    iteration-over-iteration lineage growth because each assignment
    plan references only the source frame + literal centroids.

    Returns ``(centroids, assignments)`` — the final centroid list and
    an ``(id_col, cluster)`` DataFrame assigned against it.
    """
    if k <= 0:
        raise ValueError("kmeans_fit: k must be positive")
    import numpy as np

    spark = df.sparkSession
    base = df.select(id_col, vec_col)
    # ONE oversample job replaces the first-seed pick AND (normally)
    # all k-1 greedy picks — see the init paragraph in the docstring.
    # ``init_sample`` pins the size exactly (tests force the
    # distributed fallback with 1 — the 8k floor would otherwise
    # silently widen a small override and the A/B would compare the
    # sampled path against itself; r11 review finding)
    m = init_sample if init_sample is not None else max(
        _KMEANS_INIT_SAMPLE, 8 * k
    )
    sample = (
        base.orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(m)
        .collect()
    )
    if not sample:
        raise ValueError("kmeans_fit: empty input")
    sx = np.array(
        [[float(v) for v in r[vec_col]] for r in sample], dtype=np.float64
    )
    if not np.isfinite(sx).all():
        # fail loudly with a diagnosable message: a NaN would otherwise
        # poison the argmax (NaN != NaN empties the tie set) and crash
        # with an unintelligible empty-sequence min() (r11 review)
        raise ValueError(
            "kmeans_fit: non-finite embedding component in the init "
            "sample — clean the vectors before clustering"
        )
    sample_ids = [r[id_col] for r in sample]
    centroids = [[float(v) for v in sx[0]]]
    # distance-to-nearest-chosen over the sample, accumulated in the
    # SAME left-to-right order as the Spark fold (cumsum — pairwise
    # np.sum could flip a near-tie argmax off the distributed twin);
    # exact-equal max distances break to the smallest id, matching
    # the distributed orderBy(_d desc, id asc)
    sd = np.full(len(sample), np.inf)
    while len(centroids) < k:
        last = np.asarray(centroids[-1])
        sd = np.minimum(sd, ((sx - last) ** 2).cumsum(axis=1)[:, -1])
        mx = float(sd.max())
        if mx == 0.0:
            break  # sample exhausted; distributed fallback below
        far = min(
            (int(i) for i in np.flatnonzero(sd == mx)),
            key=lambda i: sample_ids[i],
        )
        centroids.append([float(v) for v in sx[far]])
    # every per-iteration plan below carries the centroids as a
    # broadcast DATA column (_centroids_frame), not literals: same
    # arithmetic, O(1) plan size in k*d, and the generated code is
    # identical across iterations so whole-stage codegen compiles
    # once (r10 profile: the literal plans spent 6.3 of 8.7 s wall
    # OUTSIDE Spark jobs on per-iteration analysis + recompiles)
    for _ in range(len(centroids), k):
        # distributed per-pick fallback: the sample ran out of
        # distinct vectors (duplicate-heavy corpus bigger than the
        # oversample). Same expression as the pre-r11 init; also owns
        # the genuine fewer-than-k-distinct failure.
        nearest = F.array_min(
            F.transform(F.col("_cents"), lambda c: _sq_dist(vec_col, c))
        )
        far = (
            base.crossJoin(F.broadcast(_centroids_frame(spark, centroids)))
            .select(id_col, vec_col, nearest.alias("_d"))
            .orderBy(F.col("_d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )[0]
        if float(far["_d"]) == 0.0:
            raise ValueError(
                f"kmeans_fit: fewer than k={k} distinct vectors"
            )
        centroids.append([float(v) for v in far[vec_col]])

    for _ in range(iterations):
        assigned = df.crossJoin(
            F.broadcast(_centroids_frame(spark, centroids))
        ).select(
            F.col(id_col),
            F.col(vec_col),
            nearest_centroid_col(vec_col, F.col("_cents")).alias("cluster"),
        )
        sums = {
            (int(r["label"]), int(r["i"])): (int(r["s"]), int(r["n"]))
            for r in label_centroid_sums(
                assigned, vec_col, "cluster", q
            ).collect()
        }
        new_centroids = []
        for idx in range(k):
            if (idx, 0) in sums:
                new_centroids.append(
                    [
                        # same expression tree as the oracle path used
                        # throughout this module: s / (q * 1.0 * n)
                        sums[(idx, i)][0] / (float(q) * sums[(idx, i)][1])
                        for i in range(dim)
                    ]
                )
            else:
                new_centroids.append(centroids[idx])
        if new_centroids == centroids:
            break
        centroids = new_centroids

    assignments = df.crossJoin(
        F.broadcast(_centroids_frame(spark, centroids))
    ).select(
        F.col(id_col),
        nearest_centroid_col(vec_col, F.col("_cents")).alias("cluster"),
    )
    return centroids, assignments


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 8,
    threshold: float = 0.95,
    iterations: int = 3,
    q: int = Q_IN,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with :func:`kmeans_fit`,
    then find near-duplicate PAIRS only inside each cluster — the
    trick that turns O(N²) cosine dedup into k · O((N/k)²), the same
    blocking principle as the LSH band join in
    ``similarity.embedding_neardup`` but driven by learned semantic
    regions instead of random hyperplanes (catches paraphrase-level
    dups LSH banding misses at equal cost).

    Per cluster (one Arrow batch per group via ``applyInPandas``, the
    BLAS pattern of ``embedding_neardup_blas``): L2-normalize, one
    numpy Gram matmul, then a deterministic greedy sweep in ascending
    id order — a row is dropped iff its cosine to some EARLIER KEPT
    row is >= threshold, so the keep-set is unique regardless of
    partitioning (no RNG, no tie ambiguity). Returns
    ``(id_col, cluster, keep, dup_of)`` with ``dup_of`` = the kept id
    that shadowed a dropped row (null for kept rows).

    Scale contract: per-cluster work is O(m²) in cluster size — size k
    so clusters stay ~10^4 rows (the paper's regime); one shuffle on
    the cluster id.
    """
    import pandas as pd

    _, assign = kmeans_fit(
        df, vec_col, id_col, dim, k=k, iterations=iterations, q=q
    )
    joined = df.select(id_col, vec_col).join(assign, id_col)

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.array(pdf[vec_col].tolist(), dtype="float64")
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        sims = m @ m.T
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        dup_of = np.full(n, -1, dtype="int64")
        for i in range(1, n):
            earlier = np.nonzero(keep[:i])[0]
            if earlier.size == 0:
                continue
            hits = earlier[sims[i, earlier] >= threshold]
            if hits.size:
                keep[i] = False
                dup_of[i] = int(pdf[id_col].iloc[int(hits[0])])
        out = pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "keep": keep,
                "dup_of": dup_of,
            }
        )
        out.loc[out["dup_of"] < 0, "dup_of"] = None
        return out

    return joined.groupBy("cluster").applyInPandas(
        _prune,
        schema=f"{id_col} long, cluster int, keep boolean, dup_of long",
    )
