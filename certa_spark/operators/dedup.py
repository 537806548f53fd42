"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash+LSH and SimHash — each
designed for the 100TB shape:

  * exact dedup: one hash aggregation, map-side partial combine;
  * n-gram Jaccard: *blocked* self-join (never all-pairs) — candidate
    pairs only form inside a blocking key (length bucket + source);
  * MinHash LSH: signature -> band -> bucket equi-join, the standard
    sub-quadratic near-dup join; band hash join keys shuffle-partition
    the work, AQE handles hot buckets;
  * SimHash: per-doc 16-bit signature; near-dups share the signature
    (or a rotated band of it).

Hashes are the md5-derived cross-engine family (functions/hashing.py)
so every operator has a bit-identical DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from certa_spark.functions.hashing import duck_hash32, duck_hash64, hash32, hash64
from certa_spark.operators import widen_if_narrow
from certa_spark.functions.textstats import WORD_RE, duck_words, words

N_MINHASH = 16
LSH_BANDS = 4  # 4 bands x 4 rows


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) with >1 member.
    Returns (text_hash, dup_count, min_doc_id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), e.g. 3-token windows.

    Built as a chain of zip_with over shifted slices, NOT
    transform+element_at: slice/zip_with evaluate their array argument
    once per row, while element_at inside a lambda re-evaluates the
    (inlined) tokenizer expression per element — ~10x slower.
    """
    w = words(text)
    m = F.size(w) - (n - 1)  # number of n-grams
    acc = F.slice(w, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(w, 1 + k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(
        F.when(F.size(w) >= n, acc).otherwise(F.array(F.array_join(w, " ")))
    )


def duck_shingles(expr: str, n: int = 3) -> str:
    w = duck_words(expr)
    window = " || ' ' || ".join(f"{w}[i + {k}]" for k in range(n))
    return (
        f"list_distinct(CASE WHEN len({w}) >= {n} THEN "
        f"list_transform(range(1, len({w}) - {n - 2}), i -> {window}) "
        f"ELSE [array_to_string({w}, ' ')] END)"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def duck_jaccard(a: str, b: str) -> str:
    inter = f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
    return (
        f"(CASE WHEN (len({a}) + len({b}) - len(list_intersect({a}, {b}))) = 0 "
        f"THEN 0.0 ELSE {inter} / (len({a}) + len({b}) - len(list_intersect({a}, {b}))) END)"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    block_bucket_chars: int = 64,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard near-dup join.

    Blocking key = (source, n_chars // bucket) so the self-join is
    per-block, not all-pairs — the key requirement at scale. Returns
    (doc_id_a, doc_id_b, jac) with a < b and jac >= threshold.

    Physical shape (inverted index, not pairwise array math): explode
    shingles -> self-equi-join on (block, shingle) -> count shared
    shingles per pair -> jac = shared / (|a| + |b| - shared). The join
    only materializes pairs that actually share a shingle, and the
    per-pair work is a counting aggregate (map-side partial combine),
    not an O(|a|+|b|) array_intersect per candidate — ~40x faster than
    the naive blocked form and the only shape that survives 100TB.
    Requires threshold > 0 (zero-overlap pairs are never produced).
    """
    assert threshold > 0, "inverted-index join cannot emit zero-overlap pairs"
    ex = docs.select(
        F.col(id_col).alias("_id"),
        F.col("source").alias("_src"),
        (F.col("n_chars") / block_bucket_chars).cast("long").alias("_blk"),
        shingles(F.col(text_col), n).alias("_sh"),
    ).select(
        "_id", "_src", "_blk", F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    a = ex.select(
        F.col("_id").alias("doc_id_a"), "_src", "_blk", F.col("_n").alias("_na"), "_s"
    )
    b = ex.select(
        F.col("_id").alias("doc_id_b"), "_src", "_blk", F.col("_n").alias("_nb"), "_s"
    )
    inter = (
        a.join(b, on=["_src", "_blk", "_s"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b", "_na", "_nb")
        .agg(F.count("*").alias("_inter"))
    )
    union = (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
    return (
        inter.withColumn("jac", F.round(F.col("_inter") / union, 6))
        .filter(F.col("jac") >= threshold)
        .select("doc_id_a", "doc_id_b", "jac")
    )


def minhash_signature(text: Column, k: int = N_MINHASH, n: int = 3) -> Column:
    """MinHash signature: array of k minima of seeded 32-bit hashes over
    the doc's shingle set."""
    sh = shingles(text, n)

    def seeded(seed: int):
        # NB: a plain `lambda s, seed=seed:` would be treated as a
        # binary (element, index) lambda by Spark's HOF binding.
        return lambda s: hash32(s, seed)

    return F.array(
        *[F.array_min(F.transform(sh, seeded(seed))) for seed in range(k)]
    )


def minhash_signatures_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = N_MINHASH,
    n: int = 3,
) -> DataFrame:
    """``(_id, _sig)`` signature frame with the two-step projection
    that keeps the shingle array a once-per-row column (see the
    CollapseProject note in :func:`minhash_lsh_pairs` — inlining the
    shingle expression into each of the k array_min transforms is a
    k-fold recompute). No checkpoint: the caller decides (batch paths
    checkpoint; a STREAMING caller cannot, and per-micro-batch
    execution bounds the reuse there anyway)."""

    def seeded(seed: int):
        return lambda s: hash32(s, seed)

    sh = docs.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), n).alias("_sh"),
    )
    return sh.select(
        "_id",
        F.array(
            *[
                F.array_min(F.transform("_sh", seeded(seed)))
                for seed in range(k)
            ]
        ).alias("_sig"),
    )


def band_hashes(
    sigs: DataFrame, k: int = N_MINHASH, bands: int = LSH_BANDS
) -> DataFrame:
    """Explode a ``(_id, _sig)`` signature frame into
    ``(_id, _sig, _band, _bh)`` LSH band-bucket rows — ``bands`` rows
    per doc, each bucket a 32-bit hash of its k/bands signature
    slice. Shared by the batch LSH paths and the streaming-ingest
    gate (band the drained signatures batch-side)."""
    rows = k // bands
    band_start = F.col("_band") * rows + 1
    return sigs.select(
        "_id",
        "_sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band"),
    ).select(
        "_id",
        "_sig",
        "_band",
        hash32(
            F.array_join(
                F.transform(
                    F.slice("_sig", band_start, F.lit(rows)),
                    lambda x: x.cast("string"),
                ),
                "_",
            )
        ).alias("_bh"),
    )


def duck_minhash_signature(expr: str, k: int = N_MINHASH, n: int = 3) -> str:
    sh = duck_shingles(expr, n)
    mins = ", ".join(
        f"list_min(list_transform({sh}, s -> {duck_hash32('s', seed)}))"
        for seed in range(k)
    )
    return f"[{mins}]"


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, verified by signature
    agreement rate (estimated Jaccard).

    Plan shape: signature (narrow) -> explode bands (narrow) ->
    self-equi-join on (band, band_hash) (one shuffle) -> distinct pair
    (one shuffle) -> estimate filter. Sub-quadratic; the 100TB path.
    Returns (doc_id_a, doc_id_b, est_jaccard).
    """
    def seeded(seed: int):
        return lambda s: hash32(s, seed)

    # Two explicit projection steps so the expensive intermediates
    # (_sh, _sig) are multi-referenced non-cheap aliases — Catalyst's
    # CollapseProject then keeps them as once-per-row columns instead of
    # inlining the whole expression tree into every consumer (16
    # element_at copies of the signature = 16x recompute + a codegen
    # blowup; this restructure took the sf0.01 query from 9.4s to ~1s).
    sh = docs.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), n).alias("_sh")
    )
    sigs = sh.select(
        "_id",
        F.array(
            *[F.array_min(F.transform("_sh", seeded(seed))) for seed in range(k)]
        ).alias("_sig"),
    )
    # materialize signatures ONCE: the self-join has no ReusedExchange
    # (one side broadcasts), so without this leaf both sides recompute
    # the k*|shingles| md5 chain from raw text — the dominant cost of
    # the whole query. |docs| x k longs is a tiny frame; at 100TB this
    # is the persisted signature table every dedup pipeline keeps.
    sigs = sigs.localCheckpoint()
    rows = k // bands
    band_start = F.col("_band") * rows + 1
    banded = sigs.select(
        "_id", "_sig", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band")
    ).select(
        "_id",
        "_sig",
        "_band",
        hash32(
            F.array_join(
                F.transform(
                    F.slice("_sig", band_start, F.lit(rows)),
                    lambda x: x.cast("string"),
                ),
                "_",
            )
        ).alias("_bh"),
    )
    a = banded.select(
        F.col("_id").alias("doc_id_a"), F.col("_sig").alias("_sig_a"), "_band", "_bh"
    )
    b = banded.select(
        F.col("_id").alias("doc_id_b"), F.col("_sig").alias("_sig_b"), "_band", "_bh"
    )
    cand = (
        a.join(b, on=["_band", "_bh"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "_sig_a", "_sig_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        cand.withColumn("est_jaccard", F.round(agree.cast("double") / F.lit(float(k)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "est_jaccard")
    )


def lsh_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = 0.25,
    true_threshold: float = 0.6,
    k: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n: int = 3,
) -> DataFrame:
    """Two-stage near-dup join: LSH banding candidates, then EXACT
    shingle-set Jaccard verification (the shape production dedup
    pipelines run — banding proposes, verification decides; the
    estimate alone carries signature-variance false positives that a
    k-hash signature cannot remove).

    Stage 1 is :func:`minhash_lsh_pairs` with a LOOSE estimate gate —
    banding already bounds the candidate count, the loose gate only
    sheds obvious noise. Stage 2 re-joins ONLY the candidates against
    the per-doc distinct shingle sets and keeps pairs whose TRUE
    Jaccard clears ``true_threshold``.

    Scale shape: both stage-2 lookups are broadcast hash joins against
    the map-side shingle frame — first the candidate id pairs
    (bounded by banding), then the candidates re-armed with side-a's
    shingle set; docs never pair up outside stage 1 and full shingle
    sets of non-candidate docs never leave their scan. Exact
    verification costs O(candidates x shingles), not O(pairs) — the
    same cheap-propose / exact-verify economics as IVFPQ+refine.
    Returns (doc_id_a, doc_id_b, est_jaccard, jaccard).
    """
    cand = minhash_lsh_pairs(
        docs, text_col, id_col, threshold=est_threshold, k=k, bands=bands, n=n
    )
    sh = docs.select(
        F.col(id_col).alias("_vid"), shingles(F.col(text_col), n).alias("_vsh")
    )
    sha = sh.select(F.col("_vid").alias("doc_id_a"), F.col("_vsh").alias("_sha"))
    shb = sh.select(F.col("_vid").alias("doc_id_b"), F.col("_vsh").alias("_shb"))
    va = sha.join(F.broadcast(cand), "doc_id_a")
    return (
        shb.join(F.broadcast(va), "doc_id_b")
        .withColumn(
            "jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 6)
        )
        .filter(F.col("jaccard") >= true_threshold)
        .select("doc_id_a", "doc_id_b", "est_jaccard", "jaccard")
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 3,
) -> DataFrame:
    """C4-style cross-corpus exact span dedup: split every document
    into consecutive ``chunk_tokens``-token chunks (the "lines" —
    this corpus has no newlines), keep only the FIRST occurrence of
    each chunk corpus-wide (ordered by doc_id, position), and
    reassemble the surviving chunks in document order.

    Physical shape: tokenize → posexplode chunks → ONE shuffle
    partitioned by the chunk's 60-bit content hash (longs on the wire,
    not strings — the C4 dedup shuffle) for the first-occurrence
    window → ONE shuffle back on doc_id to reassemble. Returns
    (doc_id, clean_text, n_kept, n_dropped).
    """
    c = chunk_tokens
    # _w is projected in its own select so the chunk-builder lambda
    # references a column, not an inlined regexp (HOF re-evaluates
    # inlined args per element — see `shingles`).
    toks = docs.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    n_chunks = F.ceil(F.size("_w") / F.lit(float(c))).cast("int")
    # empty docs explode to zero rows (dropped — matches the oracle's
    # empty range); the guard stops sequence(0, -1) going descending.
    chunk_arr = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice("_w", i * c + 1, c), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = toks.select(
        id_col,
        F.posexplode(chunk_arr).alias("chunk_idx", "line"),
    ).withColumn("_h", hash64(F.col("line")))
    w = Window.partitionBy("_h").orderBy(id_col, "chunk_idx")
    flagged = chunks.withColumn(
        "_keep", F.row_number().over(w) == 1
    )
    kept_struct = F.when(
        F.col("_keep"), F.struct("chunk_idx", "line")
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"),
    )


def duck_chunk_dedup(table: str = "documents", chunk_tokens: int = 3) -> str:
    """DuckDB oracle for :func:`chunk_dedup` (independent formulation:
    lateral unnest + window, string_agg reassembly)."""
    c = chunk_tokens
    w = duck_words("text")
    return f"""
    WITH toks AS (
        SELECT doc_id, {w} AS w FROM {table}
    ),
    chunks AS (
        SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
               array_to_string(w[(CAST(u.i AS INT) * {c} + 1):(CAST(u.i AS INT) * {c} + {c})], ' ') AS line
        FROM toks, UNNEST(range(0, CAST(ceil(len(w) / {float(c)}) AS BIGINT))) AS u(i)
    ),
    flagged AS (
        SELECT doc_id, chunk_idx, line,
               row_number() OVER (PARTITION BY {duck_hash64('line')}
                                  ORDER BY doc_id, chunk_idx) = 1 AS keep
        FROM chunks
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN line END, ' '
                               ORDER BY chunk_idx), '') AS clean_text,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM flagged
    GROUP BY doc_id
    """


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash over distinct word tokens: bit b set iff the sum of
    (+1 / -1) votes from each token's hash bit b is positive."""
    toks = F.array_distinct(words(text))
    th = F.transform(toks, lambda t: hash32(t, 99))

    def bit_vote(bit: int):
        # closure factory — keeps the aggregate lambda binary
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(th, F.lit(0), bit_vote(b))
        out = out + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return out


def duck_simhash(expr: str, bits: int = 16) -> str:
    toks = f"list_distinct({duck_words(expr)})"
    th = f"list_transform({toks}, t -> {duck_hash32('t', 99)})"
    parts = []
    for b in range(bits):
        vote = (
            f"list_aggregate(list_transform({th}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END), 'sum')"
        )
        parts.append(f"(CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def minhash_lsh_pairs_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n: int = 3,
) -> DataFrame:
    """Incremental-ingest near-dup check: candidate pairs between a NEW
    batch and the EXISTING corpus only — never corpus x corpus. This is
    the shape a 100TB crawl pipeline actually runs per ingest: the
    corpus side is the persisted signature/band table (built once,
    appended per batch), and each ingest shuffles only
    |batch| x bands band keys plus the collisions. Returns
    (corpus_id, batch_id, est_jaccard) for estimated Jaccard >=
    threshold.
    """

    # single-split trap (see duplicated_runs): the k array_min folds
    # are the expensive map work — spread them before computing
    batch = widen_if_narrow(batch)
    batch_sigs = minhash_signatures_frame(
        batch, text_col, id_col, k, n
    ).localCheckpoint()
    return minhash_lsh_pairs_incremental_from_sigs(
        batch_sigs, corpus, text_col=text_col, id_col=id_col,
        threshold=threshold, k=k, bands=bands, n=n,
    )


def minhash_lsh_pairs_incremental_from_sigs(
    batch_sigs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n: int = 3,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_incremental` over a PRE-COMPUTED batch
    signature frame ``(_id, _sig)`` — the entry point the streaming
    ingest gate uses (signatures computed in-stream, banding and the
    corpus join batch-side). The corpus side still signs from text."""
    corpus = widen_if_narrow(corpus)
    corpus_sigs = minhash_signatures_frame(
        corpus, text_col, id_col, k, n
    ).localCheckpoint()
    c = band_hashes(corpus_sigs, k=k, bands=bands).select(
        F.col("_id").alias("corpus_id"), F.col("_sig").alias("_sig_c"), "_band", "_bh"
    )
    b = band_hashes(batch_sigs, k=k, bands=bands).select(
        F.col("_id").alias("batch_id"), F.col("_sig").alias("_sig_b"), "_band", "_bh"
    )
    cand = (
        c.join(b, on=["_band", "_bh"])
        .select("corpus_id", "batch_id", "_sig_c", "_sig_b")
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("_sig_c"), F.col("_sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    )
    return (
        cand.withColumn(
            "est_jaccard", F.round(agree.cast("double") / F.lit(float(k)), 6)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("corpus_id", "batch_id", "est_jaccard")
    )


# ------------------------------------------------------------------
# Cross-document duplicated-run detection (ExactSubstr-style dedup,
# cf. Lee et al. 2022 "Deduplicating Training Data Makes Language
# Models Better"): find pairs of documents sharing a run of >= R
# consecutive k-token shingles (= R + k - 1 shared consecutive
# tokens). A suffix array is the single-machine tool; the Spark-first
# shape is a positional shingle inverted index + anti-diagonal
# island detection:
#
#   1. positional k-shingle hashes (doc, pos, h) — map-side only;
#   2. document-frequency cap on h (2 <= df <= max_df): drops both
#      unpaired shingles and stop-shingles BEFORE the pair join, which
#      bounds the join fan-out to max_df^2 per surviving hash — the
#      same sub-quadratic discipline as ngram_jaccard_pairs;
#   3. postings self-join on h (doc_a < doc_b) -> (a, b, pa, pb);
#   4. runs: within (a, b, pa - pb), consecutive pa values form
#      islands (pa - row_number() is constant inside a run) — the
#      windows partition by (pair, diagonal), so no global sort.
#
# Shuffle volume is capped-postings only; hashes are longs.
# ------------------------------------------------------------------

def positional_shingles(
    docs: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id_col, pos, h)`` — hash of the k-token shingle starting at
    0-based token position ``pos``. Documents shorter than k tokens
    emit nothing."""
    from certa_spark.functions.hashing import hash64
    from certa_spark.functions.textstats import words

    w = words(F.col(text_col))
    m = F.size(w) - (k - 1)
    acc = F.slice(w, 1, m)
    for i in range(1, k):
        acc = F.zip_with(
            acc, F.slice(w, 1 + i, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return (
        docs.select(F.col(id_col), F.when(m >= 1, acc).alias("_sh"))
        .filter(F.col("_sh").isNotNull())
        .select(id_col, F.posexplode("_sh").alias("pos", "_s"))
        .select(id_col, "pos", hash64(F.col("_s")).alias("h"))
    )


def duplicated_runs(
    docs: DataFrame,
    k: int = 5,
    min_run: int = 3,
    max_df: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per ordered doc pair sharing >= ``min_run`` consecutive
    k-shingles: ``(doc_a, doc_b, longest_run_tokens, n_runs,
    dup_shingles)``."""
    from pyspark.sql.window import Window

    # ONE groupBy(h) shuffle builds each hash's posting list; the
    # document-frequency cap and the pair expansion both happen inside
    # the grouped row (HOF transforms, fan-out bounded by max_df) —
    # no second scan of the shingle expression, no postings self-join.
    # Same chunked co-occurrence idiom as the pagerank pair build
    # (queries.py) — the grouped list is bounded because hashes above
    # the df cap are discarded before expansion.
    # spread the shingle/tokenize CPU across the cluster BEFORE the
    # expensive text expressions: a small parquet source arrives as a
    # single input split, and without this the whole shingle build runs
    # inside one map task of the groupBy(h) shuffle (measured 4.7s
    # single-task vs ~1s wide at sf0.1). Gated on the actual split
    # count (r8 ADVICE low #1): at 100 TB the source arrives thousands
    # of splits wide and the exchange — which would be a full-corpus
    # round-robin shuffle, proportional to data size — is skipped.
    docs = widen_if_narrow(docs)
    p = positional_shingles(docs, k, id_col, text_col)
    g = (
        p.groupBy("h")
        .agg(F.collect_list(F.struct(id_col, "pos")).alias("_lst"))
        .filter(
            F.size(
                F.array_distinct(F.transform("_lst", lambda x: x[id_col]))
            ).between(2, max_df)
        )
    )
    pair_expr = F.flatten(
        F.transform(
            "_lst",
            lambda a: F.transform(
                F.filter("_lst", lambda b: a[id_col] < b[id_col]),
                lambda b: F.struct(
                    a[id_col].alias("doc_a"),
                    b[id_col].alias("doc_b"),
                    a["pos"].alias("pa"),
                    b["pos"].alias("pb"),
                ),
            ),
        )
    )
    pairs = g.select(F.explode(pair_expr).alias("_pr")).select("_pr.*")
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    runs = (
        pairs.withColumn("_isl", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("_diag"), "_isl")
        .agg(F.count("*").alias("_len"))
        .filter(F.col("_len") >= min_run)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        (F.max("_len") + F.lit(k - 1)).cast("long").alias("longest_run_tokens"),
        F.count("*").cast("long").alias("n_runs"),
        F.sum("_len").cast("long").alias("dup_shingles"),
    )


def duck_duplicated_runs_sql(
    table: str = "documents",
    k: int = 5,
    min_run: int = 3,
    max_df: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle mirroring :func:`duplicated_runs` exactly."""
    from certa_spark.functions.hashing import duck_hash64
    from certa_spark.functions.textstats import duck_words

    w = duck_words(text_col)
    shingle = " || ' ' || ".join(f"w[i + {d}]" for d in range(k))
    return f"""
    WITH toks AS (
        SELECT {id_col}, {w} AS w FROM {table}
    ),
    p AS (
        SELECT {id_col}, CAST(i - 1 AS INT) AS pos,
               {duck_hash64(f"({shingle})")} AS h
        FROM toks, UNNEST(range(1, len(w) - {k - 2})) AS u(i)
        WHERE len(w) >= {k}
    ),
    ok AS (
        SELECT h FROM p GROUP BY h
        HAVING count(DISTINCT {id_col}) BETWEEN 2 AND {max_df}
    ),
    pf AS (SELECT p.* FROM p JOIN ok USING (h)),
    pairs AS (
        SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
               a.pos AS pa, b.pos AS pb
        FROM pf a JOIN pf b ON a.h = b.h AND a.{id_col} < b.{id_col}
    ),
    runs AS (
        SELECT doc_a, doc_b, count(*) AS _len
        FROM (
            SELECT doc_a, doc_b, pa, pb,
                   pa - row_number() OVER (
                       PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa
                   ) AS _isl
            FROM pairs
        )
        GROUP BY doc_a, doc_b, pa - pb, _isl
        HAVING count(*) >= {min_run}
    )
    SELECT doc_a, doc_b,
           CAST(max(_len) + {k - 1} AS BIGINT) AS longest_run_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(_len) AS BIGINT) AS dup_shingles
    FROM runs GROUP BY 1, 2
    """


def shingle_novelty(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document novelty: the fraction of the doc's DISTINCT
    n-token shingles that appear in no other document —
    ``(id_col, n_shingles, n_shared, novelty)``. The complement of
    near-dup detection: a corpus-curation score for "how much of this
    document is boilerplate copied from elsewhere".

    Shape: one explode of the distinct-shingle array (hashed to longs
    before the shuffle), one document-frequency aggregation, one join
    back, one per-doc count — all map-side-combinable.
    """
    # single-split trap (see duplicated_runs): parallelize the shingle
    # build, and materialize it ONCE — `ex` feeds both the df
    # aggregation and the join back, and Catalyst does not CSE across
    # join branches, so an unmaterialized `ex` tokenizes the corpus
    # twice
    ex = (
        widen_if_narrow(docs)
        .select(
            F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("_s")
        )
        .select(id_col, hash64(F.col("_s")).alias("h"))
        .localCheckpoint()
    )
    dfreq = ex.groupBy("h").agg(
        F.count_distinct(id_col).cast("long").alias("_df")
    )
    per_doc = (
        ex.join(dfreq, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("_df") >= 2).cast("long")).cast("long")
            .alias("n_shared"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_shared",
        F.round(
            F.lit(1.0)
            - F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


def duck_shingle_novelty_sql(
    table: str = "documents",
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`shingle_novelty`."""
    return f"""
    WITH ex AS (
        SELECT {id_col}, {duck_hash64('s')} AS h
        FROM (
            SELECT {id_col}, unnest({duck_shingles(text_col, n)}) AS s
            FROM {table}
        )
    ),
    dfreq AS (
        SELECT h, CAST(count(DISTINCT {id_col}) AS BIGINT) AS df
        FROM ex GROUP BY 1
    ),
    per_doc AS (
        SELECT e.{id_col},
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM ex e JOIN dfreq d USING (h)
        GROUP BY 1
    )
    SELECT {id_col}, n_shingles, n_shared,
           round(1.0 - CAST(n_shared AS DOUBLE)
                 / CAST(n_shingles AS DOUBLE), 6) AS novelty
    FROM per_doc
    """


def containment(a: Column, b: Column) -> Column:
    """Asymmetric containment |a ∩ b| / |a| over two distinct-element
    arrays — near-1 when ``a`` is substantially COPIED INTO ``b`` even
    if ``b`` is much larger (symmetric Jaccard dilutes exactly that
    case, which is why sub-document boilerplate detection needs
    containment, not similarity)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return F.when(F.size(a) == 0, F.lit(0.0)).otherwise(
        inter / F.size(a).cast("double")
    )

