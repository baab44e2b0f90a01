"""Deduplication operators (extension surface; SURVEY.md §2.12).

Four tiers, all shuffle-conscious:

- exact: hash groupBy on a content fingerprint — one shuffle, scales
  linearly; canonical row chosen by deterministic argmin.
- n-gram Jaccard: token-set self-join restricted to a blocking key —
  exact pairwise similarity without a full cross product.
- MinHash + LSH: signature → band buckets → candidate pairs → verify.
  The O(n²) cross product becomes O(candidates); this is the 100 TB path.
- SimHash: 64-bit fingerprint whose Hamming distance approximates cosine
  similarity of token sets; near-dup = small Hamming distance.

Portability note: MinHash needs a deterministic integer hash per token
that both Spark and a SQL oracle can compute **without any global
coordination**. We use the first 15 hex digits of ``md5(token)`` parsed
as a 60-bit integer — ``conv(substr(md5(t),1,15),16,10)`` in Spark,
``('0x'||substr(md5(t),1,15))::bigint`` in DuckDB — byte-identical across
engines, fully distributed (no vocabulary join, no global window), then
mixed through integer affine functions (a·id + b) mod p.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modeltracking_spark.functions.text import distinct_tokens

# Mersenne prime 2^31-1: affine MinHash universe
MINHASH_PRIME = 2147483647
# deterministic per-permutation coefficients (public constants, seed-free)
MINHASH_A = [2 * i + 1 for i in range(1, 65)]  # odd multipliers
MINHASH_B = [7919 * (i + 1) % MINHASH_PRIME for i in range(64)]

#: default hot-bucket cap for the LSH band self-joins (VERDICT r14 item
#: 1).  A band bucket of k members emits k·(k−1)/2 candidate pairs; a
#: real web crawl carries mega-clusters of boilerplate near-identicals
#: (one million-doc bucket → 5·10¹¹ pairs), so buckets beyond this cap
#: degrade to sorted-neighbor adjacent chaining (k−1 pairs — linear,
#: and still sufficient for connected-component dedup: every member of
#: the bucket stays reachable through the chain).  4096 is non-binding
#: at every tested SF (measured maxima: minhash-rep 1368, simhash 1226,
#: cosine 174 at sf0.1) while bounding a 10⁶-member bucket to 10⁶−1
#: pairs instead of 5·10¹¹.  Overflow is LOUD: audit what the cap
#: dropped with :func:`band_bucket_overflow`.
DEFAULT_MAX_BUCKET = 4096


def _capped_band_pairs(
    banded: DataFrame,
    id_col: str,
    payload_cols: Sequence[str] = (),
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    key_cols: Sequence[str] = ("band", "band_key"),
    key_fn=None,
    n_bands: int | None = None,
) -> DataFrame:
    """Band-bucket self-join with the hot-bucket cap — the shared
    candidate-pair kernel of the MinHash/SimHash LSH paths.

    Buckets of ≤ ``max_bucket_size`` members self-join all-pairs exactly
    as before; oversized buckets emit only **sorted-neighbor adjacent
    pairs** (one ``lead`` over the bucket ordered by ``id_col`` — linear
    in bucket size, connectivity-preserving for component dedup, recall
    degraded only *inside* the oversized bucket and only for pairs the
    downstream exact verify would have had to scan quadratically).
    Oversized buckets are detected with a map-side-combinable count and
    carved out via a **broadcast** anti/semi join — the ``max_doc_freq``
    hot-token precedent in :func:`jaccard_pairs`: the oversized key set
    is at most rows/cap entries and in practice a handful of
    mega-clusters, so the big banded side streams through unshuffled.

    Output: distinct ``(id_a, id_b[, <c>_a, <c>_b …])`` with
    ``id_a < id_b``; ``payload_cols`` ride along for downstream verifies
    (e.g. the SimHash fingerprints).  ``max_bucket_size=None`` restores
    the uncapped all-pairs join bit for bit.

    **First-matching-band ownership (r16, guide §2.4):** a pair sharing
    k band keys used to be emitted k times and deduplicated with a
    ``.distinct()`` — a full extra shuffle of the candidate-pair stream,
    the largest byte volume in the whole pipeline.  When the caller
    passes ``key_fn(c, side) -> Column`` (band c's key expression
    evaluated against join side ``"a"``/``"b"``; must reproduce exactly
    the value in ``band_key`` for that band) plus ``n_bands``, each pair
    is instead emitted only by its FIRST matching band — a codegen-able
    per-row predicate — and the distinct disappears.  Exactness: the
    predicate compares the same (hashed) key values the buckets are
    built from, so "first matching band" is well-defined even under key
    collisions; ``payload_cols`` must be functionally dependent on the
    id (they are: fingerprints), so the surviving single emission equals
    the distinct row.  Ownership requires every band's bucket to be
    below the cap (an oversized bucket emits CHAINS, not all pairs, so
    "was emitted at the earlier band" no longer holds) — the overflow
    key set is already computed for the carve-outs; one bounded
    ``take(1)`` on it picks the path, and a binding cap falls back to
    the r15 distinct dataflow unchanged.

    **Eager action caveat:** when ``key_fn``/``n_bands`` are passed
    with a cap, that path-picking ``take(1)`` runs a Spark job (and
    materializes any lazy localCheckpoint feeding ``banded``) DURING
    DataFrame construction — this function is then not a pure lazy
    plan builder.  Explain-only tooling or future streaming callers
    should omit the ownership args to keep construction lazy (the
    r15 chain+distinct dataflow builds without running anything).
    """
    keys = list(key_cols)
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be >= 2 (got {max_bucket_size}): a cap "
            "below 2 cannot emit any within-bucket pair"
        )
    ownership = key_fn is not None and n_bands is not None
    if max_bucket_size is None:
        small, big = banded, None
    else:
        over = (
            banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__bs"))
            .where(F.col("__bs") > max_bucket_size)
            .select(*keys)
        )
        if ownership:
            # ONE bounded action picks the path (result is at most one
            # row). On the fast path `over` is never needed again; on
            # the binding-cap fallback the broadcasts recompute the
            # cheap aggregate exactly as the r15 dataflow did.
            ownership = not over.take(1)
        small = banded.join(F.broadcast(over), keys, "left_anti")
        big = banded.join(F.broadcast(over), keys, "left_semi")
    if ownership:
        a, b = banded.alias("a"), banded.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for k in keys:
            cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
        # emit at band b only when no earlier band's keys agree —
        # unrolled over the (static) band count so it stays inside
        # whole-stage codegen
        for c in range(n_bands - 1):
            cond = cond & (
                (F.col(f"a.{keys[0]}") <= F.lit(c))
                | (key_fn(c, "a") != key_fn(c, "b"))
            )
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
    a, b = small.alias("a"), small.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
    if big is not None:
        wo = Window.partitionBy(*keys).orderBy(F.col(id_col).asc())
        chained = big.select(
            F.col(id_col).alias("id_a"),
            F.lead(id_col).over(wo).alias("id_b"),
            *[F.col(c).alias(f"{c}_a") for c in payload_cols],
            *[F.lead(c).over(wo).alias(f"{c}_b") for c in payload_cols],
        ).where(F.col("id_b").isNotNull())
        pairs = pairs.unionByName(chained)
    return pairs.distinct()


def band_bucket_overflow(
    banded: DataFrame,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    id_col: str = "id",
    key_cols: Sequence[str] = ("band", "band_key"),
) -> DataFrame:
    """Loud overflow accounting for :func:`_capped_band_pairs` — what the
    hot-bucket cap dropped, per band, so a capped dedup run is never
    silently lossy (the "count + sample" discipline of the
    ``max_doc_freq`` hot-token cap).

    Output (one row per band, ordered): ``band``, ``n_buckets``,
    ``n_oversized``, ``max_bucket``, ``pairs_full`` (uncapped candidate
    pairs Σ k·(k−1)/2), ``pairs_emitted`` (all-pairs for small buckets,
    k−1 chained for oversized), ``pairs_dropped``, and
    ``sample_min_id`` — the smallest member id among the oversized
    buckets (NULL when none overflow), a concrete handle on *which*
    cluster blew the cap.  All counters are exact integers computed from
    the per-bucket size alone — one map-side-combinable aggregate, never
    the pairs themselves.
    """
    keys = list(key_cols)
    per = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("sz"), F.min(id_col).alias("min_id"))
        .withColumn("pairs_full", F.expr("sz * (sz - 1) DIV 2"))
        .withColumn("over", F.col("sz") > max_bucket_size)
        .withColumn(
            "pairs_emitted",
            F.when(F.col("over"), F.col("sz") - 1).otherwise(F.col("pairs_full")),
        )
    )
    return (
        per.groupBy(F.col(keys[0]).alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.col("over").cast("long")).alias("n_oversized"),
            F.max("sz").alias("max_bucket"),
            F.sum("pairs_full").alias("pairs_full"),
            F.sum("pairs_emitted").alias("pairs_emitted"),
            (F.sum("pairs_full") - F.sum("pairs_emitted")).alias("pairs_dropped"),
            F.min(F.when(F.col("over"), F.col("min_id"))).alias("sample_min_id"),
        )
        .orderBy("band")
    )


def exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Exact-dedup summary: one row per key group with the deterministic
    canonical id (min ``order_col``) and the duplicate count — one hash
    shuffle. For the surviving rows themselves use :func:`dedup_rows`.
    """
    return df.groupBy(*key_cols).agg(
        F.min(order_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def dedup_rows(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Row-preserving exact dedup (``dropDuplicates`` with a *deterministic*
    survivor): keep, per key group, the row with the minimum ``order_col``.

    One window shuffle on ``key_cols``; all original columns survive.
    ``order_col`` must be unique within a group (e.g. a primary key) for a
    deterministic result.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def token_set(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) long form with per-doc distinct tokens."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(distinct_tokens(text_col)).alias("token"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct-token sets.

    Pairs are generated through an inverted-index self-join on token
    (optionally further blocked by ``block_col``), so only pairs sharing
    ≥1 token materialize; pairs below ``threshold`` are dropped.
    Output: (id_a, id_b, inter_n, union_n, jaccard), id_a < id_b.
    Jaccard is a ratio of integers → engine-exact.

    **Hot-token guard (100 TB):** tokens appearing in more than
    ``max_doc_freq`` documents are excluded entirely — "capped tokens
    don't exist": they are removed from intersections AND from the
    per-doc sizes (union denominator), so jaccard stays an unbiased
    ratio over the surviving vocabulary. (Computing sizes before the
    filter would bias jaccard low for stopword-heavy docs.) At
    production scale choose the cap from the threshold (a pair at
    Jaccard ≥ τ shares ≥ τ/(1+τ) of its tokens, so rare tokens still
    connect it) or pass ``max_doc_freq=None`` for exact semantics with a
    mandatory ``block_col``.

    **Precondition: ``id_col`` values are unique in ``df``** (one row
    per document — every registered caller passes a primary-keyed
    frame).  The doc-frequency cap counts exploded (token, id) rows
    with a plain ``count(1)``, which equals ``count_distinct(id)``
    exactly because ``array_distinct`` de-dups tokens WITHIN a row and
    id uniqueness rules out the same (token, id) pair arriving from
    two rows; duplicate ids would silently inflate doc frequencies
    (and intersection counts) — dedupe upstream if the input can
    carry them.
    """
    from modeltracking_spark.operators.kernel import widen_for_kernel

    # r16 (guide §2.3/§2.4): the tokenize explode used to be recomputed
    # by every consumer — hot-token counts, per-doc sizes, and BOTH
    # self-join sides: four full passes over the text. One lazy
    # localCheckpoint computes it once; widen_for_kernel spreads the
    # explode across cores when the scan is under-split (no-op on an
    # already-parallel scan at scale).
    toks = widen_for_kernel(
        df.select(
            F.col(id_col).alias("id"),
            *( [F.col(block_col).alias("blk")] if block_col else [] ),
            F.col(text_col).alias("__text"),
        )
    ).select(
        "id",
        *( ["blk"] if block_col else [] ),
        F.explode(distinct_tokens("__text")).alias("token"),
    ).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        # (token, id) rows are UNIQUE by construction (array_distinct per
        # doc), so the doc frequency is a plain count — count_distinct
        # would pay a second exchange for a dedup that cannot fire
        hot = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("token")
        )
        toks = toks.join(F.broadcast(hot), "token", "left_anti")
    # sizes AFTER the hot-token filter: consistent "token removed" semantics
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    cond = [F.col("a.token") == F.col("b.token"), F.col("a.id") < F.col("b.id")]
    if block_col:
        cond.append(F.col("a.blk") == F.col("b.blk"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn("union_n", F.col("sz_a") + F.col("sz_b") - F.col("inter_n"))
        .withColumn(
            "jaccard",
            F.col("inter_n").cast("double") / F.col("union_n").cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter_n", "union_n", "jaccard")


def token_hash60(token: F.Column | str) -> F.Column:
    """Deterministic 60-bit integer token hash, identical across engines.

    First 15 hex digits of md5 parsed as an integer:
    Spark ``conv(substr(md5(t),1,15),16,10)`` ≡ DuckDB
    ``('0x'||substr(md5(t),1,15))::bigint``. Fully distributed — no
    vocabulary join, no global window (the round-1 ``dense_rank`` over an
    unpartitioned Window funneled the whole vocabulary through one task).
    """
    c = F.col(token) if isinstance(token, str) else token
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_ids(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token_id) rows with deterministic, engine-portable token ids
    (:func:`token_hash60`) — one narrow projection; widened across cores
    when the scan is under-split (the md5-per-token map is the CPU-heavy
    part of every tokenize pipeline; widen_for_kernel is a no-op on an
    already-parallel scan)."""
    from modeltracking_spark.operators.kernel import widen_for_kernel

    toks = token_set(
        widen_for_kernel(df.select(id_col, text_col)), id_col, text_col
    )
    return toks.select("id", token_hash60("token").alias("token_id"))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full near-dup pipeline: tokens → MinHash → LSH buckets → candidate
    pairs → exact-Jaccard verification ≥ threshold.

    Output: (id_a, id_b, jaccard). Everything is integer/deterministic.
    """
    dt = token_ids(df, id_col, text_col)
    return minhash_pairs_from_token_ids(
        dt,
        n_hashes=n_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
        verify_threshold=verify_threshold,
        max_bucket_size=max_bucket_size,
    )


def with_minhash_sigs(df: DataFrame, n_hashes: int,
                      toks_col: str = "toks",
                      out_col: str = "__sigs") -> DataFrame:
    """Add the ``n_hashes`` MinHash signature mins as ONE array column,
    computed in an Arrow kernel (r8): the former per-band
    ``transform`` + ``array_min`` lambdas ran interpreted outside
    whole-stage codegen and were recomputed on both self-join sides.
    The kernel replays the IDENTICAL integer arithmetic —
    ``(A_i * (t mod p) + B_i) mod p`` in int64 (A_i <= 129, t mod p <
    2^39: products < 2^46, exact) — so signatures, band keys, and the
    oracles' "identical arithmetic" premise are unchanged. One
    definition shared by the self-join and incremental paths, like
    the lambda-based ``_minhash_perm`` it replaces."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    A = np.asarray(MINHASH_A[:n_hashes], dtype=np.int64)
    B = np.asarray(MINHASH_B[:n_hashes], dtype=np.int64)
    p = MINHASH_PRIME

    def _fn(s):
        # ONE batch-wide computation (r16): the per-row loop paid numpy
        # dispatch ~3 ms/row — flatten every row's tokens, run the
        # affine permutations as one (n_hashes x total_tokens) matrix,
        # and segment-min back per row with minimum.reduceat. Identical
        # int64 arithmetic, identical per-row minima.
        n = len(s)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in s), dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:  # _token_sets never emits empty sets; NULL
            return pd.Series([None] * n)  # mirrors array_min(empty)
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in s])
        t = flat % p
        h = (A[:, None] * t[None, :] + B[:, None]) % p
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        nonempty = lens > 0
        # reduceat over the NONEMPTY rows' offsets only (strictly
        # increasing; the last segment runs to the end), results
        # scattered back per row with None for empty rows.  Clamping
        # all offsets into range instead (the r16 shape) shifted the
        # previous row's segment boundary when a batch ENDED with
        # empty-token rows, dropping that row's final token from the
        # min.  _token_sets never emits empty arrays, but this kernel
        # documents (and now honors) the NULL-for-empty contract.
        mins = np.minimum.reduceat(h, offs[nonempty], axis=1)
        ne_pos = np.cumsum(nonempty) - 1  # row i -> its reduceat column
        out = [
            mins[:, ne_pos[i]] if nonempty[i] else None
            for i in range(n)
        ]
        return pd.Series(out)

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_fn, ArrayType(LongType()))
    return df.withColumn(out_col, udf(F.col(toks_col)))


def _minhash_band_key(b: int, rows_per_band: int,
                      sigs_col: str = "__sigs") -> F.Column:
    """xxhash64 of band b's ordered signature slice over the
    :func:`with_minhash_sigs` array column (shared band-key
    construction; the string-join input is byte-identical to the old
    per-band lambda build, so band buckets are unchanged)."""
    sigs = [
        F.element_at(F.col(sigs_col), i + 1).cast("string")
        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
    ]
    return F.xxhash64(F.concat_ws("_", *sigs))


def _token_sets(dt: DataFrame) -> DataFrame:
    """(id, token_id) rows -> (id, sorted distinct-token array) — the
    shared set build both MinHash paths signature over."""
    return dt.groupBy("id").agg(
        F.array_sort(F.collect_list("token_id")).alias("toks")
    )


def _minhash_groups(dt: DataFrame, n_hashes: int) -> DataFrame:
    """Distinct-token-set groups (toks, rep, members, sz, __sigs) — the
    identical-set collapse both MinHash paths start from; cached because
    the band build and the verify stage both re-read it."""
    sets_df = _token_sets(dt)
    groups = (
        sets_df.groupBy("toks")
        .agg(F.min("id").alias("rep"), F.collect_list("id").alias("members"))
        .withColumn("sz", F.size("toks"))
    )
    return with_minhash_sigs(groups, n_hashes).cache()


def _minhash_banded(groups: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(rep, __keys, band, band_key) band rows over the cached groups
    frame.  ``__keys`` carries ALL bands' keys (bands x 8 bytes) so the
    pair join can evaluate first-matching-band ownership without a
    second lookup; ``band_key`` is ``__keys[band]`` exactly as before."""
    keys = F.array(
        *[_minhash_band_key(b, rows_per_band) for b in range(bands)]
    )
    return groups.select("rep", keys.alias("__keys")).select(
        "rep",
        "__keys",
        F.posexplode("__keys").alias("band", "band_key"),
    )


def _minhash_band_frame(groups, bands: int, rows_per_band: int,
                        max_bucket_size: int | None):
    """The banded frame shaped for its consumer count: with the
    hot-bucket cap active there are 3-4 readers (the oversized-key
    aggregate, the anti/semi carve-outs, the chain window), so one
    localCheckpoint of the small (rep, band, band_key) table beats
    re-running the xxhash band folds per reader (measured 4.25 s ->
    3.4 s at sf0.1); uncapped there are only the two self-join sides,
    where recompute-from-cached-groups measured FASTER than the
    checkpoint barrier (the r8 finding, still true)."""
    banded = _minhash_banded(groups, bands, rows_per_band)
    if max_bucket_size is not None:
        # widen before the checkpoint: the banded frame inherits the
        # cached groups' partitioning, which AQE now right-sizes by
        # BYTES — a KB-scale cache collapses to one partition, and the
        # band self-join plus everything codegen-fused after it (the
        # ownership predicate, the exact verify, the member explode)
        # would run in ONE task. The guard is a no-op once the input
        # carries at least default-parallelism partitions (any real
        # corpus), so no extra exchange at scale.
        from modeltracking_spark.operators.kernel import widen_for_kernel

        banded = widen_for_kernel(banded).localCheckpoint(eager=False)
    return banded


def _check_minhash_shape(n_hashes: int, bands: int, rows_per_band: int) -> None:
    if n_hashes != bands * rows_per_band:
        raise ValueError(
            f"n_hashes ({n_hashes}) must equal bands*rows_per_band "
            f"({bands}*{rows_per_band}): band keys consume exactly "
            "bands*rows_per_band permutations"
        )


def minhash_banded_reps(
    dt: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(rep, band, band_key) band rows at the distinct-set-representative
    level — the frame the LSH self-join buckets on, exposed so
    :func:`band_bucket_overflow` can audit the hot-bucket cap against
    exactly the buckets :func:`minhash_pairs_from_token_ids` joins."""
    _check_minhash_shape(n_hashes, bands, rows_per_band)
    return _minhash_banded(_minhash_groups(dt, n_hashes), bands, rows_per_band)


def minhash_rep_pairs(
    dt: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Verified MinHash pairs at the distinct-set-representative level:
    (rep_a, rep_b, jaccard) — :func:`minhash_pairs_from_token_ids`
    without the member expansion, so a binding ``max_bucket_size`` is
    directly observable (oracled by ``minhash_lsh_capped_pairs``)."""
    _check_minhash_shape(n_hashes, bands, rows_per_band)
    groups = _minhash_groups(dt, n_hashes)
    banded = _minhash_band_frame(groups, bands, rows_per_band,
                                 max_bucket_size)
    cands = _capped_band_pairs(
        banded, "rep", (), max_bucket_size,
        key_fn=lambda c, s: F.element_at(F.col(f"{s}.__keys"), c + 1),
        n_bands=bands,
    ).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b")
    )
    return _minhash_rep_verified(groups, cands, verify_threshold).select(
        "rep_a", "rep_b", "jaccard"
    )


def _minhash_rep_verified(
    groups: DataFrame, cands: DataFrame, verify_threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of rep-level candidate pairs; keeps the
    member arrays so :func:`minhash_pairs_from_token_ids` can expand."""
    ga = groups.select(
        F.col("rep").alias("rep_a"), F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"), F.col("members").alias("members_a"),
    )
    gb = groups.select(
        F.col("rep").alias("rep_b"), F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"), F.col("members").alias("members_b"),
    )
    return (
        cands.join(ga, "rep_a")
        .join(gb, "rep_b")
        .withColumn("inter_n", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.col("inter_n").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter_n")).cast("double"),
        )
        .where(F.col("jaccard") >= verify_threshold)
    )


def minhash_pairs_from_token_ids(
    dt: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash -> LSH -> verify over pre-built (id, token_id) rows — the
    shared tail of :func:`minhash_dedup_pairs` for any shingling scheme
    (whitespace tokens, char n-grams, word n-grams).

    **Identical-set collapse (the scale lever):** a doc's signature,
    band keys, and pairwise Jaccard depend only on its *distinct token
    set*, so docs with equal sets are collapsed to one representative
    before any signature work. Near-dup-heavy corpora (the target
    workload) form large identical clusters; collapsing turns the
    verify step from O(cluster²) array intersections into O(distinct
    sets²) and the within-cluster output into a cheap member-pair
    expansion with jaccard = 1 exactly. The emitted pair set is
    byte-identical to the per-doc formulation (same candidates — equal
    sets always share every band — and the same integer jaccard
    arithmetic), so the DuckDB oracle is unchanged.

    Signatures are computed per *set row* with transform+array_min —
    no explode shuffle; the only shuffles are the set groupBy and the
    band-bucket self-join. At 100 TB, persist the distinct-set table
    to parquet instead of ``cache()`` (the cache below lives until the
    session ends or the executor evicts it — acceptable for job-scoped
    sessions, which is the deployment shape here).

    **Hot-bucket cap (100 TB):** the band self-join is bounded by
    ``max_bucket_size`` — rep buckets beyond it emit sorted-neighbor
    chains instead of all pairs (:func:`_capped_band_pairs`), so a
    mega-cluster of boilerplate near-identicals costs O(k) candidates,
    not O(k²).  The default is non-binding at every tested SF, so the
    DuckDB oracle (uncapped, doc-level) is unchanged; audit binding
    runs with :func:`band_bucket_overflow` over
    :func:`minhash_banded_reps`.
    """
    _check_minhash_shape(n_hashes, bands, rows_per_band)
    # group by the full sorted array (exact — no hash-collision risk);
    # signatures ride the cached frame so every consumer reuses them
    # instead of re-running the permutations
    groups = _minhash_groups(dt, n_hashes)
    banded = _minhash_band_frame(groups, bands, rows_per_band,
                                 max_bucket_size)
    cands = _capped_band_pairs(
        banded, "rep", (), max_bucket_size,
        key_fn=lambda c, s: F.element_at(F.col(f"{s}.__keys"), c + 1),
        n_bands=bands,
    ).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b")
    )
    verified = _minhash_rep_verified(groups, cands, verify_threshold)
    # cross-set pairs: every member of set A × every member of set B
    # shares the set-level jaccard; doc ids across distinct sets never
    # coincide, so least/greatest restores the id_a < id_b convention
    # a large identical cluster expands quadratically from ONE row —
    # repartition between the two explodes so the second (big) explode
    # is spread across cores instead of running in the single task that
    # holds the cluster row
    cross = (
        verified.select("members_a", "members_b", "jaccard")
        .withColumn("x", F.explode("members_a"))
        .repartition("x")
        .withColumn("y", F.explode("members_b"))
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "jaccard",
        )
    )
    # within-set pairs: identical sets are always candidates (equal
    # signatures ⇒ equal band keys) with jaccard exactly 1
    within = (
        groups.where(
            F.lit(verify_threshold <= 1.0) & (F.size("members") >= 2)
        )
        .select("members")
        .withColumn("x", F.explode("members"))
        .repartition("x")
        .withColumn("y", F.explode("members"))
        .where(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("id_a"),
            F.col("y").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def simhash64(doc_tokens: DataFrame) -> DataFrame:
    """SimHash: 63-bit fingerprint from (id, token_id) rows.

    bit_j(doc) = 1 iff Σ_tokens sign_j(token) > 0, where sign_j(token)
    = +1 if bit j of the token's integer hash is set else −1
    (equivalently: bit set iff 2·count_set_j > n_tokens). Near-dups are
    pairs with small Hamming distance (:func:`simhash_neardup_pairs`).
    Output: (id, simhash) with simhash as bigint.

    **Narrow form (one shuffle, codegen only).** Each bit's vote count
    is a map-side-combinable SUM of ``shiftright(h, j) & 1`` — 63 sum
    columns plus the token count ride the only Exchange (a fixed
    ~512 bytes/doc partial, *smaller* than shipping the token-hash list
    for any document beyond ~64 tokens), and the fingerprint assembles
    from the sums in one codegen projection. The r15 form collected the
    hash list per doc and folded the votes in an interpreted
    higher-order ``aggregate`` lambda — 63 x tokens interpreted steps
    per document, pinned to however few partitions AQE coalesced the
    post-shuffle read to (measured: the whole fold on ONE task at
    sf0.1). Same integer votes, same threshold ``2c > n``, bit-identical
    fingerprints (plan asserted ≤1 Exchange in
    tests/test_scale_plans.py).
    """
    # affine-rehash the token id into 64 bits (two 31-bit halves);
    # reduce mod p first so the products stay within int64 for 60-bit ids
    t = F.col("token_id") % F.lit(MINHASH_PRIME)
    h = (t * F.lit(0x9E3779B1) + F.lit(0x85EBCA77)) % F.lit(MINHASH_PRIME)
    h2 = (t * F.lit(0xC2B2AE35) + F.lit(0x27D4EB2F)) % F.lit(MINHASH_PRIME)
    hashed = doc_tokens.withColumn("__h64", (h.cast("bigint") * F.lit(2147483648)) + h2)
    per_doc = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("__h64", j).bitwiseAND(F.lit(1))).alias(f"__c{j}")
            for j in range(63)
        ],
    )
    fingerprint = None
    for j in range(63):
        term = F.when(
            F.col(f"__c{j}") * 2 > F.col("__n"), F.lit(1 << j)
        ).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select("id", fingerprint.cast("bigint").alias("simhash"))


#: default band split of the 63-bit fingerprint: 4 bands of ~16 bits.
#: By pigeonhole, a pair within Hamming distance r < len(bands) leaves at
#: least one band untouched, so band-bucketing is EXACT (not approximate)
#: for max_hamming <= 3 — every qualifying pair is a candidate.
SIMHASH_BAND_BITS = (16, 16, 16, 15)


def simhash_neardup_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    band_bits: Sequence[int] = SIMHASH_BAND_BITS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Hamming-distance near-dup pairs over (id, simhash) fingerprints.

    Bucket by byte-bands of the fingerprint (never all-pairs): a pair
    within ``max_hamming`` differs in at most ``max_hamming`` bands, so
    with ``max_hamming < len(band_bits)`` some band matches exactly and
    the band-key self-join finds every qualifying pair — same
    candidates-then-verify shape as MinHash LSH, with
    ``bit_count(a ^ b) <= max_hamming`` as the verify step.

    The pigeonhole exactness guarantee holds while every bucket is at
    most ``max_bucket_size`` members (non-binding at every tested SF);
    beyond it the bucket degrades to sorted-neighbor chaining
    (:func:`_capped_band_pairs`) — candidates stay linear in bucket
    size, connectivity across the mega-bucket survives through the
    chain, and :func:`band_bucket_overflow` accounts what was skipped.

    Output: (id_a, id_b, hamming), id_a < id_b, hamming as bigint.
    """
    if max_hamming >= len(band_bits):
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for an "
            f"exact pair guarantee; got {len(band_bits)}"
        )
    # materialize the fingerprint table before the self-join: both join
    # sides reference it, and without a cut Spark recomputes the ENTIRE
    # upstream pipeline (tokenize -> collect -> 63-bit fold over every
    # token) once per side — measured 2x the query's cost at sf0.1. The
    # checkpoint is (id, simhash) = ~16 bytes/doc, negligible at any
    # corpus scale next to recomputing the corpus scan.
    fps = fps.localCheckpoint(eager=False)
    offs = [sum(band_bits[:i]) for i in range(len(band_bits))]
    banded = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {offs[b]}) & {(1 << band_bits[b]) - 1}"
                        ).alias("band_key"),
                    )
                    for b in range(len(band_bits))
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.band_key")
    # ownership keys derive straight from the fingerprint both join
    # sides already carry — band c's key is a shift/mask of simhash
    def _sim_key(c: int, side: str) -> F.Column:
        return F.expr(
            f"shiftright({side}.simhash, {offs[c]})"
            f" & {(1 << band_bits[c]) - 1}"
        )

    return (
        _capped_band_pairs(
            banded, "id", ("simhash",), max_bucket_size,
            key_fn=_sim_key, n_bands=len(band_bits),
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every node gets
    the **minimum reachable id** as its cluster id, turning pairwise
    near-dup evidence (from :func:`minhash_dedup_pairs`,
    :func:`jaccard_pairs`, embedding-cosine, …) into disjoint dedup
    clusters from which one survivor per cluster can be kept.

    Algorithm: iterative min-label propagation with **pointer jumping**
    (``lbl(v) ← lbl(lbl(v))`` each round), the classic Bulk-Synchronous
    CC formulation — each round is two joins + one aggregate, and the
    label forest's depth halves per round, so rounds = O(log diameter).
    Near-dup components are shallow (a handful of docs chained by
    transitivity), so 2–3 rounds converge in practice; ``max_rounds``
    bounds adversarial chains. Each round materializes via
    ``localCheckpoint`` to truncate lineage — without it the plan
    doubles per iteration (the standard iterative-DataFrame trap).

    100 TB posture: state is one (node, label) row per node — never the
    transitive closure; every step shuffles on node id only. The driver
    loop's only action per round is a 1-row convergence probe. The
    reference has no graph surface (dedup clustering is extension-tier
    per the brief); the alternating small-star/large-star variant
    (Kiveris et al.) is the O(log² n) drop-in if adversarial diameters
    ever matter.

    Output: (id, cluster_id) for every node present in ``pairs``.
    """
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # init: lbl(v) = min(v, min neighbor)
    lbl = edges.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("lbl")
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nbr = (
            edges.join(
                lbl.select(F.col("u").alias("v"), F.col("lbl").alias("lv")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("lv").alias("nm"))
        )
        prop = lbl.join(nbr, "u", "left").select(
            "u", F.least("lbl", F.coalesce("nm", "lbl")).alias("lbl")
        )
        # pointer jump: follow the label one hop through the label table
        jumped = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("u").alias("lu"), F.col("lbl").alias("ll")
                ).alias("b"),
                F.col("a.lbl") == F.col("b.lu"),
                "left",
            )
            .select(
                F.col("a.u").alias("u"),
                F.least(
                    F.col("a.lbl"), F.coalesce("b.ll", F.col("a.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.join(lbl.select("u", F.col("lbl").alias("old")), "u")
            .where(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        lbl = jumped
        if changed == 0:
            break
    return lbl.select(F.col("u").alias("id"), F.col("lbl").alias("cluster_id"))


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    key_expr,
    order_col: str,
) -> DataFrame:
    """Incremental-ingestion dedup: admit only the ``incoming`` rows
    whose content key appears neither in the ``existing`` corpus nor
    earlier within the incoming batch itself — the daily-crawl shape
    (dedup the delta against a mature corpus WITHOUT rescanning or
    re-shuffling the corpus-with-itself).

    ``key_expr`` maps a row to its content key (e.g. ``F.md5("text")``).
    Plan: the existing side reduces to its DISTINCT keys (at production
    scale a pre-materialized key table / Bloom index — the scan here is
    the bootstrap), then one left-anti join keyed on the content hash
    removes already-seen rows and one window pass keeps the minimum
    ``order_col`` per surviving key. The incoming delta (small) is the
    only side that shuffles twice; the corpus contributes one
    distinct-key aggregate.

    Output: surviving incoming rows + ``__key`` (the content key).
    """
    inc = incoming.withColumn("__key", key_expr)
    seen = existing.select(key_expr.alias("__key")).distinct()
    fresh = inc.join(seen, "__key", "left_anti")
    w = Window.partitionBy("__key").orderBy(F.col(order_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_neardup_matches(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
    broadcast_delta: bool = True,
) -> DataFrame:
    """Near-dup matches of a fresh DELTA against a mature CORPUS — the
    daily-crawl twin of :func:`incremental_dedup` at NEAR-dup
    granularity: candidates are generated only across the delta×corpus
    boundary (the corpus never self-joins, and at production scale its
    band-key and token-set tables are precomputed indexes — the scans
    here are the bootstrap, exactly the ``incremental_dedup`` note).

    SCOPE: cross-boundary only — two near-identical docs BOTH inside
    the delta are each other's problem, not the corpus's; a full ingest
    runs :func:`minhash_dedup_pairs` (the self-join path) over the
    delta alone for that half, which is delta-sized and cheap. Exact
    copies should already be gone via :func:`incremental_dedup` first
    (the standard exact-then-near ordering), which also removes the
    identical-set clusters the self-join path's collapse lever targets
    — hence the per-doc formulation here.

    Plan: per-side (id, sorted token-id set) tables (each materialized
    once — both feed the band build AND the verify); band keys via the
    SHARED :func:`_minhash_band_key` helpers (one definition with the
    self-join path, so the oracles' "identical arithmetic" premise is
    structural); candidates from the (band, band_key) equi-join.
    ``broadcast_delta=True`` hints the delta's band/set tables onto the
    corpus side — right whenever the delta fits the broadcast limit
    (the daily-crawl shape); pass ``False`` for proportionally-large
    deltas and the joins degrade gracefully to hash joins on the same
    keys. Exact-Jaccard verify via array_intersect. Output:
    (delta_id, corpus_id, jaccard).
    """
    if n_hashes != bands * rows_per_band:
        raise ValueError(
            f"n_hashes ({n_hashes}) != bands*rows_per_band "
            f"({bands}*{rows_per_band})"
        )

    def _bands(sets_df: DataFrame) -> DataFrame:
        return with_minhash_sigs(sets_df, n_hashes).select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            _minhash_band_key(b, rows_per_band).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select("id", "bk.band", "bk.band_key")

    # both set tables feed two consumers (band build + verify), so each
    # is materialized once — without this the corpus tokenize + set
    # aggregation would run twice (the doubled-scan defect class)
    d_sets = _token_sets(token_ids(delta, id_col, text_col)).localCheckpoint(
        eager=False
    )
    c_sets = _token_sets(token_ids(corpus, id_col, text_col)).localCheckpoint(
        eager=False
    )
    maybe_bc = F.broadcast if broadcast_delta else (lambda df: df)
    cands = (
        _bands(c_sets)
        .join(
            maybe_bc(
                _bands(d_sets).select(
                    F.col("id").alias("delta_id"), "band", "band_key"
                )
            ),
            ["band", "band_key"],
        )
        .select("delta_id", F.col("id").alias("corpus_id"))
        .distinct()
    )
    dv = d_sets.select(F.col("id").alias("delta_id"), F.col("toks").alias("d_toks"))
    cv = c_sets.select(F.col("id").alias("corpus_id"), F.col("toks").alias("c_toks"))
    verified = (
        cands.join(maybe_bc(dv), "delta_id")
        .join(cv, "corpus_id")
        .withColumn("inter_n", F.size(F.array_intersect("d_toks", "c_toks")))
        .withColumn(
            "jaccard",
            F.col("inter_n").cast("double")
            / (
                F.size("d_toks") + F.size("c_toks") - F.col("inter_n")
            ).cast("double"),
        )
    )
    return verified.where(F.col("jaccard") >= verify_threshold).select(
        "delta_id", "corpus_id", "jaccard"
    )
