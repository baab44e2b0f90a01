"""Embedding similarity search (extension surface; SURVEY.md §2.12).

Two tiers:
- brute-force top-k cosine: query set × corpus with the query side
  small/broadcast — the correctness baseline.
- LSH-bucketed (random hyperplane signs) top-k: corpus is bucketed by a
  b-bit sign signature; candidates come from the query's bucket (plus
  Hamming-1 probes), then exact re-rank. This is the 100 TB path: the
  cross product shrinks by ~2^b.

All vector math is JVM higher-order functions (functions.vector); the
hyperplanes are deterministic pseudo-random signs derived from integer
mixes so results are reproducible without a seed file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modeltracking_spark.functions.vector import dot_product, l2_norm


def _pairwise_cosine(q_vec: str, c_vec: str) -> F.Column:
    """Cosine from pre-folded side norms ``__qn``/``__cn`` (zero-vector
    guarded like functions.vector.cosine_similarity). Norms are per-row
    quantities — folding them before a join avoids re-folding each
    vector once per *pair*."""
    denom = F.col("__qn") * F.col("__cn")
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        dot_product(q_vec, c_vec) / denom
    )


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k by cosine for each query against the full corpus.

    The query side is broadcast (small); the corpus streams — one pass,
    no shuffle of the corpus until the per-query top-k aggregation.
    Deterministic tie-break by candidate id.
    Output: (q_id, c_id, cosine, rnk).

    Parameter order is (queries, corpus) — same as :func:`cosine_topk_lsh`.
    ``exclude_self`` drops rows where q_id == c_id; only enable when both
    sides share one id space (otherwise coincident ids from different
    spaces would wrongly be dropped).
    """
    # norms are per-row, not per-pair: fold once on each side before the
    # join (a per-pair cosine_similarity would re-fold the corpus norm
    # |queries| times)
    x = corpus.withColumn("__cn", l2_norm(c_vec)).crossJoin(
        F.broadcast(queries.withColumn("__qn", l2_norm(q_vec)))
    )
    if exclude_self:
        x = x.where(F.col(q_id) != F.col(c_id))
    x = x.withColumn("cosine", _pairwise_cosine(q_vec, c_vec))
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        x.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, c_id, "cosine", "rnk")
    )


def _plane_signs(table: int, plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane pattern from md5 parity of
    '(table:plane:dim)' — computed ONCE at plan time, so signatures cost
    one literal-array fold per plane with zero per-row hashing. MD5 is a
    public, engine-independent primitive: a DuckDB oracle derives the
    identical planes from its own ``md5()`` (see queries/sim_q.py)."""
    import hashlib

    return [
        1 if hashlib.md5(f"{table}:{plane}:{d}".encode()).digest()[0] & 1 == 0 else -1
        for d in range(dim)
    ]


#: fixed-point scale for signature projections: element |x| ≲ 1 in the
#: testdata, so 64 terms × 1e6 ≪ 2^63; integer sums are associative →
#: sign bits are fold-order- and engine-independent (a double fold could
#: flip a near-zero projection's sign between engines).
SIG_SCALE = 10**6


def hyperplane_signatures_all(
    vec_col: str, n_planes: int, dim: int, n_tables: int
) -> F.Column:
    """All ``n_tables`` table signatures as ONE ``array<long>`` column,
    computed by a single int64 matrix multiply in an Arrow kernel
    (r16, guide §4.2).

    A per-table Catalyst formulation (one zip_with/aggregate integer
    fold per plane) folds ``n_tables × n_planes`` lambdas per row —
    higher-order functions run INTERPRETED, outside whole-stage codegen,
    which measured ~1 ms/row at 8×4×64 (the dominant cost of every
    hyperplane-LSH query).  This kernel replays the IDENTICAL integer
    arithmetic — ``round(vec[d]·1e6)`` half-away-from-zero (the
    :func:`_round_away` rounding, ≡ Spark ``F.round`` HALF_UP and DuckDB
    ``round``) as int64, multiplied by the same md5-parity ±1 planes and
    summed exactly (|terms| ≤ 64·2e6 ≪ 2^63) — so signatures are
    bit-identical to that fold, which the DuckDB oracles recompute.
    One numpy ``R @ S`` per batch replaces ~2048 interpreted lambda
    evaluations per row.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    # (dim, n_tables*n_planes) ±1 sign matrix, plan-time constant
    S = np.array(
        [
            _plane_signs(t, p, dim)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    ).T
    weights = np.array(
        [1 << p for p in range(n_planes)], dtype=np.int64
    )

    def _fn(s: pd.Series) -> pd.Series:
        out = []
        for vec in s:
            a = np.asarray(vec, dtype=np.float64)
            proj = _round_away(a, float(SIG_SCALE)) @ S  # (T*P,) int64, exact
            bits = (proj >= 0).astype(np.int64).reshape(n_tables, n_planes)
            out.append(bits @ weights)
        return pd.Series(out)

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # non-deterministic marker (guide §4.4): the bucket join's implied
    # isnotnull(sig) filter otherwise re-evaluates the kernel below the
    # pushed filter AND in the projection (two ArrowEvalPython nodes per
    # side, observed).  Deterministic in fact; the marker only stops the
    # optimizer's duplicate-below-filter rewrite.
    udf = F.pandas_udf(_fn, ArrayType(LongType())).asNondeterministic()
    return udf(F.col(vec_col))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH (the standard E2LSH
    shape) with Hamming-1 multi-probe per table, then exact cosine
    re-rank over the deduplicated candidate set.

    Recall math: a pair at angle θ agrees on one plane w.p. 1-θ/π; a
    single b-bit table finds it w.p. p^b, which collapses for the
    moderate-cosine neighbors that dominate real top-k sets. With T
    independent tables and Hamming-1 probes the miss probability drops
    to (1 - P[≤1 bit differs])^T — n_planes=4, n_tables=8 gives >0.9
    recall even on near-random corpora (asserted in tests).

    Scale: the corpus is exploded T× onto (table, sig) keys — the classic
    multi-table space/recall trade — and shuffles once; each query emits
    T·(n_planes+1) probe keys before the broadcast (still tiny). A pair
    matching in several tables is deduplicated before the re-rank.

    Parameter order is (queries, corpus) — same as
    :func:`cosine_topk_brute`; ``exclude_self`` likewise. The re-rank
    cosine is e12 fixed-point (like the brute baseline), so results are
    engine-exact and the DuckDB oracle hash-matches.
    """
    from modeltracking_spark.functions.vector import (
        dot_product_fxp_arrow,
        sq_norm_fxp,
    )

    # all table signatures in ONE Arrow matmul per row (r16, guide §4.2);
    # posexplode position IS the table index
    csig = (
        corpus.withColumn(  # fold before the T× explode
            "__cn", F.sqrt(sq_norm_fxp(c_vec).cast("double"))
        )
        .withColumn(
            "__sigs", hyperplane_signatures_all(c_vec, n_planes, dim, n_tables)
        )
        .select(
            "*", F.posexplode("__sigs").alias("tbl", "sig")
        )
        .drop("__sigs")
    )
    # base signatures computed ONCE by the kernel, then the n_planes
    # Hamming-1 flips derive from the materialized value (not fresh
    # signature expressions — that would evaluate the projection 5x)
    qsig = (
        queries.withColumn(
            "__sigs", hyperplane_signatures_all(q_vec, n_planes, dim, n_tables)
        )
        .select("*", F.posexplode("__sigs").alias("tbl", "__bsig"))
        .withColumn(
            "sig",
            F.explode(
                F.array(
                    F.col("__bsig"),
                    *[
                        F.col("__bsig").bitwiseXOR(F.lit(2**p))
                        for p in range(n_planes)
                    ],
                )
            ),
        )
        .drop("__sigs", "__bsig")
    )
    x = csig.join(
        F.broadcast(
            qsig.withColumn("__qn", F.sqrt(sq_norm_fxp(q_vec).cast("double")))
        ),
        ["tbl", "sig"],
    )
    if exclude_self:
        x = x.where(F.col(q_id) != F.col(c_id))
    # a pair can match through several (table, probe) routes -> dedup
    cand = x.dropDuplicates([q_id, c_id])
    cand = cand.withColumn(
        "cosine",
        F.when(F.col("__qn") * F.col("__cn") == 0, F.lit(0.0)).otherwise(
            dot_product_fxp_arrow(q_vec, c_vec).cast("double")
            / (F.col("__qn") * F.col("__cn"))
        ),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, c_id, "cosine", "rnk")
    )


def _round_away(a, scale: float):
    """round(a*scale) half-AWAY-from-zero as int64 — the rounding Spark's
    ``F.round`` (HALF_UP) and DuckDB's ``round()`` both use; numpy's
    ``rint`` is half-to-even and would diverge on exact .5 products."""
    import numpy as np

    return (np.sign(a) * np.floor(np.abs(a) * scale + 0.5)).astype(np.int64)


def _unit_rows(C):
    """Row-normalize a centroid matrix with an ENGINE-EXACT norm: the
    squared norm is an integer sum of e6-rounded squares (associative),
    so sqrt/divide produce identical doubles in any engine — a float
    accumulation (np.linalg.norm's pairwise sum) could differ from a
    sequential SQL fold at ulp level and flip a near-tie assignment."""
    import numpy as np

    q = _round_away(C, 1e6)
    nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64)) / 1e6
    return C / np.maximum(nrm, 1e-300)[:, None]


def _int_scores(X, Cn):
    """Integer centroid-affinity scores: round(x*1e6) @ round(cn*1e9)^T.

    int64 matmul is exact and order-independent, so the argmax (ties to
    the smaller centroid id) is reproducible bit-for-bit by a DuckDB
    fold — this is what makes the whole IVF pipeline oracle-checkable.
    Ranking by dot against UNIT centroids equals ranking by cosine (the
    query's own norm scales all its scores by the same positive
    factor). Magnitudes: |x|≲40 → 4e7; |cn|≤1 → 1e9; 64-term dot ≤
    2.6e18 < 2^63. The guard below makes the closed-form bound loud:
    |x|≤100 and |cn|≤1.1 keep a dim-64 integer dot ≤ 7.1e18 < 2^63, so
    out-of-range embeddings raise instead of silently overflowing int64
    and corrupting the argmax/sign determinism the oracles rely on."""
    import numpy as np

    xmax = float(np.abs(X).max(initial=0.0))
    cmax = float(np.abs(Cn).max(initial=0.0))
    if xmax > 100.0 or cmax > 1.1 or X.shape[1] > 64:
        raise ValueError(
            "fixed-point affinity overflow risk: need |x|<=100 (got "
            f"{xmax:g}), unit centroids |cn|<=1.1 (got {cmax:g}), dim<=64 "
            f"(got {X.shape[1]}) — rescale embeddings or lower the scales"
        )
    return _round_away(X, 1e6) @ _round_away(Cn, 1e9).T


def _nearest_centroids(vec_col: str, centroids: list[list[float]], n: int) -> F.Column:
    """Array of the ``n`` nearest centroid ids (by cosine, tie-break to
    the smaller id) for a vector column.

    Arrow-batched numpy: the centroid matrix is a closure constant and
    scoring is one (batch × dim) @ (dim × n_centroids) matmul per Arrow
    batch — still a narrow map (no join, no shuffle), but ~10× the
    throughput of the earlier plan-time-literal zip_with folds, whose
    16×64-literal expression tree was interpreted per row outside
    whole-stage codegen."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    Cn = _unit_rows(C)

    def _score_fn(vecs):
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        sc = _int_scores(X, Cn)
        # stable argsort on -score == (score desc, centroid id asc)
        order = np.argsort(-sc, axis=1, kind="stable")[:, :n]
        return pd.Series(list(order.astype("int32")))

    _score_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # non-deterministic marker (guide §4.4, r16): the cid join's implied
    # isnotnull filter otherwise duplicates the scoring kernel below the
    # pushed filter (two ArrowEvalPython on the corpus branch, observed
    # in the r15 plan).  Deterministic in fact.
    udf = F.pandas_udf(_score_fn, ArrayType(IntegerType())).asNondeterministic()
    return udf(F.col(vec_col))


def kmeans_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "c_vec",
    id_col: str = "c_id",
    n_centroids: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd k-means for the IVF coarse quantizer.

    Seeds = the ``n_centroids`` corpus vectors with the smallest ids;
    each iteration is ONE mapInPandas pass that assigns by max
    integer-scored affinity (exact int64 matmul against the broadcast
    unit-centroid matrix — see :func:`_int_scores`) and emits per-batch
    e9 fixed-point partial sums — integer adds are associative, so the
    means are order- and partitioning-independent (bit-deterministic),
    and the WHOLE training run is replayable by the DuckDB oracle
    (queries/sim_q.py unrolls these iterations in SQL). The
    per-iteration shuffle is ≤ n_centroids rows per Arrow batch
    (MLlib's treeAggregate shape); the only driver materialization is
    the (n_centroids × dim) centroid table — the corpus itself never
    leaves the cluster.
    """
    import numpy as np
    import pandas as pd

    seeds = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    cents = [list(r["v"]) for r in seeds]
    vecs = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        C = np.asarray(cents, dtype=np.float64)
        Cn = _unit_rows(C)

        # one pass: assign + per-batch partial sums (e9 fixed point →
        # integer adds are associative, so the result is order- and
        # partitioning-independent). Emits ≤ n_centroids rows per Arrow
        # batch — the 3.2M-row posexplode shuffle this replaces was the
        # iteration's entire cost.
        def _partials(batches):
            for pdf in batches:
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                cid = np.argsort(-_int_scores(X, Cn), axis=1, kind="stable")[:, 0]
                Xe9 = _round_away(X, 1e9)
                rows = []
                for c in np.unique(cid):
                    sel = Xe9[cid == c]
                    rows.append(
                        (int(c), sel.sum(axis=0).tolist(), int(sel.shape[0]))
                    )
                yield pd.DataFrame(rows, columns=["cid", "s_e9", "n"])

        combined = (
            vecs.mapInPandas(_partials, "cid int, s_e9 array<long>, n long")
            .select("cid", "n", F.posexplode("s_e9").alias("pos", "s"))
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s_e9"), F.sum("n").alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in combined:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = (
                float(r["s_e9"]) / r["n"] / 1e9
            )
        cents = [
            [m[p] for p in sorted(m)] if (m := by_cid.get(cid)) else cents[cid]
            for cid in range(len(cents))
        ]
    return cents


def train_ivf_quantizer(
    corpus: DataFrame,
    *,
    vec_col: str = "c_vec",
    id_col: str = "c_id",
    n_centroids: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Train the IVF coarse quantizer ONCE and return it as a
    (cid int, centroid array<double>) DataFrame — the persistable
    artifact of the train/serve split.

    At 100 TB the quantizer is trained on a sample, written to a table,
    and every subsequent :func:`cosine_topk_ivf` call serves from it —
    search cost never re-pays training. Training is deterministic
    (fixed-point partial sums, smallest-id seeds), so train-once /
    serve-many returns bit-identical results to inline training with the
    same parameters (asserted in tests/test_similarity.py).
    """
    spark = corpus.sparkSession
    cents = kmeans_centroids(
        corpus, vec_col=vec_col, id_col=id_col, n_centroids=n_centroids, iters=iters
    )
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "cid int, centroid array<double>"
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
    quantizer: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → corpus bucketed
    by nearest centroid → each query probes its ``nprobe`` nearest
    centroid buckets → exact cosine re-rank within the probed buckets.

    The 100 TB alternative to :func:`cosine_topk_lsh` when the corpus is
    *clustered* (LSH is data-oblivious; IVF adapts its partitions to the
    data): candidate work drops to ~nprobe/n_centroids of the corpus per
    query. The corpus assignment is a narrow map (literal centroids, no
    join) computed once; at production scale it would be written
    partitioned by ``cid`` so probes prune partitions at scan time.

    ``quantizer``: a pre-trained (cid, centroid) DataFrame from
    :func:`train_ivf_quantizer` — the serve path. When given,
    ``n_centroids``/``iters`` are ignored and NO training happens; the
    only driver materialization is the (n_centroids × dim) centroid
    table itself.
    """
    from modeltracking_spark.functions.vector import (
        dot_product_fxp_arrow,
        sq_norm_fxp,
    )

    if quantizer is not None:
        # bounded artifact (n_centroids rows): plain collect + driver
        # sort — the previous .orderBy("cid") paid a range-partitioning
        # sample job plus an exchange over the tiny frame (measured
        # 2.2-3.9 s vs 0.5-0.9 s per serve call on a 32-slice
        # parallelized quantizer; a coalesce(1) variant was measured
        # WORSE, 7-10 s, because the single task then drains every
        # parallelize slice through the Python runner serially) (r17)
        rows = sorted(quantizer.collect(), key=lambda r: r["cid"])
        cents = [list(r["centroid"]) for r in rows]
    else:
        cents = kmeans_centroids(
            corpus,
            vec_col=c_vec,
            id_col=c_id,
            n_centroids=n_centroids,
            iters=iters,
        )
    cassign = corpus.withColumn("cid", _nearest_centroids(c_vec, cents, 1)[0])
    qprobe = queries.withColumn(
        "cid", F.explode(_nearest_centroids(q_vec, cents, nprobe))
    )
    # e12 fixed-point re-rank (like the brute/LSH paths) so results are
    # engine-exact and the unrolled-Lloyd DuckDB oracle hash-matches
    x = cassign.withColumn(
        "__cn", F.sqrt(sq_norm_fxp(c_vec).cast("double"))
    ).join(
        F.broadcast(
            qprobe.withColumn("__qn", F.sqrt(sq_norm_fxp(q_vec).cast("double")))
        ),
        "cid",
    )
    if exclude_self:
        x = x.where(F.col(q_id) != F.col(c_id))
    cand = x.withColumn(
        "cosine",
        F.when(F.col("__qn") * F.col("__cn") == 0, F.lit(0.0)).otherwise(
            dot_product_fxp_arrow(q_vec, c_vec).cast("double")
            / (F.col("__qn") * F.col("__cn"))
        ),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, c_id, "cosine", "rnk")
    )


def cosine_neardup_lsh(
    corpus: DataFrame,
    *,
    threshold: float = 0.3,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_filter: F.Column | None = None,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold via hyperplane
    LSH buckets — the scale path the exact self-join
    (``embedding_neardup_pairs``) is the correctness baseline for.

    One side emits each table's base signature plus its ``n_planes``
    Hamming-1 flips (multi-probe), the other side emits base signatures
    only; candidates are bucket-join matches in ≥1 table, deduplicated,
    then EXACT fixed-point cosine decides — so false positives are
    impossible and the only approximation is recall (a qualifying pair
    differing ≥2 bits in every table is missed; with 8×4-bit tables +
    Hamming-1 probes that's <1% at cosine 0.3 — asserted ≥0.95 vs the
    exact pairs in tests/test_similarity.py).

    ``probe_filter`` optionally restricts the probe side (e.g.
    ``F.col("vec_id") < 100`` to mirror the exact query's probe set).
    Output: (id_a, id_b, cosine) with id_a < id_b.

    **Hot-bucket cap (100 TB, VERDICT r14 item 1):** a (table, sig)
    bucket of k corpus members meets ~k probe rows — O(k²) candidates
    in a mega-cluster.  Buckets beyond ``max_bucket_size`` are carved
    out of the bucket join (broadcast anti-join on the oversized keys,
    the ``max_doc_freq`` precedent) and replaced by sorted-neighbor
    adjacent pairs *within* the bucket (id-ordered ``lead`` — linear,
    connectivity-preserving; id_a still honors ``probe_filter`` via a
    semi join).  Every surviving candidate — chained or bucketed — goes
    through the same exact fixed-point cosine verify, so false
    positives remain impossible; the cap only trades recall inside
    oversized buckets, non-binding at every tested SF (bucket max 174
    at sf0.1 vs the 4096 default).  Audit binding runs with
    ``dedup.band_bucket_overflow(cside, key_cols=("tbl", "sig"),
    id_col="id_b")``.
    """
    from modeltracking_spark.functions.vector import (
        dot_product_fxp_arrow,
        sq_norm_fxp,
    )
    from modeltracking_spark.operators.kernel import widen_for_kernel

    # r16 restructure (guide §2.3/§8): candidate generation runs on a
    # NARROW (id, tbl, sig) frame — the 64-dim payload no longer rides
    # the T× explode, the bucket join, or the chain window; vectors
    # re-attach ONCE, to the (small) verified-candidate pair list.  The
    # corpus signature pass — one Arrow matmul per row
    # (:func:`hyperplane_signatures_all`) — is computed ONCE and
    # localCheckpointed: with the cap active it previously re-ran per
    # consumer (the oversized-key aggregate, the anti/semi carve-outs),
    # and the checkpoint also truncates the multi-consumer plan the
    # optimizer was re-deriving per branch (measured: 6.8 s -> ~1.3 s
    # at sf0.1).
    sig_arr = hyperplane_signatures_all(vec_col, n_planes, dim, n_tables)
    cside = (
        widen_for_kernel(corpus.select(F.col(id_col).alias("id_b"), vec_col))
        .withColumn("__sigs", sig_arr)
        .select("id_b", F.posexplode("__sigs").alias("tbl", "sig"))
        .localCheckpoint(eager=False)
    )
    probe = corpus if probe_filter is None else corpus.where(probe_filter)
    pside = (
        probe.select(F.col(id_col).alias("id_a"), vec_col)
        .withColumn("__sigs", sig_arr)
        .select("id_a", F.posexplode("__sigs").alias("tbl", "__bsig"))
        .select(
            "id_a",
            "tbl",
            F.explode(
                F.array(
                    F.col("__bsig"),
                    *[F.col("__bsig").bitwiseXOR(F.lit(2**p)) for p in range(n_planes)],
                )
            ).alias("sig"),
        )
    )
    if max_bucket_size is not None:
        over = (
            cside.groupBy("tbl", "sig")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .where(F.col("__bs") > max_bucket_size)
            .select("tbl", "sig")
        )
        big = cside.join(F.broadcast(over), ["tbl", "sig"], "left_semi")
        cside = cside.join(F.broadcast(over), ["tbl", "sig"], "left_anti")
        pside = pside.join(F.broadcast(over), ["tbl", "sig"], "left_anti")
        wo = Window.partitionBy("tbl", "sig").orderBy(F.col("id_b").asc())
        chained = big.select(
            F.col("id_b").alias("id_a"),
            F.lead("id_b").over(wo).alias("id_b"),
        ).where(F.col("id_b").isNotNull())
        if probe_filter is not None:
            # id_a must stay inside the probe set; with no filter the
            # probe IS the corpus, so the semi join would be a no-op
            # full-table pass — skip it
            chained = chained.join(
                probe.select(F.col(id_col).alias("id_a")),
                "id_a",
                "left_semi",
            )
    else:
        chained = None
    cand = (
        pside.join(cside, ["tbl", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if chained is not None:
        cand = cand.unionByName(chained)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    # exact fixed-point verify: vectors attach to the candidate pairs
    # only — two id-keyed joins against the base table (the pair list is
    # small; at scale the payload crosses the network once per side,
    # instead of T× through the bucket join)
    norm = F.sqrt(sq_norm_fxp(vec_col).cast("double"))
    ea = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm.alias("__na"),
    )
    eb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm.alias("__nb"),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            "cosine",
            dot_product_fxp_arrow("va", "vb").cast("double")
            / (F.col("__na") * F.col("__nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def centroid_per_label(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean vector per label via posexplode + group —
    the relational form of a vector aggregate. Output:
    (label, dim, centroid array<double>, centroid_norm).
    """
    longf = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "val"),
    )
    per_dim = longf.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("m")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("__pm"),
        )
        .select(
            "label",
            F.transform("__pm", lambda s: s["m"]).alias("centroid"),
        )
        .withColumn("dim", F.size("centroid"))
        .withColumn("centroid_norm", l2_norm("centroid"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al., "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011). The memory-compression ANN
# path: each vector is stored as n_sub one-byte codes instead of dim
# floats (64x compression at dim=64/n_sub=8), and search scores a query
# against the COMPRESSED corpus through per-subspace lookup tables
# (asymmetric distance computation, ADC) — the standard serving layout
# when 100 TB of raw embeddings can't stay resident.
#
# Engine-exact discipline: all geometry lives in e6 fixed point
# (round-half-away like _round_away / DuckDB round()), so subspace
# assignments (argmin with ties to the smaller code) and ADC sums are
# integer-exact and the DuckDB oracle replays codebook, encoding, and
# search bit-for-bit. Codewords are the sub-vectors of the n_codes
# smallest-id corpus rows (deterministic sampled codebook); production
# would refine them with per-subspace Lloyd iterations — the
# kmeans_centroids machinery above composes for that — at the cost of
# an unrolled-training oracle like the IVF one.
# ---------------------------------------------------------------------------


def pq_codebook(
    corpus: DataFrame,
    *,
    vec_col: str = "c_vec",
    id_col: str = "c_id",
    n_sub: int = 8,
    n_codes: int = 16,
):
    """(n_sub, n_codes, sub_dim) int64 e6 codebook from the ``n_codes``
    smallest-id corpus vectors — the persistable train artifact (the
    only driver materialization, n_codes rows; the IVF train/serve
    pattern)."""
    import numpy as np

    rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_codes)
        .select(F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    C = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    dim = C.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    ce6 = _round_away(C, 1e6)
    return ce6.reshape(n_codes, n_sub, dim // n_sub).transpose(1, 0, 2).copy()


def pq_encode(
    corpus: DataFrame,
    codebook,
    *,
    vec_col: str = "c_vec",
    id_col: str = "c_id",
) -> DataFrame:
    """Compress each vector to ``n_sub`` codes: per subspace, the
    codeword with the minimum integer squared L2 distance (first-min =
    smallest code id on ties). One narrow Arrow-batched pass — at scale
    this output (id + a few bytes) is what gets persisted; the raw
    vectors leave the serving path. Output: (c_id, codes array<int>)."""
    import numpy as np
    import pandas as pd

    cb = codebook
    n_sub, _, sub_dim = cb.shape

    def _enc(batches):
        for pdf in batches:
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Xe6 = _round_away(X, 1e6).reshape(len(pdf), n_sub, sub_dim)
            codes = np.empty((len(pdf), n_sub), dtype=np.int32)
            for m in range(n_sub):
                # (batch, n_codes) integer distances; argmin -> first min
                d = ((Xe6[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"c_id": pdf[id_col].astype("int64"), "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        _enc, "c_id bigint, codes array<int>"
    )


def pq_topk_l2(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_sub: int = 8,
    n_codes: int = 16,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k nearest (squared-L2, ascending) per query by PQ/ADC.

    Serve plan is fully relational and JVM-side: the corpus codes
    posexplode to (c_id, subspace, code); the query-side lookup tables
    (|queries| x n_sub x n_codes rows — tiny) broadcast-join on
    (subspace, code); one aggregate sums the per-subspace table entries
    into the ADC distance. No UDF touches the big side after encoding,
    and the only shuffle is the (q_id, c_id) aggregate.

    Output: (q_id, c_id, adist, rnk) — ``adist`` the exact integer ADC
    distance in e6^2 units, rnk by (adist asc, c_id asc).
    """
    import numpy as np
    import pandas as pd

    cb = pq_codebook(
        corpus, vec_col=c_vec, id_col=c_id, n_sub=n_sub, n_codes=n_codes
    )
    _, _, sub_dim = cb.shape
    codes = pq_encode(corpus, cb, vec_col=c_vec, id_col=c_id).select(
        F.col("c_id").alias(c_id), F.posexplode("codes").alias("m", "code")
    )

    def _lut(batches):
        for pdf in batches:
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[q_vec]])
            Xe6 = _round_away(X, 1e6).reshape(len(pdf), n_sub, sub_dim)
            # keyed by the PARAMETERIZED q_id name — mapInPandas matches
            # returned columns to the schema string by name
            out = {q_id: [], "m": [], "j": [], "lut": []}
            for i, qid in enumerate(pdf[q_id]):
                for m in range(n_sub):
                    d = ((Xe6[i, m][None, :] - cb[m]) ** 2).sum(-1)
                    out[q_id].extend([int(qid)] * len(d))
                    out["m"].extend([m] * len(d))
                    out["j"].extend(range(len(d)))
                    out["lut"].extend(int(x) for x in d)
            yield pd.DataFrame(out)

    lut = queries.select(q_id, q_vec).mapInPandas(
        _lut, f"{q_id} bigint, m int, j int, lut bigint"
    )
    ad = (
        codes.join(F.broadcast(lut), (codes.m == lut.m) & (codes.code == lut.j))
        .groupBy(q_id, c_id)
        .agg(F.sum("lut").alias("adist"))
    )
    if exclude_self:
        ad = ad.where(F.col(q_id) != F.col(c_id))
    w = Window.partitionBy(q_id).orderBy(F.col("adist").asc(), F.col(c_id).asc())
    return (
        ad.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, c_id, "adist", "rnk")
    )


def pq_topk_refined(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 100,
    n_sub: int = 8,
    n_codes: int = 16,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """PQ/ADC shortlist + exact re-rank (the standard ADC+refine
    serving pipeline): :func:`pq_topk_l2` ranks the compressed corpus
    and keeps the top ``shortlist`` per query; only those |q|·shortlist
    raw vectors are fetched for an exact integer squared-L2 re-rank —
    at 100 TB the raw-vector store is touched for a few hundred rows
    per query instead of the whole corpus. The re-rank distance is a
    JVM zip_with fold over e6 integers (no UDF), so it is exactly the
    quantity the oracle replays element-wise. Output: (q_id, c_id,
    dist, rnk) with ``dist`` the exact e6^2 squared L2 distance."""
    sl = pq_topk_l2(
        queries,
        corpus,
        k=shortlist,
        n_sub=n_sub,
        n_codes=n_codes,
        q_id=q_id,
        c_id=c_id,
        q_vec=q_vec,
        c_vec=c_vec,
        exclude_self=exclude_self,
    ).select(q_id, c_id)

    def _e6(col):
        return F.round(col.cast("double") * F.lit(1e6)).cast("long")

    dist = F.aggregate(
        F.zip_with(
            F.col(q_vec), F.col(c_vec), lambda a, b: (_e6(a) - _e6(b)) * (_e6(a) - _e6(b))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    x = (
        sl.join(F.broadcast(queries.select(q_id, q_vec)), q_id)
        .join(corpus.select(c_id, c_vec), c_id)
        .withColumn("dist", dist)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc(), F.col(c_id).asc())
    return (
        x.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, c_id, "dist", "rnk")
    )


def pq_codebook_lloyd(
    corpus: DataFrame,
    *,
    vec_col: str = "c_vec",
    id_col: str = "c_id",
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
) -> "object":
    """Refine the sampled PQ codebook with per-subspace Lloyd k-means —
    the production training step (Jégou et al. train each subquantizer
    with k-means; the sampled codebook is its deterministic init).

    Fully integer discipline, mirroring :func:`kmeans_centroids`: each
    iteration is ONE mapInPandas pass emitting per-(subspace, code)
    e6 partial sums and counts (≤ n_sub·n_codes rows per Arrow batch —
    the treeAggregate shape; the corpus never leaves the cluster), and
    the new codeword is the half-up rounded integer mean
    ``sign(s)·((2|s|+n) // 2n)`` — order- and partitioning-independent,
    so training is bit-deterministic and replayable by the pure-python
    reference in tests. Empty cells keep their previous codeword.
    Returns the refined (n_sub, n_codes, sub_dim) int64 e6 codebook,
    drop-in for :func:`pq_encode` / :func:`pq_topk_l2`."""
    import numpy as np
    import pandas as pd

    cb = pq_codebook(
        corpus, vec_col=vec_col, id_col=id_col, n_sub=n_sub, n_codes=n_codes
    )
    _, _, sub_dim = cb.shape
    vecs = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        cur = cb  # closure snapshot for this pass

        def _partials(batches, cur=cur):
            for pdf in batches:
                X = np.stack([np.asarray(v, np.float64) for v in pdf["v"]])
                Xe6 = _round_away(X, 1e6).reshape(len(pdf), n_sub, sub_dim)
                rows = []
                for m in range(n_sub):
                    d = ((Xe6[:, m, None, :] - cur[m][None]) ** 2).sum(-1)
                    code = np.argmin(d, axis=1)
                    for j in np.unique(code):
                        sel = Xe6[code == j, m, :]
                        rows.append(
                            (m, int(j), sel.sum(axis=0).tolist(), sel.shape[0])
                        )
                yield pd.DataFrame(rows, columns=["m", "j", "s_e6", "n"])

        combined = (
            vecs.mapInPandas(_partials, "m int, j int, s_e6 array<long>, n long")
            .select("m", "j", "n", F.posexplode("s_e6").alias("d", "s"))
            .groupBy("m", "j", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        nxt = cb.copy()
        for r in combined:
            s, n = int(r["s"]), int(r["n"])
            nxt[r["m"], r["j"], r["d"]] = (
                (1 if s >= 0 else -1) * ((2 * abs(s) + n) // (2 * n))
            )
        cb = nxt
    return cb


def semdedup(
    corpus: DataFrame,
    quantizer: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps_e6: int = 950_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning by
    clustering embeddings and comparing pairs only WITHIN each cluster —
    the published recipe for bounding all-pairs cosine at corpus scale
    (the paper runs 50k clusters over LAION; cluster count scales with
    the corpus so per-cluster pair work stays constant).

    Deterministic adaptation: assignment uses the pre-trained IVF
    quantizer (train/serve split, integer affinity scores — identical
    machinery to :func:`cosine_topk_ivf`, so the SAME unrolled-Lloyd SQL
    replays it), and the kept representative is the smallest id of each
    near-dup neighborhood (keep-first, like every dedup tier here)
    rather than the paper's RNG-seeded choice. A row is dropped iff some
    SMALLER-id row in its cluster has e6 fixed-point cosine ≥ eps_e6.

    Scale: the (cluster-bucketed) self-join shuffles both sides on cid
    once; the cluster assignment is localCheckpointed so the pandas-UDF
    scoring pass runs once, not once per join side (the simhash r5
    lesson). Cluster sizes and the drop list are cluster-count- /
    dup-count-sized.

    Output: (vec_id, cid, n_in_cluster, max_cos_e6 nullable, dropped).
    """
    from modeltracking_spark.functions.vector import dot_product_fxp, sq_norm_fxp

    rows = quantizer.orderBy("cid").collect()
    cents = [list(r["centroid"]) for r in rows]
    asg = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        _nearest_centroids(vec_col, cents, 1)[0].alias("cid"),
        F.sqrt(sq_norm_fxp(vec_col).cast("double")).alias("__n"),
    ).localCheckpoint()
    # Per-cluster pair scoring as ONE Arrow kernel (r8): the former
    # cid-self-join scored each pair through zip_with/aggregate lambdas
    # — higher-order expressions run interpreted, outside whole-stage
    # codegen, and dominated the bench (5.2 s at sf0.1). The kernel
    # replays the IDENTICAL integer arithmetic (per-term half-away
    # rounding at 1e12, fxp sqrt norms, floor(cos*1e6+0.5)) in blocked
    # numpy, so the oracle's SQL replay still matches bit-for-bit —
    # pinned by the unchanged semdedup_embeddings hash at both SFs.
    # Same shuffle shape as before: one hash partition on cid.
    def _drops_fn(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"b_id": np.array([], dtype=np.int64),
                                 "max_cos_e6": np.array([], dtype=np.int64)})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        X = np.stack([
            np.asarray(v, dtype=np.float64)
            for v in pdf["v"].iloc[order]
        ])
        nrm = np.sqrt(_round_away(X * X, 1e12).sum(axis=1).astype(np.float64))
        best = np.full(m, np.iinfo(np.int64).min, dtype=np.int64)
        for lo in range(0, m, 64):  # block the a-side: O(64*m*d) temp
            hi = min(lo + 64, m)
            prods = X[lo:hi, None, :] * X[None, :, :]
            dots = _round_away(prods, 1e12).sum(axis=2)
            denom = nrm[lo:hi, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0, 0.0, dots / np.where(denom == 0, 1.0, denom))
            e6 = np.floor(cos * 1e6 + 0.5).astype(np.int64)
            for ai in range(lo, hi):
                js = np.arange(ai + 1, m)
                if len(js):
                    row = e6[ai - lo, js]
                    np.maximum.at(best, js, row)
        keep = best >= eps_e6
        return pd.DataFrame({
            "b_id": ids[keep].astype(np.int64),
            "max_cos_e6": best[keep],
        })

    # (r16 note: pinning this exchange at the shuffle width to defeat
    # AQE byte coalescing was tried and measured NEUTRAL-to-slower in
    # same-JVM pairing — the per-cluster kernel is light enough that
    # task fan-out costs more than the single coalesced task; left on
    # the AQE default.)
    drops = (
        asg.select("cid", "vec_id", "v")
        .groupBy("cid")
        .applyInPandas(_drops_fn, "b_id bigint, max_cos_e6 bigint")
    )
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n_in_cluster"))
    return (
        asg.select("vec_id", "cid")
        .join(F.broadcast(sizes), "cid")
        .join(drops, asg.vec_id == drops.b_id, "left")
        .select(
            "vec_id",
            "cid",
            "n_in_cluster",
            "max_cos_e6",
            F.col("max_cos_e6").isNotNull().alias("dropped"),
        )
    )


def pca_top_component(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
) -> DataFrame:
    """Top principal component by POWER ITERATION, trained in-engine —
    the dimensionality-reduction step (whitening, PCA-based dedup
    projections, spectral probes) expressed with the Lloyd/PageRank
    determinism playbook so the WHOLE training replays in SQL:

    - the covariance matrix C is a distributed aggregate of per-row
      e6-floored centered products (BIGINT sums — order-independent;
      means derive from exact e6 integer sums);
    - each iteration is integer C·v (int64-exact: |C|≲2e10 · |v|≤1e6 ·
      64 terms < 2^63), then a normalization whose norm uses
      floor(w/2^32) integer squares (order-independent BIGINT sum)
      and whose division runs in mirrored double expressions;
    - v₀ = e6·e₀, so the sign convention is fixed and deterministic.

    The only driver materialization is the dim×dim C (64×64 = 4096
    ints — the IVF-centroid class of sanctioned collect); the corpus
    never leaves the cluster. At 100 TB the pair explode (dim² rows per
    vector) would move into a mapInPandas partial-sum pass like the
    k-means trainer; the relational form here is what the oracle
    replays term-for-term.

    Output: (dim_idx, loading_e6) — the e6 fixed-point unit loadings.
    """
    import math

    x = corpus.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(
                vec_col, lambda v: F.round(v.cast("double") * 1e6).cast("long")
            )
        ).alias("i", "x_e6"),
    )
    means = x.groupBy("i").agg(
        F.sum("x_e6").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    mu = F.col("sx").cast("double") / F.col("n").cast("double") / F.lit(1e6)
    mi = means.select(F.col("i"), mu.alias("mu_i"))
    mj = means.select(F.col("i").alias("j"), mu.alias("mu_j"))
    a = x.select("vid", F.col("i"), F.col("x_e6").alias("xi"))
    b = x.select(F.col("vid").alias("vid2"), F.col("i").alias("j"),
                 F.col("x_e6").alias("xj"))
    term = F.floor(
        (F.col("xi").cast("double") / F.lit(1e6) - F.col("mu_i"))
        * (F.col("xj").cast("double") / F.lit(1e6) - F.col("mu_j"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    cov = (
        a.join(b, a.vid == b.vid2)
        .join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .groupBy("i", "j")
        .agg(F.sum(term).alias("c"))
    )
    rows = cov.collect()
    dim = max(r["i"] for r in rows) + 1
    C = [[0] * dim for _ in range(dim)]
    for r in rows:
        C[r["i"]][r["j"]] = r["c"]
    v = [1_000_000] + [0] * (dim - 1)
    for _ in range(iters):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        wd = [math.floor(float(wi) / 4294967296.0) for wi in w]
        norm_sq = sum(d * d for d in wd)
        if norm_sq == 0:
            # every |w_i| < 2^32: a tiny / near-zero covariance gives the
            # truncated iterate no mass — keep the previous v rather than
            # divide by zero (the e0-seeded v is still a unit loading)
            continue
        norm = math.sqrt(float(norm_sq)) * 4294967296.0
        v = [math.floor(float(wi) / norm * 1e6 + 0.5) for wi in w]
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, v[i]) for i in range(dim)], "dim_idx int, loading_e6 long"
    )
