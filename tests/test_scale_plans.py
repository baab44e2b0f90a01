"""100 TB-posture plan assertions (SURVEY.md §4, VERDICT r2 item 10):
filters/projections reach the parquet scan, dimension joins broadcast,
nothing falls back to a cartesian product, windows stay partitioned."""

import pyspark.sql.functions as F

from modeltracking_spark.fixtures import hycom_grid_fixture
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.plans import (
    assert_no_cartesian,
    assert_pruned_schema,
    assert_pushed_filter,
    executed_plan,
    has_broadcast_join,
)
from modeltracking_spark.queries.timegeo import synthetic_track
from tests.conftest import SF001


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    q = li.where(F.col("l_quantity") >= 49.0).select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    assert_pushed_filter(q, "GreaterThanOrEqual(l_quantity")
    # scan must read only the 4 referenced columns, not all 11
    assert_pruned_schema(
        q,
        must_have=["l_quantity", "l_returnflag"],
        must_not_have=["l_extendedprice", "l_shipdate"],
    )


def test_profile_plan_broadcasts_track_no_cartesian(spark):
    prof = profile_along_track(
        synthetic_track(spark), hycom_grid_fixture(spark), "water_temp"
    )
    assert has_broadcast_join(prof)             # tiny track side broadcast
    assert_no_cartesian(prof)                   # never a cross product
    assert "HashAggregate" in executed_plan(prof)  # map-side-combinable IDW


def test_dim_join_broadcasts(spark):
    o = spark.read.parquet(f"{SF001}/orders.parquet")
    n = spark.read.parquet(f"{SF001}/nation.parquet")
    j = o.join(F.broadcast(n), o.o_custkey % 25 == n.n_nationkey)
    assert has_broadcast_join(j)


def test_winnow_is_shuffle_free(spark):
    # fingerprinting is a narrow map: no Exchange anywhere in the plan
    from modeltracking_spark.operators.textops import winnow_fingerprints

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = executed_plan(winnow_fingerprints(d))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the final explode only


def test_minhash_expansion_partitions_clusters(spark):
    # the set-collapse pipeline must keep the quadratic member expansion
    # behind a repartition (no single-task mega-explode) and never fall
    # back to a cartesian product
    from modeltracking_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    q = minhash_dedup_pairs(d, "doc_id", "text")
    assert_no_cartesian(q)
    plan = executed_plan(q)
    assert "hashpartitioning(x#" in plan or "hashpartitioning(x" in plan


def test_window_stays_partitioned(spark):
    # per-key windows must not collapse to a single global partition
    from pyspark.sql import Window

    from modeltracking_spark.schemas import load_table

    e = load_table(spark, SF001, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    q = e.withColumn("rn", F.row_number().over(w))
    plan = executed_plan(q)
    assert "user_id" in plan
    assert "SinglePartition" not in plan


def test_pack_chunk_single_shuffle_on_bucket(spark):
    # packing shuffles exactly once, on the bucket key — never a global
    # single-partition window (the serialize-at-100TB trap)
    from modeltracking_spark.operators.packing import pack_chunk

    d = spark.read.parquet(f"{SF001}/documents.parquet").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("n_tok")
    )
    q = pack_chunk(d, "doc_id", "n_tok", "source", 512)
    plan = executed_plan(q)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_hash_split_is_shuffle_free(spark):
    from modeltracking_spark.operators.sampling import hash_split

    d = spark.read.parquet(f"{SF001}/documents.parquet").select("doc_id")
    plan = executed_plan(hash_split(d, "doc_id"))
    assert "Exchange" not in plan


def test_simhash_single_shuffle(spark):
    # the narrow per-doc bit-vote fold: ONE keyed Exchange (the bit-sum
    # groupBy), no 63x per-bit explode amplification (VERDICT r3 item 4).
    # r16: token_ids may additionally widen an under-split scan with one
    # ROUND-ROBIN exchange (a no-op on already-parallel inputs) — the
    # scale invariant is the single hash exchange, so count that.
    from modeltracking_spark.operators.dedup import simhash64, token_ids

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = executed_plan(simhash64(token_ids(d, "doc_id", "text")))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") - plan.count("Exchange RoundRobin") == 1
    # the bit votes are codegen sums, not an interpreted per-token fold
    assert "aggregate(" not in plan


def test_chunk_and_quantize_are_shuffle_free(spark):
    # both are pure narrow maps: sequence/posexplode + substr/arithmetic,
    # no Exchange at any corpus scale
    from modeltracking_spark.operators.corpus import (
        chunk_documents,
        quantize_embeddings_int8,
    )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    assert "Exchange" not in executed_plan(chunk_documents(d))
    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    assert "Exchange" not in executed_plan(quantize_embeddings_int8(e))


def test_tfidf_broadcasts_small_sides(spark):
    # doc-frequency / N sides come back as broadcasts; the only wide op
    # is the (doc, term) count — no cartesian anywhere
    from modeltracking_spark.operators.corpus import tfidf_top_terms

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    q = tfidf_top_terms(d)
    assert has_broadcast_join(q)
    assert_no_cartesian(q)


def test_heavy_hitters_verify_join_broadcasts(spark):
    # phase-2 semi-join against the candidate set must broadcast the
    # (bounded, partitions x sketch_k) candidates, not shuffle the corpus
    from modeltracking_spark.operators.corpus import heavy_hitters

    d = spark.read.parquet(f"{SF001}/documents.parquet").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    q = heavy_hitters(d, "tok", phi_denom=32, sketch_k=255)
    plan = executed_plan(q)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_simhash_neardup_no_cartesian(spark):
    # band-bucketed candidate join — never an all-pairs cross product
    from modeltracking_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
        token_ids,
    )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    fps = simhash64(token_ids(d, "doc_id", "text"))
    assert_no_cartesian(simhash_neardup_pairs(fps, max_hamming=3))


def test_bloom_decontaminate_broadcasts_and_single_probe_shuffle(spark):
    """The 100 TB side (probe grams) must stream through row-preserving
    BROADCAST joins — no sort-merge, no cartesian — and shuffle only for
    its own dedup + the final per-doc aggregate."""
    from modeltracking_spark.operators.corpus import bloom_decontaminate

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = bloom_decontaminate(d, bench_pred=F.col("doc_id") % 100 == 0)
    plan = executed_plan(out)
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(out)
    assert has_broadcast_join(out)


def test_unigram_logprob_broadcasts_lm(spark):
    """The vocabulary-sized LM side must broadcast; the corpus side is
    explode + join + one aggregate with no sort-merge join."""
    from modeltracking_spark.operators.corpus import unigram_logprob

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = unigram_logprob(d)
    plan = executed_plan(out)
    assert "SortMergeJoin" not in plan
    assert has_broadcast_join(out)


def test_salted_join_query_plan(spark):
    """The scored skew query: join keys must include the salt (hot-key
    spread over n_salts reducer partitions) and nothing may fall back to
    a cartesian product."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    out = qs["skew_salted_join_events"](spark, SF001)
    plan = executed_plan(out)
    assert "__salt" in plan
    assert_no_cartesian(out)


def test_bmp_decode_is_shuffle_free(spark):
    """Encode + decode are narrow mapInPandas stages — no HASH exchange
    ever; the only exchange allowed is widen_for_kernel's single
    round-robin on under-split local inputs (no-op at scale, see
    test_compressed_codec_paths_are_shuffle_free)."""
    from modeltracking_spark.operators.multimodal import (
        attach_bmp_payload,
        decode_image_features,
    )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = decode_image_features(attach_bmp_payload(d), fake=False)
    plan = executed_plan(out)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") == 1
    assert_no_cartesian(out)


def test_y4m_decode_is_shuffle_free(spark):
    """Video encode + decode are narrow mapInPandas stages — same
    no-repartition posture as the BMP path."""
    from modeltracking_spark.operators.multimodal import (
        attach_y4m_payload,
        decode_video_stats,
    )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = decode_video_stats(attach_y4m_payload(d))
    plan = executed_plan(out)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") == 1
    assert_no_cartesian(out)


def test_segment_dedup_rewrite_plan(spark):
    """Keep-first scrub: the window rank must hash-partition on the
    segment hash (no single-partition window), and the doc spine join
    must not become a cartesian product."""
    from modeltracking_spark.operators.corpus import segment_dedup_rewrite

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = segment_dedup_rewrite(d, size=64)
    plan = executed_plan(out)
    assert "hashpartitioning(h" in plan
    assert "SinglePartition" not in plan
    assert_no_cartesian(out)


def test_temperature_sample_broadcasts_thresholds(spark):
    """The stratum-threshold side is stratum-cardinality-sized — it must
    broadcast onto the narrow filter, never shuffle the full corpus."""
    from modeltracking_spark.operators.sampling import temperature_sample

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = temperature_sample(d, "doc_id", "source", alpha=0.5, target_rows=100)
    assert has_broadcast_join(out)
    assert_no_cartesian(out)


def test_gopher_rules_is_shuffle_free(spark):
    """The rule filter is a pure projection — verdict + bitmask must
    compile to one codegen stage with zero exchanges."""
    from modeltracking_spark.operators.textops import gopher_rules

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = executed_plan(gopher_rules(d))
    assert "Exchange" not in plan


def test_curation_pipeline_plan(spark):
    """The composed pipeline must stay the union of its parts: no
    cartesian products, the rule filter fused into the scan side (no
    extra shuffle before the survivor join), and the dedup stages
    window-partitioned (no single-partition window)."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    out = qs["curation_pipeline_docs"](spark, SF001)
    plan = executed_plan(out)
    assert_no_cartesian(out)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(chunk_text" in plan or "hashpartitioning(h" in plan
    assert "hashpartitioning(dedup_md5" in plan


def test_bigram_logprob_lm_join_is_not_broadcast(spark):
    """The bigram LM is vocab²-bounded (corpus-sized in practice) — the
    pair-grain join on (x, y) must be a shuffle hash join; only the
    unigram/total sides broadcast."""
    from modeltracking_spark.operators.corpus import bigram_logprob

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = bigram_logprob(d)
    plan = executed_plan(out)
    assert_no_cartesian(out)
    assert has_broadcast_join(out)  # unigram + scalar sides
    # the (x, y) scored join shuffles both sides on the pair key
    assert "hashpartitioning(x" in plan


def test_incremental_neardup_broadcasts_delta_no_corpus_selfjoin(spark):
    """The delta side (bands + token sets) must broadcast; nothing may
    fall back to a cartesian product; the corpus appears on the streamed
    side only (no corpus-bands self-join)."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    out = qs["incremental_neardup_docs"](spark, SF001)
    assert has_broadcast_join(out)
    assert_no_cartesian(out)


def test_bm25_broadcasts_query_side(spark):
    """BM25: the query set, query vocabulary, df table and corpus stats
    are all broadcast-sized — the corpus tf side must never re-shuffle
    by q_id, and the rank window partitions by q_id."""
    from modeltracking_spark.operators.retrieval import bm25_topk, queries_from_docs

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = bm25_topk(d, queries_from_docs(d))
    plan = executed_plan(out)
    assert has_broadcast_join(out)
    assert "hashpartitioning(q_id" in plan       # rank window partitioned
    assert "CartesianProduct" not in plan


def test_dsir_score_window_stays_partitioned(spark):
    """DSIR: the doc-score rank must run under the two-pass bucket
    decomposition — the full-table window hash-partitions on the coarse
    score bucket; only the bounded bucket-offset table may serialize."""
    from modeltracking_spark.operators.corpus import dsir_logratio

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = dsir_logratio(d, F.col("lang") == "en")
    plan = executed_plan(out)
    assert "hashpartitioning(__b" in plan
    assert_no_cartesian(out)
    assert has_broadcast_join(out)               # 1024-row LM broadcast


def test_rolling_wau_joins_bounded_spine(spark):
    """The 7-day rolling-distinct join must pair the (user, day) rollup
    with the BOUNDED day spine (broadcast nested-loop on the lag range
    is right — the spine is day-cardinality), never a cartesian of raw
    events."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    out = qs["rolling_active_users_events"](spark, SF001)
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_compressed_codec_paths_are_shuffle_free(spark):
    """Round-7 compressed codecs (baseline JPEG grey + 4:2:0 color,
    PNG, G.711 mu-law) all run as narrow mapInPandas encode+decode
    chains — payload bytes never cross a HASH exchange. The only
    exchange ever allowed is widen_for_kernel's single ROUND-ROBIN
    repartition on under-split inputs (one local parquet file); on an
    already-wide scan the widen is a no-op and the plan carries NO
    exchange at all (the 100 TB case)."""
    from modeltracking_spark.operators.multimodal import (
        attach_adpcm_payload,
        attach_g711_payload,
        attach_gif_animation_payload,
        attach_gif_payload,
        attach_jpeg_color_payload,
        attach_jpeg_payload,
        attach_jpeg_progressive_payload,
        attach_png_payload,
        decode_audio_stats,
        decode_image_features,
        gif_frame_stats,
    )

    def chains(d):
        return (
            decode_image_features(attach_jpeg_payload(d), fake=False),
            decode_image_features(attach_jpeg_color_payload(d), fake=False),
            decode_image_features(attach_png_payload(d), fake=False),
            decode_image_features(attach_gif_payload(d), fake=False),
            decode_image_features(
                attach_jpeg_progressive_payload(d), fake=False
            ),
            gif_frame_stats(attach_gif_animation_payload(d)),
            decode_audio_stats(attach_g711_payload(d)),
            decode_audio_stats(attach_adpcm_payload(d)),
        )

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    assert d.rdd.getNumPartitions() == 1  # the under-split local case
    for out in chains(d):
        plan = executed_plan(out)
        assert "Exchange hashpartitioning" not in plan
        # exactly ONE widen: the attach widens, the decode's is a no-op
        assert plan.count("RoundRobinPartitioning") == 1
        assert_no_cartesian(out)

    # already-wide scan (the at-scale shape): widen is a no-op — the
    # whole chain is exchange-free
    mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
        wide = spark.read.parquet(f"{SF001}/documents.parquet")
        assert (
            wide.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism
        )
        plan = executed_plan(
            decode_image_features(attach_png_payload(wide), fake=False)
        )
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)


def test_dup_span_scrub_plan_scales(spark):
    """r8 ExactSubstr-style span scrub: no cartesian/nested-loop join
    and no window operator — the interval fold and rewrite are pure
    array expressions after the joins. The operator never FORCES a
    broadcast: with the broadcast threshold disabled (the at-scale
    situation, where the gram-count table is corpus-sized) the whole
    plan degrades to shuffled joins and still executes; at tiny SF the
    planner is free to broadcast the small aggregate."""
    from modeltracking_spark.operators.corpus import dup_span_scrub

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = executed_plan(dup_span_scrub(d, k=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = executed_plan(dup_span_scrub(d, k=8))
        assert "BroadcastHashJoin" not in big
        assert "CartesianProduct" not in big
        # the corpus-scale gram aggregate shuffles on the gram hash
        assert "hashpartitioning(h" in big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_blocklist_scan_is_narrow_and_ewma_single_shuffle(spark):
    """r8 additions' plan posture: the Aho-Corasick scan is a
    shuffle-free narrow map until the (broadcast) keyword join; the
    EWMA fold carries exactly one hash exchange (the per-key groupBy) —
    no window operator, no global sort."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.aggregates import ewma_by_key
    from modeltracking_spark.operators.textops import blocklist_match_counts

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan_bl = executed_plan(
        blocklist_match_counts(d, ["table table", "fast key"])
    )
    final_bl = plan_bl.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final_bl
    assert "BroadcastHashJoin" in final_bl  # the tiny keyword table

    ev = spark.read.parquet(f"{SF001}/events.parquet")
    plan_ew = executed_plan(
        ewma_by_key(ev, "user_id", "ts", "event_id",
                    F.round(F.col("value") * 100).cast("long"))
    )
    final_ew = plan_ew.split("== Initial Plan ==")[0]
    assert final_ew.count("Exchange hashpartitioning") == 1
    assert "Window" not in final_ew
    assert "CartesianProduct" not in final_ew


def test_lz4_and_nfc_are_shuffle_free_narrow_maps(spark):
    """r9 additions' plan posture: the LZ4 roundtrip kernel and the NFC
    normalize UDF are pure narrow maps — no exchange, no join, no
    window; the parquet scan reads only (doc_id, text)."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.lz4 import lz4_roundtrip_stats
    from modeltracking_spark.operators.textops import nfc_normalize_col

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    plan_lz = executed_plan(
        lz4_roundtrip_stats(
            d.select("doc_id", F.col("text").alias("payload"))
        )
    )
    final_lz = plan_lz.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final_lz
    assert final_lz.count("RoundRobinPartitioning") <= 1  # widen only
    assert "Join" not in final_lz and "Window" not in final_lz
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in final_lz

    plan_nfc = executed_plan(
        nfc_normalize_col(d.select("doc_id", "text"))
    )
    final_nfc = plan_nfc.split("== Initial Plan ==")[0]
    assert "Exchange" not in final_nfc
    assert "ArrowEvalPython" in final_nfc  # Arrow-batched, not per-row

    from modeltracking_spark.operators.snappy import snappy_roundtrip_stats

    plan_sn = executed_plan(
        snappy_roundtrip_stats(
            d.select("doc_id", F.col("text").alias("payload"))
        )
    )
    final_sn = plan_sn.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final_sn
    assert final_sn.count("RoundRobinPartitioning") <= 1  # widen only
    assert "Join" not in final_sn and "Window" not in final_sn


def test_orc_readback_prunes_partitions_and_cdc_kmv_shapes(spark):
    """ORC partitioned sink: the status filter on read-back must be a
    PartitionFilter (directory elimination), never a row filter over
    all partitions. CDC: chunking is a narrow map; sharing is ONE
    chunk-grain aggregate + join-back, no cartesian. KMV: the pair
    combinator broadcasts the bounded sketch table."""
    import os
    import tempfile

    from modeltracking_spark.operators.cdc import cdc_shared_chunk_stats
    from modeltracking_spark.operators.sketches import (
        kmv_pair_estimates,
        kmv_sketch,
    )

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "orc")
        orders = spark.read.parquet(f"{SF001}/orders.parquet")
        orders.write.partitionBy("o_orderstatus").orc(path)
        q = spark.read.orc(path).where(F.col("o_orderstatus") == "F")
        plan = executed_plan(q)
        assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
        assert "(o_orderstatus" in plan.split("PartitionFilters")[1][:120]

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    stats = cdc_shared_chunk_stats(docs, text_col="text")
    assert_no_cartesian(stats)
    plan = executed_plan(stats)
    assert "HashAggregate" in plan  # chunk-grain partial agg combines

    sk = kmv_sketch(spark.read.parquet(f"{SF001}/events.parquet"),
                    "user_id", "event_type", k=64)
    pairs = kmv_pair_estimates(sk, k=64)
    plan = executed_plan(pairs)
    # inequality pair condition can't hash-join: the right shape is a
    # BROADCAST nested-loop over the bounded sketch table, and the
    # rank<=k prunes partially BEFORE the group exchange
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


def test_no_unbounded_driver_collect_sites():
    """Every .collect() / .toPandas() in the package must be a
    known-bounded site (k centroids, kxdim sums, 64x64 covariance,
    bloom bitset words, per-type foreachBatch state, the sanctioned
    plot feeders). VERDICT r9 item 4 removed the last two full-table
    fixture collects (WARC/Avro shard builders now write partition-
    parallel via foreachPartition); this lint keeps new unbounded
    sites from sneaking in — adding one requires consciously
    extending the allowlist WITH its bound."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "modeltracking_spark"
    allow = {
        # file -> {lineno set} with the bound documented here
        "operators/tokenizer.py": "pruned/top-k word counts (vocab-bounded)",
        "operators/bloomjoin.py": "bloom bitset words (m/64 longs)",
        "operators/similarity.py": "k centroids / kxdim sums / 64x64 cov",
        "plotting.py": "sanctioned figure feeders (top-25 profile rows)",
        "queries/stream_q.py": "foreachBatch per-type state (|types| rows)",
        "queries/sim_q.py": "k centroids / 8-vector demo probe",
        "operators/dicttrain.py": "top-`candidates` segment rows (bounded)",
        "queries/extras_q.py":
            "arrowfile fixture shard receipts (n_files rows)",
        "operators/profile.py":
            "one single track's snapped points (track-sized; a fleet "
            "profiles with track_col and collects nothing)",
    }
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        tree = ast.parse(path.read_text(), filename=rel)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                if rel not in allow:
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "unbounded-collect lint: new .collect()/.toPandas() sites need "
        f"an allowlist entry with their bound: {offenders}"
    )


def test_round10_codec_queries_are_shuffle_free_narrow_maps(spark):
    """The r10 roundtrip kernels (dict-zstd, nested Avro, BCJ xz, pax
    tar, brotli) must stay single-stage Arrow maps over the scan — no
    exchange anywhere; at 100x data they scale linearly with input
    splits."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    for name in ("zstd_dict_roundtrip_docs", "avro_nested_scan_docs",
                 "xz_bcj_roundtrip_docs", "brotli_roundtrip_docs",
                 "avro_codec_matrix_docs", "zlib_fdict_roundtrip_docs"):
        plan = executed_plan(qs[name](spark, SF001))
        # the only exchange allowed is widen_for_kernel's RoundRobin
        # under-split guard (itself plan-asserted to no-op on wide
        # scans); no hash/range shuffle may appear
        assert "hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "RoundRobinPartitioning" in line, (name, line)
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name
        assert_no_cartesian(qs[name](spark, SF001))


def test_round10_parallel_scan_partitioning(spark):
    """The frame/block/stream-parallel sources must expose one
    partition per decode unit and plan as a pure BatchScan -> project
    (no exchange): the single-archive parallelism claim, pinned."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    for name, units in (
        ("zstd_seekable_scan_docs", 4 * 5),   # 4 shards x 5 frames
        ("xz_indexed_scan_docs", 3 * 7),      # 3 shards x 7 blocks
        ("bz2_multistream_scan_docs", 4 * 5),
    ):
        df = qs[name](spark, SF001)
        assert df.rdd.getNumPartitions() == units, name
        plan = executed_plan(df)
        assert "Exchange" not in plan, name
        assert "BatchScan" in plan, name


# -- round 12: registry-wide partition-less window pin ---------------

#: partition-less windows over tables whose cardinality is FIXED by the
#: algorithm, not the data — each site carries a bound comment in its
#: query source (VERDICT r11 adjudicated these acceptable):
#:   classifier_eval_suite   — per-distinct-score table, <= 1e6+1 rows
#:                             by e6 fixed-point construction
#:   deterministic_shuffle_docs / dsir_select_docs — cumulative window
#:                             over the BOUNDED bucket-offset table
#:                             (sampling.py:195 two-pass rank)
#:   zorder_layout_grid      — rank over the bounded distinct-cell set
#:   hist_quantiles_events / winsorize_events — cumulative window over
#:                             the fixed 64-bin histogram table
#:   track_resample_arclength — windows over ONE 80-point track
#:                             (single-track bound, profile.py:175 is
#:                             the fleet-scale variant)
BOUNDED_WINDOW_SITES = {
    "classifier_eval_suite",
    "deterministic_shuffle_docs",
    "dsir_select_docs",
    "zorder_layout_grid",
    "hist_quantiles_events",
    "winsorize_events",
    "track_resample_arclength",
}


def test_no_partitionless_window_over_full_table_in_plans_corpus(spark):
    """VERDICT r11 item 1: sweep the live executed plan of every
    ``PRIORITY`` query (the track×grid pipeline) for ``Window`` nodes
    that have no partition spec AND no limit operator below them — the
    all-rows-to-one-task sort shape that killed the old positional-zip
    arm.  Only the declared bounded-by-construction sites may carry
    one."""
    from modeltracking_spark.plans.audit import partitionless_full_windows
    from modeltracking_spark.queries import PRIORITY, load_registries

    qs, _ = load_registries()
    offenders = {}
    for name in PRIORITY:
        bad = partitionless_full_windows(executed_plan(qs[name](spark, SF001)))
        if bad and name not in BOUNDED_WINDOW_SITES:
            offenders[name] = bad
    assert not offenders, (
        "partition-less full-table Window nodes outside the declared "
        f"bounded sites: {offenders}"
    )


def test_topk_zip_arm_windows_are_limit_bounded(spark):
    """The positional-zip arm must rank AFTER orderBy().limit(100)
    (TakeOrderedAndProject feeds the window), never window the full
    orders table — live-plan pin of the r12 fix, independent of
    PLANS.md freshness."""
    from modeltracking_spark.plans.audit import partitionless_full_windows
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    plan = executed_plan(qs["topk_lineitems_per_order"](spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert partitionless_full_windows(plan) == [], plan
