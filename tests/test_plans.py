"""Physical-plan regression tests — lock in the PLANS.md claims.

A plan that silently regresses (lost pushdown, a new shuffle, a join
degenerating to a product) passes value-level tests while destroying
100 TB viability; these assertions catch that class of regression.
"""

from __future__ import annotations

import pytest

from better_cdc_spark.queries import load_all
from tests.conftest import SF_SMOKE

REGISTRY = load_all()


def plan_of(spark, name):
    # default metadata string cap (100) elides PushedFilters/ReadSchema
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_scan_pushes_filters_and_prunes_columns(spark):
    plan = plan_of(spark, "q01_parquet_scan")
    assert "PushedFilters: [" in plan and "GreaterThan(l_extendedprice" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema  # pruned
    assert all(c in read_schema for c in
               ("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"))


def test_q25_dimensions_are_broadcast(spark):
    plan = plan_of(spark, "q25_broadcast_join")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_q25b_bucketed_join_has_no_exchange(spark):
    plan = plan_of(spark, "q25b_bucketed_join")
    join_subtree = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_subtree, "bucketed join must not shuffle"


def test_q98_text_stats_is_shuffle_free(spark):
    plan = plan_of(spark, "q98_text_stats")
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "name",
    ["q96_minhash_lsh", "q96_simhash", "q96i_simhash_portable",
     "q96_ngram_jaccard", "q94_curation_pipeline",
     "q98y_quality_gate_kappa"],
)
def test_similarity_kernels_never_plan_product_joins(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q97t_retrieval_eval", "q97u_rrf_fusion"])
def test_retrieval_eval_bnlj_only_on_bounded_broadcast_sides(spark, name):
    """The retrieval-eval/fusion plans inherit q97h's 1-row stats
    cross-join and the cosine leg's tiny-probe broadcast scan — both
    DOCUMENTED bounded-broadcast BNLJs (the scalar-subquery plan). The
    pin here: no CartesianProduct ever, and every BNLJ is the broadcast
    flavor (a bounded side), never an unbroadcast product."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan


def test_q96e_tfidf_verify_is_sparse(spark):
    """The round-4 form densified docs x vocab via crossJoin — a
    scale-killer at web-corpus vocabulary sizes. The verify must keep
    the whole plan free of product joins (the corpus-size scalar is
    folded in as a literal, so there is no 1-row BNLJ either). The r8
    dense FAST PATH carries a |vocab|-length in-row vector per doc, but
    only below the TFIDF_DENSE_VOCAB_MAX gate (≤4096 terms, ≤32 KB/row)
    — above it the per-doc aggregates are sized by each doc's own
    terms; neither representation introduces a product join."""
    plan = plan_of(spark, "q96e_tfidf_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r10: term ids come from a broadcast (term, tid) dimension, not an
    # array_position scan over a vocab-sized plan literal — the plan
    # must stay free of that linear probe (and its 4096-element blob).
    assert "array_position" not in plan


def test_windowed_sink_dedup_read_prunes_partitions(spark, tmp_path):
    """q87b / CDCStreamPipeline bounded dedup window: the per-epoch
    anti-join source is a commit_bucket-filtered read of the
    bucket-partitioned sink. The filter must resolve at file-listing time
    (hive partition pruning) — the executed scan reads ONLY the in-window
    partitions, so dedup IO is O(batch window) regardless of sink size."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "bucketed_sink")
    df = spark.range(60).select(
        F.col("id").alias("event_id"), (F.col("id") % 6).alias("commit_bucket")
    )
    df.write.partitionBy("commit_bucket").parquet(out)

    rd = spark.read.parquet(out).filter(F.col("commit_bucket").isin([2, 3]))
    rd.collect()
    jplan = rd._jdf.queryExecution().executedPlan()
    assert "PartitionFilters: [commit_bucket" in jplan.toString()
    scan = jplan.collectLeaves().apply(0)
    assert scan.getClass().getName().endswith("FileSourceScanExec")
    # Hard IO evidence: 2 of 6 hive partitions touched, not the whole sink.
    assert scan.metrics().apply("numPartitions").value() == 2


def test_pgoutput_decode_has_no_global_sort_or_window(spark):
    """The distributed pgoutput decoder must not smuggle in a global
    ordering: no Window operator, no single-partition Exchange, and the
    tx-context carry joins as a broadcast (one tiny row per chunk)."""
    from better_cdc_spark.cdc.pgoutput import (
        RelationInfo, decode_pgoutput, encode_begin, encode_commit,
        encode_insert, encode_relation,
    )
    from pyspark.sql import types as T

    rel = RelationInfo(16500, "public", "t", ("id",), (20,), (1,))
    msgs = [(1, encode_relation(rel)), (2, encode_begin("0/10", 0, 1))]
    msgs += [(i, encode_insert(rel.relid, [("t", str(i).encode())])) for i in range(3, 40)]
    msgs.append((40, encode_commit("0/10", 1)))
    df = spark.createDataFrame(
        msgs,
        schema=T.StructType([
            T.StructField("seq", T.LongType(), False),
            T.StructField("msg", T.BinaryType(), False),
        ]),
    )
    out = decode_pgoutput(spark, df, chunk_rows=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # the carry fill
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_partially_aggregate(spark):
    from better_cdc_spark import llmops
    from better_cdc_spark.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = llmops.minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    # partial_min on the map side → the shuffle carries pre-reduced rows
    assert "partial_min" in plan


def test_lsh_candidates_compute_signatures_once(spark):
    """The band self-join must read materialized band keys, not re-run the
    explode→hash→64-lane-min signature pipeline per join side."""
    from better_cdc_spark import llmops
    from better_cdc_spark.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    cands = llmops.minhash_candidate_pairs(docs, "doc_id")
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert plan.count("xxhash64") <= 1, "signature pipeline duplicated per join side"


def test_q28b_interval_bucket_join_avoids_nested_loop(spark):
    plan = plan_of(spark, "q28b_interval_bucket_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q44_sessionize_single_exchange(spark):
    plan = plan_of(spark, "q44_sessionize")
    import re
    # \bExchange\b never matches inside "ReusedExchange" (no word
    # boundary after "Reused"), so count real exchanges directly
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    assert n_exchange == 1, f"expected one exchange, plan has {n_exchange}"


def test_q05_partitioned_read_prunes_partitions(spark, tmp_path):
    """Reading one o_orderstatus partition must scan only that directory."""
    from pyspark.sql import functions as F
    from better_cdc_spark.io import load_table

    out = str(tmp_path / "orders")
    load_table(spark, SF_SMOKE, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters:"
    )[1].splitlines()[0]


@pytest.mark.parametrize(
    "name",
    [
        "qh03_shipping_priority",
        "qh05_local_supplier_volume",
        "qh07_volume_shipping",
        "qh19_discounted_revenue",
        "qh21_waiting_supplier",
    ],
)
def test_tpch_joins_never_degenerate_to_products(spark, name):
    """The classic TPC-H traps (Q19's OR-of-ANDs, Q7's nation-pair OR,
    Q21's correlated anti-shape) must all stay equi-joins."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_qh22_anti_join_is_hash_and_scalar_is_broadcast(spark):
    """Q22 shape: the NOT-EXISTS is a hash LeftAnti; the AVG threshold is
    a single-row broadcast — the only nested-loop join allowed is that
    1-row scalar comparison (a per-row constant check, not a product)."""
    plan = plan_of(spark, "qh22_global_sales_opportunity")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    if "BroadcastNestedLoopJoin" in plan:
        assert "avg_bal" in plan.split("BroadcastNestedLoopJoin")[1].splitlines()[0]


@pytest.mark.parametrize(
    "name", ["qh03_shipping_priority", "qh10_returned_items", "qh18_large_volume_customer"]
)
def test_tpch_topk_uses_bounded_sort(spark, name):
    """Top-N after ORDER BY must plan as TakeOrderedAndProject (per-partition
    heap + driver merge), never a materialized global sort."""
    plan = plan_of(spark, name)
    assert "TakeOrderedAndProject" in plan


def test_qh06_all_predicates_push_to_scan(spark):
    plan = plan_of(spark, "qh06_forecast_revenue")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_qh04_exists_is_semi_join_not_product(spark):
    """EXISTS with a correlated interval bound: equi part must carry the
    join, the date bound must ride as a residual condition."""
    plan = plan_of(spark, "qh04_order_priority")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q95e_chunk_dedup_two_shuffle_families(spark):
    """Chunk dedup needs exactly the chunk-key window shuffle and the
    doc_id reassembly shuffle — no joins at all."""
    plan = plan_of(spark, "q95e_chunk_dedup")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_q98d_pii_scrub_is_narrow(spark):
    plan = plan_of(spark, "q98d_pii_scrub")
    assert "Exchange" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """Join-driven partition pruning (DPP): a fact partitioned on the join
    key + a selectively-filtered dim must plan a dynamicpruning expression
    in the fact scan's PartitionFilters — at 100 TB this is what turns
    'scan every date partition' into 'scan the three the dim selects'."""
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    out = str(tmp_path / "fact")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    # dim filter is on a NON-join column: the surviving join keys are only
    # known at runtime, so the pruning cannot be folded statically — this
    # is the genuinely dynamic case (filter on the join key itself would be
    # propagated as a static partition filter by constraint inference).
    dim = spark.createDataFrame(
        [("1-URGENT", "high"), ("2-HIGH", "high"), ("3-MEDIUM", "mid"),
         ("4-NOT SPECIFIED", "low"), ("5-LOW", "low")],
        "o_orderpriority string, priority_class string",
    ).filter(F.col("priority_class") == "high")
    joined = fact.join(dim, "o_orderpriority").groupBy("priority_class").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter injection: with broadcast disabled (the 100 TB
    regime where both join sides shuffle), a selective build side must
    inject a bloom filter onto the probe scan so non-joining fact rows die
    before the shuffle instead of after it."""
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", ["qh05_local_supplier_volume", "qh08_market_share"])
def test_tpch_join_chains_broadcast_dims_no_products(spark, name):
    """The bench-tracked join-heaviest TPC-H shapes: every small dimension
    must broadcast (region/nation/part never shuffle the fact side) and
    nothing may degenerate into a product join."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q44c_ohlc_is_single_agg_no_window(spark):
    """OHLC bars must plan as ONE grouped aggregate (min_by/max_by over
    the ordering struct) — the whole point vs the oracle's double
    ROW_NUMBER formulation. No Window operator, exactly one exchange."""
    import re

    plan = plan_of(spark, "q44c_ohlc_downsample")
    assert "Window" not in plan
    # \bExchange\b never matches inside "ReusedExchange"; count directly
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    assert n_exchange == 1, f"expected one exchange, plan has {n_exchange}"


def test_q95p_span_windows_share_one_doc_exchange(spark):
    """r15 shape: corpus-wide shuffles carry xxhash64 LONGS (gh), gram
    strings shuffle only in the candidate-verify stage, and span merging
    (two island windows + two per-doc aggregates) reuses ONE doc_id
    partitioning — the gaps-and-islands stages add no exchanges of their
    own. Exactly TWO doc_id exchanges total: the island/span partitioning
    plus the candidate-position join-back, now computed ONCE — the
    dup-support checks are min!=max window flags over the gram key, so
    the gram tables shuffle once each (r14's agg-plus-join-back shape
    shuffled the verify derivation per consumer, three doc exchanges).
    Both are candidate-sized or per-doc; corpus-wide exchanges stay
    gh-keyed. (Precision, r15 ADVICE: the window's min/max AGGREGATION
    state is O(1) but WindowExec still buffers each gh group's rows —
    spillable — before emitting; the collect_list assertion below pins
    only that no per-gram LIST ever accumulates. The hot-gram tradeoff
    and its measured two-scale A/B live at the q95p source comment.)"""
    import re

    plan = plan_of(spark, "q95p_dup_span_extract")
    assert "CartesianProduct" not in plan
    # the hot-key-robustness pin itself: the verify stage must never
    # funnel per-GRAM occurrence lists into one aggregation buffer (a
    # boilerplate gram shared by millions of docs = one unbounded row).
    # The per-DOC collect_list (cand_pos) is fine — bounded by doc length.
    assert not re.search(
        r"keys=\[g#\d+[^\]]*\], functions=\[[^\]]*collect_list", plan
    ), "per-gram collect_list buffer reintroduced"
    doc_exchanges = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", plan)
    assert len(doc_exchanges) == 2, f"expected 2 doc_id exchanges: {doc_exchanges}"
    # islands/span aggs share hashpartitioning(doc_id) — never (doc_id, isl)
    assert not re.search(r"hashpartitioning\(doc_id#\d+L?, isl", plan)
    # the candidate stage really is hashed: a gh long-key exchange exists,
    # and the string-key (g) exchanges appear only downstream of the
    # candidate filter (the verify stage), never for the full gram table
    assert re.search(r"Exchange hashpartitioning\(gh#\d+L", plan)
    assert re.search(r"Exchange hashpartitioning\(g#\d+,", plan)


def test_q97h_bm25_query_side_broadcasts_corpus_never_bnlj(spark):
    plan = plan_of(spark, "q97h_bm25_topk")
    assert "CartesianProduct" not in plan
    # the only nested-loop is the 1-row stats scalar (a broadcast)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # every multi-row join is a hash join on the term/doc key — at this
    # SF all sides fit the broadcast threshold, so any SMJ means a
    # stats/threshold regression
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q97k_bm25_cold_scan_prunes_term_partitions(spark):
    """q97k's serving path must resolve the query-vocabulary filter at
    file-listing time: the postings scan shows PartitionFilters on the
    term (w) partition column, not a post-scan Filter over all terms —
    the inverted index IS a partition layout."""
    plan = plan_of(spark, "q97k_bm25_index_persist")
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*w#\d+", plan)
    assert m, "postings scan lost its term-partition pruning"


def test_q95u_hashed_grams_never_shuffle_gram_strings(spark):
    """q95u's whole point: the dup-gram groupBy and hit join key on
    xxhash64(g) — no gram STRING column may survive into any exchange.
    The plan must show the hash in the narrow stage and keep the
    span-stage exchange discipline of q95p."""
    import re

    plan = plan_of(spark, "q95u_dup_span_extract_hashed")
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    # same one-doc_id-exchange discipline as the string-keyed sibling
    doc_exchanges = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", plan)
    assert len(doc_exchanges) == 1, f"expected 1 doc_id exchange: {doc_exchanges}"
    # no exchange partitioned on a string gram column: every gram-stage
    # exchange keys on the hashed column (gh)
    gram_exchanges = re.findall(r"Exchange hashpartitioning\(g#\d+[^L)]", plan)
    assert not gram_exchanges, f"gram strings crossed an exchange: {gram_exchanges}"
    assert re.search(r"Exchange hashpartitioning\(gh#\d+L", plan)


def test_q97l_maxsim_joins_are_broadcast_and_bounded(spark):
    """Late interaction: the only nested-loop is the 6-row query-term
    broadcast (the intentional probe side); per-(qterm,doc) max and the
    per-doc sum share the aggregation path without a product join."""
    plan = plan_of(spark, "q97l_maxsim_late_interaction")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q95w_domain_iteration_touches_corpus_once(spark):
    """DoReMi: ONE scan of documents (the per-domain stats agg); the
    three weight-update stages run over the domain dim only, so the
    plan contains exactly one parquet scan of the documents table."""
    plan = plan_of(spark, "q95w_doremi_reweight")
    assert "CartesianProduct" not in plan
    # the corpus pass is materialized by localCheckpoint, so the plan
    # downstream of it reads an RDD scan, not parquet, and contains no
    # second documents scan
    assert plan.count("documents.parquet") == 0  # checkpointed upstream


@pytest.mark.parametrize("name", ["q95z_warc_ingest", "q99f_jpeg_decode",
                                  "q99g_gif_decode"])
def test_codec_queries_are_shuffle_free(spark, name):
    """Ingest/decode pipelines are narrow Arrow passes end-to-end: any
    Exchange here means a codec stage accidentally keyed a shuffle."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan


def test_qc20_incremental_snapshot_has_no_product_joins(spark):
    """Chunk supersede + reconstruction + direct-apply are equi-joins on
    the key; DBLog's whole point is lock-free chunk parallelism, which a
    product join would destroy."""
    plan = plan_of(spark, "qc20_incremental_snapshot")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q94i_composite_has_no_product_joins(spark):
    plan = plan_of(spark, "q94i_end_to_end_pretrain")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q99h_jpeg_420_color_decode",
                                  "q99i_mjpeg_video_frames",
                                  "q99j_adpcm_audio_decode",
                                  "q99k_jpeg_422_decode",
                                  "q99l_progressive_jpeg_decode",
                                  "q99m_g711_companding"])
def test_round6_codec_queries_are_shuffle_free(spark, name):
    """Color-JPEG decode and MJPEG frame sampling are narrow Arrow
    passes end-to-end — an Exchange means a codec stage grew a shuffle."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan


def test_q94j_single_content_key_shuffle(spark):
    """The mixed-format composite is two narrow Arrow passes plus ONE
    shuffle (the content-key window for keepers) — a codec stage that
    grew a shuffle or a second exchange family would show here."""
    plan = plan_of(spark, "q94j_mixed_format_ingest")
    n_exchanges = plan.count("Exchange") - plan.count("AQEShuffleRead")
    assert n_exchanges <= 1, plan[:1500]


def test_qc21_socket_source_has_no_product_joins(spark):
    """The socket-recovered lines feed the same normalize plan as qc01:
    equi-joins on txid only. (The socket leg itself is driver-side and
    invisible to the plan — this pins the distributed half.)"""
    plan = plan_of(spark, "qc21_socket_replication_source")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q95ab_conversation_assembly_single_exchange(spark):
    """All four conversation-level windows (ordinal, count, max, masked
    sum) must share the ONE conv_id exchange — a second shuffle means a
    window spec stopped aligning with the partition key."""
    import re

    plan = plan_of(spark, "q95ab_conversation_assembly")
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "Exchange rangepartitioning" not in plan  # never a global sort


def test_q95ac_preference_pairs_broadcast_no_products(spark):
    """Both rankings window over the same prompt_id partitioning and the
    chosen/rejected join is a 1-row-per-group equi-join — it must stay
    hash/broadcast (never a product) with at most one exchange per side."""
    import re

    plan = plan_of(spark, "q95ac_preference_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_q95ad_chat_template_render_two_exchange_families(spark):
    """The suffix-cost window, the kept-turn re-assembly groupBy, and the
    per-conversation totals all key on conv_id: two exchange subtrees
    (the kept side reuses the window's), joined broadcast."""
    import re

    plan = plan_of(spark, "q95ad_chat_template_render")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_q99n_shot_boundary_is_shuffle_free(spark):
    """Shot detection is two narrow Arrow passes (synth, decode+SAD) —
    an Exchange means per-video work leaked into a shuffle."""
    plan = plan_of(spark, "q99n_shot_boundary_detect")
    assert "Exchange" not in plan


def test_q99o_frame_dedup_single_shuffle_family(spark):
    """Frame dedup is the exact-dedup shape at frame granularity: narrow
    decode, then the signature groupBy. countDistinct's two-phase
    expansion is the only extra exchange allowed."""
    import re

    plan = plan_of(spark, "q99o_video_frame_dedup")
    assert "CartesianProduct" not in plan
    n = len(re.findall(r"\bExchange\b", plan))
    assert n <= 2, f"signature agg grew extra shuffles: {n}"
    assert plan.count("hashpartitioning(sig") >= 1


def test_q99q_ahash_band_join_is_product_free(spark):
    """The banded hamming join must stay an equi-join on (band_idx,
    band_value) — a CartesianProduct or BroadcastNestedLoopJoin here is
    the all-pairs image comparison the banding exists to avoid."""
    plan = plan_of(spark, "q99q_ahash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_q98m_rag_chunking_is_shuffle_free(spark):
    """Chunking is in-row (tokenize, posexplode chunk starts, slice,
    md5) — any Exchange means per-doc work leaked into a shuffle."""
    plan = plan_of(spark, "q98m_rag_chunking")
    assert "Exchange" not in plan


def test_q98l_bpe_rounds_are_pair_bounded(spark):
    """Each BPE training round's pair count groups on (a, b) — the
    shuffle key must be the pair vocabulary, never the word table
    exploded by position; and merge application is in-row (no join)."""
    plan = plan_of(spark, "q98l_bpe_train_apply")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # merges are literal replaces, not joins


def test_q94k_webdataset_single_sample_key_shuffle(spark):
    """Shard parse is narrow; the only exchanges allowed are the
    sample-key aggregation (+ its semi-join reusing the same key) and
    the shard-id distinct. Member payloads must never shuffle."""
    plan = plan_of(spark, "q94k_webdataset_ingest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(sample_key") >= 1
    for line in plan.splitlines():  # no payload bytes through any shuffle
        if "Exchange" in line:
            assert "payload" not in line


def test_q99s_srt_align_is_bucketed_not_range_join(spark):
    """Cue-shot alignment must be the exploded-bucket equi-group — a
    Join node here means it degenerated to a range join."""
    plan = plan_of(spark, "q99s_srt_shot_align")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_q48_bitmap_overlap_pair_join_is_hash_not_product(spark):
    """The S^2 overlap matrix must come from a chunk equi-join over the
    compressed bitmap words — never a product or row-level self-join."""
    plan = plan_of(spark, "q48_bitmap_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q49_kmv_bnlj_is_bounded_to_sketch_pairs(spark):
    """q49's only BNLJ is the |segments|x|segments| theta pairing over
    k-row sketches (a declared bounded exception, like q97h's scalar);
    sketch membership probes must stay hash joins."""
    plan = plan_of(spark, "q49_kmv_sketch_overlap")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan


def test_q36k_histogram_stats_join_is_single_row_broadcast(spark):
    """The min/max scalar reaches the binning pass as a 1-row broadcast
    (bounded BNLJ), and the final agg is bounded by nbins."""
    plan = plan_of(spark, "q36k_histogram")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q52b_weighted_sample_is_one_window_exchange(spark):
    """A-ES = scoring (narrow) + ONE stratum window; no products, and
    the scoring join stays a hash join."""
    plan = plan_of(spark, "q52b_weighted_sample")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one ranking window, with rank<=k pushed below the exchange
    # as a partial WindowGroupLimit (map-side top-k pruning: each
    # partition ships at most k rows per stratum)
    assert plan.count("Window [row_number()") == 1
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final


def test_qc24_snapshot_diff_is_one_pk_join(spark):
    """Snapshot diffing must be exactly one PK equi-join (sort-merge at
    this size, zero-shuffle with bucketed snapshots) — a second join or
    a product would break the 100 TB diff story."""
    plan = plan_of(spark, "qc24_snapshot_diff_cdc")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q97s_projection_search_bnlj_is_bounded(spark):
    """The query-side inequality join broadcasts the ~|corpus|/100 query
    rows (the declared bounded BNLJ); nothing else may plan nested-loop
    or product, and the projection must not explode (no Generate)."""
    plan = plan_of(spark, "q97s_random_projection_search")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan  # in-row fold, never posexplode


def test_q42f_cusum_single_series_sort(spark):
    """Prefix sum and row_number must share one series-keyed sort; the
    totals join must be broadcast (series-bounded dim)."""
    plan = plan_of(spark, "q42f_cusum_changepoints")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_q36m_pass2_never_sorts_full_data(spark):
    """The two-pass median's only row-level window runs over candidate
    buckets (post broadcast-join filter); the full input is touched by
    hash aggregates only — no global or per-group full sort."""
    plan = plan_of(spark, "q36m_scalable_median")
    assert "CartesianProduct" not in plan
    # every join in the pipeline is a broadcast of a bounded dim
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_qc26_temporal_join_is_broadcast_equi(spark):
    """The SCD2 consumption join must be a hash join on the natural key
    (interval residual in the probe) — never a nested loop over the
    range condition."""
    plan = plan_of(spark, "qc26_scd2_temporal_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q44e_sweep_reuses_session_sort_and_partitions_by_day(spark):
    """The concurrency sweep must not plan a global ordered scan: the
    session windows share one user_id sort, and every sweep window is
    day-partitioned."""
    plan = plan_of(spark, "q44e_max_concurrency")
    assert "CartesianProduct" not in plan
    # no single-partition exchange: all windows are keyed
    assert "Exchange SinglePartition" not in plan


def test_q94o_dataset_card_two_aggs_one_scan(spark):
    """The card is two keyed hash-agg families + a bounded top-1 window;
    joins broadcast; no products."""
    plan = plan_of(spark, "q94o_dataset_card")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q47c_attribution_is_joinless(spark):
    """Last-touch attribution is one per-user window family — any join in
    the plan means the as-of shortcut regressed to an as-of join."""
    plan = plan_of(spark, "q47c_last_touch_attribution")
    assert "Join" not in plan, plan[:1500]


def test_q95aq_boilerplate_join_is_hash_no_products(spark):
    """The frequency re-join must stay a hash join (AQE broadcasts the
    |distinct lines|-bounded freq side at this size; at corpus scale
    both sides hash on the same (source, line) key) — never a product
    or nested loop."""
    plan = plan_of(spark, "q95aq_boilerplate_line_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q36q_ks_walk_is_single_ordered_pass(spark):
    """The KS statistic folds to per-distinct-value counts (one hash
    agg) and two blocked cumulative scans — no join of the two samples
    against each other, and no fact-sized single-task window: every
    1-row attach (two blocked bounds + the sizes scalar) is a broadcast
    nested-loop over ONE row, never a cartesian."""
    import re

    plan = plan_of(spark, "q36q_ks_two_sample")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # every BNLJ here is a 1-row attach (blocked bounds / sizes scalar);
    # the raw count is meaningless because the nested cumsum re-prints
    # the inner scan's subtree, so pin the window structure instead:
    # every cumsum window spec must carry the range-block id.
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected blocked cumsum windows in the q36q plan"
    for spec in specs:
        assert "__blk" in spec, f"unblocked window spec: {spec}"


def test_q76b_ring_vnodes_broadcast(spark):
    """The 128-row vnode dim must broadcast into the key scan."""
    plan = plan_of(spark, "q76b_consistent_hash_ring")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the broadcast cross join
    assert "SortMergeJoin" not in plan


def test_qm14_state_probe_prunes_partitions(spark, tmp_path):
    """qm14's delta-join state dirs are partitioned by kb = hash(key)
    mod 16; a batch's probe filters on its own bounded kb set, so the
    read must resolve as hive partition pruning (file-listing-time) —
    epoch IO is O(matching state buckets), never O(accumulated state)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "qm14_state")
    df = spark.range(200).select(
        F.col("id").alias("custkey"),
        F.lit(1).cast("long").alias("dma"),
        F.pmod(F.xxhash64("id"), F.lit(16)).alias("kb"),
    )
    df.write.partitionBy("kb").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("kb").isin([1, 5, 9]))
    rd.collect()
    jplan = rd._jdf.queryExecution().executedPlan()
    assert "PartitionFilters: [kb" in jplan.toString()
    scan = jplan.collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 3


def test_delta_join_retraction_algebra_any_batch_order(spark):
    """The delta-join terms telescope to A_final x B_final in ANY batch
    split/order — including a DELETE arriving BEFORE its INSERT (the
    transient -1 the later insert cancels). Exercised directly on the
    algebra with a 2-batch adversarial split, independent of the qm14
    streaming harness."""
    from pyspark.sql import functions as F

    # A: key k gets rows r1(+), r1(-) out of order across batches;
    # B: key k dimension row, updated (retract+assert) in batch 2
    a1 = spark.createDataFrame(
        [(10, 1, 100, -1)], "okey long, custkey long, cents long, dma long"
    )  # delete FIRST
    b1 = spark.createDataFrame([(1, "OLD", 1)], "custkey long, seg string, dmb long")
    a2 = spark.createDataFrame(
        [(10, 1, 100, 1), (11, 1, 50, 1)],
        "okey long, custkey long, cents long, dma long",
    )  # the matching insert arrives later, plus a live row
    b2 = spark.createDataFrame(
        [(1, "OLD", -1), (1, "NEW", 1)], "custkey long, seg string, dmb long"
    )

    def dv(da, db, pa, pb):
        t = (
            da.join(pb, "custkey")
            .unionByName(pa.join(db, "custkey"))
            .unionByName(da.join(db, "custkey"))
        )
        return t.select(
            "custkey", "okey", "cents", "seg",
            (F.col("dma") * F.col("dmb")).cast("long").alias("dm"),
        )

    empty_a = spark.createDataFrame([], a1.schema)
    empty_b = spark.createDataFrame([], b1.schema)
    v = dv(a1, b1, empty_a, empty_b).unionByName(
        dv(a2, b2, a1, b1)
    )
    compacted = (
        v.groupBy("custkey", "okey", "cents", "seg")
        .agg(F.sum("dm").alias("m"))
        .collect()
    )
    # order 10: one insert + one delete -> net multiplicity 0 (dead), but
    # the out-of-order delivery must have flowed TRANSIENT negative rows
    # through the log that the later insert exactly cancelled
    raw = v.collect()
    assert any(r["okey"] == 10 and r["dm"] < 0 for r in raw), \
        "the early delete never produced a retraction row"
    assert all(r["m"] == 0 for r in compacted if r["okey"] == 10)
    # order 11 live, joined to the moved dimension exactly once
    live = [(r["okey"], r["seg"], r["m"]) for r in compacted if r["m"] > 0]
    assert live == [(11, "NEW", 1)]


@pytest.mark.parametrize("name", ["q98ab_luhn_card_redaction", "q98ac_html_extract"])
def test_r9_text_gates_are_single_agg_narrow_maps(spark, name):
    """The round-9 scrub/extract gates are map-only passes over the
    corpus scan + one |sources|-bounded agg: exactly ONE Exchange (the
    final groupBy), no joins, and the regex/digit-fold kernels stay in
    JVM codegen — no Python eval on the hot path."""
    plan = plan_of(spark, name)
    assert plan.count("Exchange") <= 2  # partial/final agg pair shares one shuffle
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_qm17_reservoir_merge_is_bounded_topk(spark):
    """qm17's read-side merge must plan a TakeOrdered (partial per-task
    top-k), never a global Sort — the k-bounded merge is the entire
    scale argument for the streaming sample."""
    df = REGISTRY["qm17_streaming_reservoir"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    # re-delivered events (every 9th) must collapse: sample is distinct
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids))
    # ranks really are the k smallest of the full stream (semilattice
    # merge == one-shot): spot-check max sampled rank < min unsampled
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", ((F.col("event_id") * 48271) % 2147483647).alias("rank")
    )
    unsampled_min = (
        ev.join(spark.createDataFrame([(i,) for i in ids], "event_id long"),
                "event_id", "left_anti")
        .agg(F.min("rank")).first()[0]
    )
    assert max(r["rank"] for r in rows) < unsampled_min


@pytest.mark.parametrize("name", ["q95ar_unimax_mixing", "q94r_shard_manifest"])
def test_r9_release_ops_stay_jvm_side_and_joinless(spark, name):
    """UniMax waterfilling and the shard manifest are corpus-scan →
    bounded-agg → bounded-window shapes: no joins, no Python eval;
    every window runs over a |langs|- or |sources|x16-bounded frame
    by construction."""
    plan = plan_of(spark, name)
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_runtime_bloom_filter_prunes_fact_side_of_selective_join(spark):
    """Runtime bloom-filter join pruning — the 100 TB semi-join
    reduction: a selectively-filtered dim side builds a bloom filter at
    runtime that is pushed into the fact side's scan filter, so the
    shuffle carries only might-match rows. Local thresholds default to
    cluster scale (10 GB application side), so the test pins the
    MECHANISM with thresholds lowered; production relies on the same
    injection at its default thresholds."""
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_totalprice") < 1000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus").count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom build on the dim side"
        assert "BloomFilterMightContain" in plan or "might_contain" in plan, (
            "bloom probe not pushed into the fact side"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_r9_stats_additions_stay_jvm_side(spark):
    """The six round-9 closing additions (RFM, basket rules, MW-U,
    Spearman, Theil-Sen, Holt) are pure built-in-function plans: no
    Python eval anywhere, and no cartesian product — every unkeyed
    join is a bounded broadcast (1-row scalar or the month/brand
    aggregate)."""
    for name in (
        "q46f_rfm_segmentation",
        "q47e_market_basket",
        "q36t_mann_whitney_u",
        "q36u_spearman_rho",
        "q53e_theil_sen_slope",
        "q42j_holt_linear_trend",
        "q44h_nelson_aalen",
        "q53f_lorenz_curve",
        "q47f_markov_stationary",
        "q36v_cramers_v",
    ):
        plan = plan_of(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q47e_pair_join_is_keyed_on_order(spark):
    """Market-basket pair generation must be an equi-join on the order
    key (co-partitioned at scale; AQE broadcasts it at sf0.001 —
    either way a KEYED hash/merge join) — never an all-brand-pairs
    product. The only unkeyed join allowed is the 1-row n_orders
    scalar broadcast."""
    plan = plan_of(spark, "q47e_market_basket")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # n_orders scalar only
    assert plan.count("Join") - plan.count("BroadcastNestedLoopJoin") >= 4
    # keyed joins: part dim + pair self-join + ca + cb


def test_q36u_ranks_join_back_not_fact_sort(spark):
    """Spearman's ranks come from the distinct-value frame joined back
    to rows — keyed join-backs plus the 1-row blocked_cumsum bounds
    broadcasts (the only unkeyed joins), and value-frame cumsum
    windows."""
    plan = plan_of(spark, "q36u_spearman_rho")
    assert "CartesianProduct" not in plan
    # blocked_cumsum attaches a 1-row (min,max) bounds scalar; it shows
    # up in both the within-block and offsets branches of each of the
    # two rank frames — 4 sites, all 1-row broadcasts, the only BNLJ
    # allowed.
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert plan.count("Join") - plan.count("BroadcastNestedLoopJoin") >= 2
    assert "Window" in plan  # the value-frame cumsums


def test_q36u_value_frame_windows_are_blocked(spark):
    """The blocked_cumsum pin (PLANS.md two-level partial+offset scan):
    every window that scans a VALUE frame (orders by x/y) must carry
    the range-block id in its partition spec — parallel across
    groups x blocks, never a whole-group single-task scan. Group-only
    partition specs may appear ONLY on the per-block-totals offsets
    frame (ordered by __blk, <= n_blocks rows per group)."""
    import re

    plan = plan_of(spark, "q36u_spearman_rho")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the q36u plan"
    for spec in specs:
        if "__blk" in spec:
            continue  # blocked within-frame scan or the offsets scan
        raise AssertionError(f"unblocked group-wide window spec: {spec}")


@pytest.mark.parametrize(
    "name", ["q46f_rfm_segmentation", "q53f_lorenz_curve", "q36t_mann_whitney_u"]
)
def test_exact_stats_windows_are_blocked_not_global(spark, name):
    """r10 two-level swap: the exact-stats family's rank/NTILE/cumsum
    sites run through blocked_cumsum / blocked_ntile — no NTILE window
    remains, and every windowspecdefinition either carries the range
    block id / a real partition key, or orders by __blk (the bounded
    per-block-totals offsets frame) or a constant-bounded frame (q53f's
    10-row decile cumsum)."""
    import re

    plan = plan_of(spark, name)
    assert "ntile" not in plan.lower()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"expected window specs in {name}"
    for spec in specs:
        if "__blk" in spec or "__k" in spec:
            continue  # blocked scan, offsets frame, or tie-group rank
        if name == "q53f_lorenz_curve" and "decile" in spec:
            continue  # 10-row curve cumsum — bounded by n_tiles
        raise AssertionError(f"{name}: unblocked window spec: {spec}")


@pytest.mark.parametrize(
    "name",
    [
        "q50_global_sort",
        "q95d_sequence_packing",
        "q53c_pareto_report",
        "q53d_gini_coefficient",
        "q95o_dsir_resample",
    ],
)
def test_r11_migrated_rank_cumsum_windows_are_blocked(spark, name):
    """r11 global-window closure: the migrated rank/running-total sites
    run entirely through the blocked two-level ops — every window spec
    carries the range-block id (__blk) or the order-key tie group (__k);
    no whole-frame single-task window survives in the plan."""
    import re

    plan = plan_of(spark, name)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"expected window specs in {name}"
    for spec in specs:
        if "__blk" in spec or "__k" in spec:
            continue
        raise AssertionError(f"{name}: unblocked window spec: {spec}")


@pytest.mark.parametrize("name", ["q29b_skew_advisor", "q97j_mmr_rerank"])
def test_r11_topk_sites_use_take_ordered(spark, name):
    """r11 top-k migrations: global top-N selection must compile to
    TakeOrderedAndProject (per-partition pruned distributed top-k),
    never a global row_number window over the frame. q29b's one
    remaining rank window runs over the 10 post-limit rows."""
    plan = plan_of(spark, "q29b_skew_advisor" if name == "q29b_skew_advisor" else name)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q97w_pca_gram_partials_only_cross_one_exchange(spark):
    """q97w's 100 TB claim: the vector payload never crosses an
    exchange — only d^2-bounded integer Gram partials shuffle. The
    plan must show the Arrow kernel (MapInPandas/FlatMapGroups shape)
    feeding a hash aggregate, and the only BNLJ sites are the 1-row
    count/md broadcasts; no cartesian product, no fact-sized sort."""
    plan = plan_of(spark, "q97w_pca_power")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    # 1-row broadcasts: ncnt onto md_rows, ncnt onto `one`, fold row
    # onto the final explode — all bounded; nothing else may BNLJ.
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    # Gram partials partially aggregate before the exchange
    assert "partial_sum" in plan or "partial sum" in plan.lower()


def test_q47k_shapley_lattice_is_constant_size(spark):
    """q47k folds the fact to mask counts map-side; every join after
    is on the 16-node coalition lattice / 4-row channel dim. The plan
    may contain broadcast joins but no shuffle-side fact join and no
    cartesian product beyond the bounded lattice build."""
    plan = plan_of(spark, "q47k_shapley_attribution")
    assert "CartesianProduct" not in plan
    # one map-side-combinable user aggregate feeds the mask histogram
    assert "partial_" in plan


def test_q42l_and_qm21_share_fold_no_fact_window(spark):
    """Holt-Winters folds a calendar-bounded series: the only window
    allowed is none at all — the month series assembles via
    groupBy + collect, never a fact-ordered window or global sort of
    the fact."""
    plan = plan_of(spark, "q42l_holt_winters")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_q94z_candidates_only_through_shared_successor(spark):
    """Link-prediction pairs must materialize ONLY via the dst-keyed
    edge self-join (the LSH-band shape) and the top-20 must be a
    distributed TakeOrderedAndProject — no global rank window over the
    fact-scale candidate frame, no product anywhere."""
    plan = plan_of(spark, "q94z_link_prediction")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # the only window ranks the bounded 20-row post-limit frame
    assert plan.count("Window") <= 1


def test_q94y_hits_rounds_are_keyed_joins(spark):
    """Each HITS half-round is one node-keyed contributions join —
    never a product; the two 1-row max frames are the only allowed
    unkeyed broadcasts."""
    plan = plan_of(spark, "q94y_hits")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # ma / mb scalars


def test_q97z_centroid_side_is_broadcast(spark):
    """Cluster-quality distances come from the KB-sized centroid frame
    broadcast against the corpus (k=16 rows) plus 1-row/bounded scalar
    attaches — the corpus itself must never be on the build side and
    never in a product."""
    plan = plan_of(spark, "q97z_cluster_quality")
    assert "CartesianProduct" not in plan
    # unkeyed joins: corpus x 16-centroid frame, the 16x16 centroid
    # pair frame, and bounded cl attaches — all broadcast, all bounded
    assert "SortMergeJoin" not in plan


def test_q97aa_probe_side_is_broadcast(spark):
    """Hard-negative mining scans the corpus once against the
    broadcast 8-probe side (q97_cosine_topk discipline); the margin
    filter and per-probe top-k are the only post-scan ops."""
    plan = plan_of(spark, "q97aa_hard_negative_mining")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan  # per-qid top-k only


def test_q95at_scoring_joins_are_word_keyed(spark):
    """Rho-filter scoring re-joins occurrences to the two frequency
    tables on the word key; the two 1-row totals are the only unkeyed
    broadcasts."""
    plan = plan_of(spark, "q95at_rho_filter")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # tot / ti scalars


def test_q36al_dominance_join_is_bounded_broadcast(spark):
    """Cliff's delta joins the two value-grid HISTOGRAMS (bounded by
    the value domain, never fact-sized); the grid cross is broadcast
    and the fact is only ever aggregated map-side."""
    plan = plan_of(spark, "q36al_cliffs_delta")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q94aa_kcore_rounds_are_node_keyed(spark):
    """Each peel round joins the adjacency to the survivor set on node
    id — no product; localCheckpoint truncates lineage so the final
    plan stays O(1) deep regardless of round count."""
    plan = plan_of(spark, "q94aa_kcore")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q94ac_modularity_stays_integer_until_one_division(spark):
    """Modularity's joins are the comm-keyed within/degree attaches
    plus 1-row scalar broadcasts; no product, no fact-sized second
    shuffle."""
    plan = plan_of(spark, "q94ac_modularity")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # m scalar attaches


def test_q05e_bloom_readback_pushes_the_probe(spark):
    """The key probe on the bloom-filtered rewrite must reach the
    parquet scan as a pushed filter — the row-group pruning the
    feature exists for."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = REGISTRY["q05e_bloom_filter_sink"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_orderkey" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_q45e_spline_is_fold_only(spark):
    """The Thomas solve must be in-row folds on the 1-row series frame
    — no join at all beyond the month aggregation."""
    plan = plan_of(spark, "q45e_cubic_spline")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q94ak_wedges_stay_keyed_joins(spark):
    """The wedge join (two adjacency hops + edge closure) must remain
    keyed equi-joins — degree-bounded fan-out, never a product."""
    plan = plan_of(spark, "q94ak_clustering_coefficient")
    assert "CartesianProduct" not in plan


def test_q98am_divergence_is_word_keyed_single_pass(spark):
    """JS divergence: one word-keyed aggregation with in-row
    conditional counts; the only unkeyed join is the 1-row totals
    broadcast."""
    plan = plan_of(spark, "q98am_js_divergence")
    assert "CartesianProduct" not in plan
    # the 1-row totals frame attaches twice (term map + final select)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin" not in plan


def test_q52c_sampling_never_globally_sorts(spark):
    """Systematic sampling ranks inside source-keyed partitioned
    windows — no global sort, no ntile, no unkeyed join."""
    plan = plan_of(spark, "q52c_systematic_sample")
    assert "CartesianProduct" not in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for spec in specs:
        assert "source" in spec  # every window is stratum-partitioned


def test_q53l_palma_uses_blocked_ntile(spark):
    """Palma's deciles must come from the blocked two-level ops — no
    NTILE window, no single-task customer-dimension sort."""
    plan = plan_of(spark, "q53l_palma_ratio")
    assert "ntile" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_q45g_normalization_is_grid_bounded(spark):
    """Quantile normalization's mapping join runs grid x grid (value-
    domain bounded) — the fact appears only in the two histogram
    passes, and no product forms."""
    plan = plan_of(spark, "q45g_quantile_normalization")
    assert "CartesianProduct" not in plan


def test_q44m_trig_is_pinned_literals(spark):
    """Circular stats must never call cos/sin in-plan — the hour
    angles come from the pinned literal arrays."""
    plan = plan_of(spark, "q44m_circular_hour_stats")
    assert "COS(" not in plan.upper().replace("ATAN2", "")
    assert "SIN(" not in plan.upper().replace("ATAN2", "").replace("ASIN", "")


def test_q94aq_powerlaw_pairwise_lives_on_degree_grid(spark):
    """q94aq's Theil-Sen slope needs pairwise products — they must stay
    on the bounded degree grid (every product/BNLJ side broadcast), and
    the only fact-width work is the one edge pass into the degree agg."""
    plan = plan_of(spark, "q94aq_powerlaw_tail")
    assert "CartesianProduct" not in plan
    # every BNLJ must consume a broadcast side (grid-bounded): one
    # Broadcast/Reused exchange per BNLJ, counted — a single stray
    # BroadcastExchange elsewhere in the plan must not satisfy them all
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj > 0, "expected the pairwise grid to run as BNLJ"
    n_bcast = plan.count("BroadcastExchange") + plan.count("ReusedExchange")
    assert n_bcast >= n_bnlj, (n_bcast, n_bnlj)
    # no fact-side sort-merge join: the heavy table never joins at width
    assert "SortMergeJoin" not in plan
