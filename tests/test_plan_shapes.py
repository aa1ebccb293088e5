"""Plan-shape audits codified (the PERF.md claims as regressions):
each headline operator must keep planning the way the 100 TB design
requires — filters pushed to the scan, dims broadcast, subqueries
rewritten to semi/anti joins, top-k via TakeOrderedAndProject /
WindowGroupLimit. A wrong-but-correct plan is a perf bug at scale;
these tests make it a test failure locally.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from vector_search_ner_spark.registry import collect

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    queries, _ = collect()
    df = queries[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q21_subqueries_become_semi_and_anti_joins(spark):
    """EXISTS / NOT EXISTS must be decorrelated to LeftSemi / LeftAnti
    joins (no nested-loop re-execution per outer row)."""
    p = _plan(spark, "q21_sole_blame_supplier")
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p


def test_q13_keeps_left_outer(spark):
    """The ON-clause filter must NOT collapse the outer join to inner
    (zero-order customers are the point of Q13)."""
    p = _plan(spark, "q13_order_count_distribution")
    assert "LeftOuter" in p, p


def test_q8_star_join_broadcasts_dims(spark):
    """All six dimension sides of the 7-way star must broadcast — the
    only shuffle-worthy join is fact-to-fact (lineitem⋈orders)."""
    p = _plan(spark, "q8_market_share")
    assert p.count("BroadcastHashJoin") >= 5, p


def test_q10_top20_is_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heap + merge), never a full global sort."""
    p = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p, p


def test_knn_partial_topk_before_shuffle(spark):
    """Brute-force k-NN must (a) broadcast the query batch so the doc
    table never moves, and (b) apply WindowGroupLimit so only ~k rows
    per partition per query reach the rank shuffle."""
    p = _plan(spark, "knn_topk_cosine")
    assert "BroadcastExchange" in p, p
    assert "WindowGroupLimit" in p, p


def test_contains_filter_reaches_scan(spark):
    """The v2 `$contains` predicate must land in the parquet scan's
    PushedFilters (StringContains), not evaluate post-scan only."""
    p = _plan(spark, "contains_filter_docs")
    assert "StringContains" in p, p


def test_q6_all_predicates_pushed(spark):
    """Q6's four predicates must all reach the scan: rowgroup min/max
    stats then prune I/O — the whole plan at 100 TB."""
    p = _plan(spark, "q6_forecast_revenue")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in line, line


def test_q16_not_in_plans_null_aware_anti(spark):
    """NOT IN must become an anti join (null-aware) — never a per-row
    nested-loop subquery re-execution."""
    p = _plan(spark, "q16_supplier_part_variety")
    assert "LeftAnti" in p, p


def test_dedup_first_wins_partial_topk(spark):
    """Ordered first-wins dedup must plan WindowGroupLimit: per-
    partition top-1 BEFORE the shuffle, so the exchange carries one
    row per key per partition, not every duplicate."""
    p = _plan(spark, "dedup_first_wins")
    assert "WindowGroupLimit" in p, p


def test_range_search_has_no_rank_shuffle(spark):
    """Radius search must not plan any Window operator — the threshold
    is a scan-side filter; only the final presentation sort shuffles."""
    p = _plan(spark, "knn_range_search")
    assert "BroadcastExchange" in p, p
    assert "WindowGroupLimit" not in p, p


def test_ivf_persisted_index_prunes_partitions(spark):
    """The persisted IVF layout must plan DYNAMIC PARTITION PRUNING on
    cluster_id: only probed clusters' directories are read — the
    mechanism that makes IVF sublinear at 100 TB."""
    p = _plan(spark, "ann_ivf_persisted_pruned")
    assert "dynamicpruning" in p.lower(), p


def test_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin."""
    p = _plan(spark, "join_hint_shuffle_hash")
    assert "ShuffledHashJoin" in p, p


def test_lateral_topn_decorrelates_to_window_join(spark):
    """The correlated LATERAL (ORDER BY + LIMIT 3) subquery must be
    decorrelated into a rank Window + join — never a per-outer-row
    re-execution of the inner query — and the c_custkey predicate must
    reach the customer parquet scan."""
    p = _plan(spark, "lateral_topn_per_customer")
    assert "Window" in p, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p
    assert "LessThan(c_custkey,200)" in p, p


def test_pivot_multi_agg_single_pass(spark):
    """Pivot with two aggregates per value must stay ONE hash-agg pass
    over events (pivot-as-conditional-agg): no join, no extra scan for
    value discovery (the value list is static)."""
    p = _plan(spark, "pivot_multi_agg")
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "Join" not in p, p


def test_events_ts_loads_as_timestamp(spark):
    """The events loader must normalize `ts` to session-tz TIMESTAMP
    regardless of the fixture's parquet encoding (TIMESTAMP(NANOS) and
    timestamp[us] have both shipped). A hard-coded encoding assumption
    took down ~30 queries in round 2; this pins the contract against
    the live fixture."""
    from vector_search_ner_spark.sources.catalog import load_table

    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes
    # and it must actually be readable (analysis + execution)
    assert ev.select("ts").limit(1).count() == 1


def test_similarity_full_scan_jvm_rank(spark):
    """The partition-offset global rank must (a) stay JVM-side — no
    BatchEvalPython / RDD scan in the plan — and (b) produce ranks
    that are exactly 1..N: the correctness of the offset scheme
    requires both consumers of the sorted frame to observe the same
    partitioning, which the eager localCheckpoint guarantees by
    construction (plans/queries_vector.py) — both branches scan one
    materialized RDD. If the shared partitioning ever stops being
    shared, ranks go non-contiguous and this fails."""
    queries, _ = collect()
    df = queries["similarity_full_scan"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan, plan
    assert "ExistingRDD" in plan, plan
    ranks = sorted(r["rank"] for r in df.select("rank").collect())
    assert ranks == list(range(1, len(ranks) + 1))


def test_staged_pipelines_stay_jvm_side(spark):
    """Both retrieval pipelines must keep their Python Arrow-batched —
    the v1 embedder (ArrowEvalPython) or the v2 candidate pass
    (MapInArrow) — never row-at-a-time BatchEvalPython. The v1 scored
    relation must be persisted (InMemoryTableScan /
    TableCacheQueryStage) so its stage branches share one
    materialization. The v2 pipelines read their candidates once and
    embed the probe batch on the driver, so neither a cache nor an
    embedding UDF (ArrowEvalPython) appears in their plans."""
    for name, arrow_node in (
        ("staged_retrieval_pipeline", "MapInArrow"),
        ("staged_retrieval_v1_hybrid", "ArrowEvalPython"),
        ("chat_pipeline_e2e", "MapInArrow"),
    ):
        p = _plan(spark, name)
        assert "BatchEvalPython" not in p, (name, p)
        assert arrow_node in p, (name, p)
        if arrow_node == "ArrowEvalPython":
            assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p, (name, p)
        else:
            assert "ArrowEvalPython" not in p, (name, p)


def test_runtime_bloom_filter_injected(spark):
    """When the fact-fact join can't broadcast, a selective filter on
    one side must inject a runtime bloom filter (might_contain) into
    the other side's scan — Spark's row-level runtime filtering, the
    scale lever when DPP can't apply (join key isn't a partition col)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(SF + "/lineitem.parquet")
        o = spark.read.parquet(SF + "/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert "might_contain" in buf.getvalue(), buf.getvalue()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_catalog_contract_all_tables(spark):
    """Every fixture table must load through the catalog and expose
    the columns the queries depend on — a fixture regeneration that
    changes an encoding or drops a column should fail HERE, by name,
    not as ~30 downstream AnalysisExceptions (what round 2's events
    timestamp re-encoding did)."""
    from vector_search_ner_spark.sources.catalog import TABLES, load_table

    expected = {
        "region": {"r_regionkey", "r_name"},
        "nation": {"n_nationkey", "n_name", "n_regionkey"},
        "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal"},
        "supplier": {"s_suppkey", "s_name", "s_nationkey"},
        "part": {"p_partkey", "p_name", "p_retailprice"},
        "orders": {"o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"},
        "lineitem": {"l_orderkey", "l_partkey", "l_quantity", "l_shipdate"},
        "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
        "documents": {"doc_id", "text", "lang", "n_chars", "source"},
        "embeddings": {"vec_id", "embedding", "label"},
    }
    for name in TABLES:
        df = load_table(spark, SF, name)
        missing = expected[name] - set(df.columns)
        assert not missing, (name, missing, df.columns)
        assert df.limit(1).count() == 1, name
    # dtype contracts the engine normalizes or depends on
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    emb = load_table(spark, SF, "embeddings")
    assert dict(emb.dtypes)["embedding"].startswith("array"), emb.dtypes


def test_lattice_doc_side_serves_from_vecstore(spark):
    """The retrieval pipelines must SERVE, not re-embed: the docs side
    is a parquet scan of the persisted vector store
    (sources/vecstore.py) — the raw documents.parquet corpus must not
    appear anywhere in the plan (its presence means corpus
    re-embedding crept back into the serve path; the only Python/Arrow
    stage left is the tiny probe-batch embed)."""
    for name in ("staged_retrieval_pipeline", "chat_pipeline_e2e",
                 "staged_retrieval_v1_hybrid"):
        p = _plan(spark, name)
        assert "vecstore" in p, f"{name}: docs side not reading the vector store"
        assert "documents.parquet" not in p, (
            f"{name}: raw corpus scan in the serve path\n{p}"
        )


def test_pii_scrub_is_map_only(spark):
    """PII scrubbing must stay a projection: no Window, no aggregation
    — the only exchange allowed is the output ordering's range
    partitioning. (explain("formatted") prints every node twice, tree
    + details, so counts are per-node-doubled.)"""
    p = _plan(spark, "customer_pii_scrub")
    assert "Window" not in p, p
    assert "HashAggregate" not in p, p
    assert p.count("Exchange") <= 2, p
    assert "rangepartitioning" in p, p


def test_keep_best_picks_canonical_via_partial_agg(spark):
    """The canonical-doc pick must be the MAX-over-struct hash
    aggregation WITH map-side partial combine (partial_max in the
    aggregate's function list) — a million-member dup clique must
    reduce on the mappers, not sort through one reducer."""
    p = _plan(spark, "dedup_keep_best")
    assert "partial_max" in p, p
    assert "partial_count" in p, p


def test_interpolate_single_sort_no_join(spark):
    """Linear interpolation must run as window scans over ONE per-user
    sort — no self-join; exchanges are the window partitioning and the
    output ordering only (node count doubled by formatted explain)."""
    p = _plan(spark, "events_interpolate_linear")
    assert "Join" not in p, p
    assert p.count("Exchange") <= 4, p


def test_v2_lattice_scores_the_store_in_one_arrow_pass(spark):
    """The v2 lattice scores the corpus in ONE map-only MapInArrow pass
    that reads the vector store scan directly and keeps only each
    block's stage candidates — no probe x corpus join of any kind, so
    no corpus-sized relation reaches a shuffle or a sort. The cascade
    over the candidates is ONE grouped Arrow pass per query
    (FlatMapGroupsInArrow), and the only Window left is the final
    rank's."""
    for name in ("staged_retrieval_pipeline", "chat_pipeline_e2e"):
        p = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in p, (name, p)
        assert "CartesianProduct" not in p, (name, p)
        assert "BroadcastHashJoin" not in p, (name, p)
        arrow_in = re.search(r"\(\d+\) MapInArrow\nInput \[\d+\]: (\[.*\])", p)
        store_out = re.search(
            r"\(\d+\) Scan parquet *\nOutput \[\d+\]: (\[.*\])\n.*\nLocation: [^\n]*/vecstore/", p
        )
        assert arrow_in and store_out, (name, p)
        assert arrow_in.group(1) == store_out.group(1), (name, p)
        assert len(re.findall(r"^\(\d+\) FlatMapGroupsInArrow$", p, re.M)) == 1, (name, p)
        windows = re.findall(r"^\(\d+\) Window\nInput \[\d+\]: (\[.*\])$", p, re.M)
        assert len(windows) == 1 and "combined_score" in windows[0], (name, p)


def test_mixture_quota_plans_window_group_limit(spark):
    """Exact-quota mixture sampling must plan the per-source rank
    filter as WindowGroupLimit — each input partition forwards at most
    quota rows per source before the exchange, so the full corpus
    never shuffles."""
    p = _plan(spark, "mixture_resample_quota")
    assert "WindowGroupLimit" in p, p


def test_pack_sequences_distributed_prefix_sum(spark):
    """Sequence packing must compute the global prefix sum WITHOUT a
    data-wide single-partition window or global sort: the only
    SinglePartition exchange feeds the per-bucket totals (one row per
    bucket), the doc-level running sum is partitioned by the static
    hash-range bucket, and bucket offsets come back via broadcast."""
    p = _plan(spark, "dataset_pack_sequences")
    assert "BroadcastExchange" in p, p
    # the big-relation window is partitioned (hashpartitioning on the
    # bucket); SinglePartition may appear only for the tiny totals frame
    doc_window_single = [
        ln for ln in p.splitlines()
        if "SinglePartition" in ln and "rangepartitioning" in ln
    ]
    assert not doc_window_single, p
    assert "Sort" in p and "hashpartitioning" in p, p


def test_lm_surprisal_partial_aggs(spark):
    """The LM build and the per-doc scoring agg must both partial-
    aggregate map-side (partial_count / partial_sum in the plan), and
    the 1-row total must broadcast."""
    p = _plan(spark, "doc_lm_surprisal")
    assert "partial_count" in p, p
    assert "partial_sum" in p, p
    assert "BroadcastExchange" in p, p


def test_bm25_broadcasts_and_group_limits(spark):
    """BM25 must broadcast the query-term batch, the per-term document
    frequencies, and the 1-row corpus stats (the only data-sized
    shuffles key on doc_id/term), and plan the per-query top-k as
    WindowGroupLimit."""
    p = _plan(spark, "bm25_topk")
    assert "WindowGroupLimit" in p, p
    assert p.count("BroadcastExchange") >= 3, p


def test_korean_drift_search_pushes_id_filter_no_shuffle(spark):
    """The Korean drift-coalesce search must stay MAP-ONLY (no
    Exchange anywhere — filter + map-literal projection only) with the
    doc_id range predicate pushed into the parquet scan; the derived
    region/contains logic runs in the same codegen stage above it."""
    p = _plan(spark, "postings_korean_drift_search")
    assert "Exchange" not in p, p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "doc_id" in pushed[0], p


def test_registry_wide_no_cartesian_product(spark, sf_dir):
    """EVERY registered query's physical plan must be free of
    non-broadcast CartesianProduct nodes — the one join shape that is
    always wrong at 100 TB (broadcast nested-loop joins over tiny
    sides are fine and deliberate in the knn/range family). Runs over
    the whole registry so each NEW query inherits the guard the day
    it lands. Skips: streaming queries and persisted-store/sink
    round-trips, whose construction executes side-effecting work —
    their plans are pinned by their dedicated tests instead."""
    from vector_search_ner_spark.registry import collect as _collect

    queries, _ = _collect()
    skip_prefixes = ("stream_",)
    skip = {
        "sink_parquet_roundtrip",
        "sink_orc_roundtrip",
        "pysink_jsonl_roundtrip",
        "vecstore_open_scan",
        "vecstore_incremental_upsert",
        # opens three persisted stores (vecstore + neardup + semantic
        # index), so construction triggers _SUCCESS-gated builds
        "gdpr_delete_cascade",
    }
    offenders = []
    for name, fn in queries.items():
        if name.startswith(skip_prefixes) or name in skip:
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        if "CartesianProduct" in buf.getvalue():
            offenders.append(name)
    assert not offenders, offenders


def test_mmr_plan_is_linear_in_steps(spark):
    """MMR's step frames must be lineage-CUT (eager localCheckpoint):
    every step references all prior steps from three places, so
    without the cuts the logical plan grows exponentially in steps —
    at 5 steps the plan STRING alone OOMs a 1 GB driver. The returned
    plan must therefore be a small union over checkpointed leaves
    (ExistingRDD scans), not a nested re-derivation. The pool stage's
    broadcast + WindowGroupLimit shape is asserted via knn_topk
    (test_knn_partial_topk_before_shuffle) — it runs during the eager
    step materialization here."""
    p = _plan(spark, "mmr_diversified_topk")
    assert "ExistingRDD" in p, p
    assert len(p) < 20_000, f"plan string blew up: {len(p)} chars"


def test_repeated_span_audit_partial_aggregates(spark):
    """The span document-frequency count must partial-aggregate
    map-side before its shuffle (the no-pairwise-blowup property:
    a million-way shared span reduces on the mappers)."""
    p = _plan(spark, "repeated_span_audit")
    assert "partial_count" in p, p
    assert "CartesianProduct" not in p, p


def test_hybrid_ivf_fusion_pruned_leg_shape(spark):
    """The IVF-pruned hybrid must keep BOTH legs' 100 TB shapes in one
    plan: every per-query/per-doc top-k (quantizer argmin, probe
    selection, in-partition rank, BM25 rank, fusion rank) planned as
    WindowGroupLimit partial top-k, the small sides (centroids, query
    batch, corpus stats) broadcast, and no cartesian product — the
    vector leg touches only probed clusters, never the full corpus
    per query."""
    p = _plan(spark, "hybrid_rrf_ivf_fusion")
    assert "WindowGroupLimit" in p, p
    assert p.count("BroadcastExchange") >= 4, p
    assert "CartesianProduct" not in p, p


def test_span_cut_apply_no_corpus_window(spark):
    """The cut-APPLY must keep the span leg's no-pairwise shape
    (map-side partial df count, no cartesian) and the keep-one rank
    must partition by the SPAN HASH — tiny groups — never a window
    over the whole corpus (no empty-frame Window in the plan)."""
    p = _plan(spark, "repeated_span_cut_apply")
    assert "partial_count" in p, p
    assert "CartesianProduct" not in p, p
    # every Window partitions on a key (s for keep-one); an unkeyed
    # window would serialize the corpus through one task
    import re
    for m in re.finditer(r"Arguments: \[row_number\(\).*partitionBy=\[\]", p):
        raise AssertionError(f"unpartitioned window: {m.group(0)}")


def test_hybrid_bq_fusion_pruned_leg_shape(spark):
    """The BQ-pruned hybrid's vector leg must keep `ann_bq_hamming_topk`'s
    shape inside the fused plan: query codes and candidate list
    broadcast (the corpus float table is read only for candidates,
    never shuffled or fully scanned), every rank a WindowGroupLimit
    partial top-k, no cartesian product."""
    p = _plan(spark, "hybrid_rrf_bq_fusion")
    assert "WindowGroupLimit" in p, p
    assert p.count("BroadcastExchange") >= 3, p
    assert "CartesianProduct" not in p, p


def test_bq_topk_broadcasts_codes_and_group_limits(spark):
    """BQ Hamming search must (a) broadcast the query-code batch and
    the candidate list (the corpus code table and the full-vector
    table never shuffle), and (b) cut candidates via the
    WindowGroupLimit partial top-k, (c) with no CartesianProduct —
    the 8-row query side rides a BroadcastNestedLoopJoin."""
    p = _plan(spark, "ann_bq_hamming_topk")
    assert "BroadcastExchange" in p, p
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_snm_neighbor_join_is_equi_join_over_checkpointed_rank(spark):
    """Sorted-neighborhood's neighbor pairing must be an EQUI-join on
    the integer rank (never a cartesian), stay JVM-side, and read the
    ranked relation from its checkpoint on both sides (one scan of a
    materialized frame per side — the rank derivation, with its
    tiny-offsets single-partition window, must not re-execute per
    consumer)."""
    p = _plan(spark, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    # both join inputs come from the checkpointed RDD, not a rebuilt
    # window chain: the plan shows ExistingRDD scans and NO Window
    assert "ExistingRDD" in p, p
    assert "Window" not in p, p


def test_maxsim_bq_pruned_tier_shape(spark):
    """The PLAID-shape pruned MaxSim must keep both halves' scale
    shapes in one plan: Hamming candidate generation rides broadcasts
    of the query-code batch (corpus chunk codes never shuffle), the
    per-(query, q-chunk) candidate cut is a WindowGroupLimit partial
    top-k, the exact re-rank joins the chunk table against BROADCAST
    candidate/query-chunk sets, the MaxSim reduction is partial+final
    hash aggregates, and no CartesianProduct anywhere. The chunk-embed
    index is checkpointed (ExistingRDD) so the embed pipeline runs
    once, not once per consumer."""
    p = _plan(spark, "ann_maxsim_bq_topk")
    assert p.count("BroadcastExchange") >= 3, p
    assert "WindowGroupLimit" in p, p
    assert p.count("HashAggregate") >= 4, p
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p


def test_maxsim_overfetch_curve_shape(spark):
    """The overfetch sweep must re-rank from CHECKPOINTED candidate /
    ground-truth frames (the Hamming scan and the exact MaxSim each
    run once, not once per consumer — ExistingRDD in the final plan),
    keep the per-(setting, query) top-k as WindowGroupLimit, broadcast
    the candidate and query-chunk sets into the re-rank join, and
    contain no CartesianProduct."""
    p = _plan(spark, "ann_maxsim_overfetch_curve")
    assert "ExistingRDD" in p, p
    assert "WindowGroupLimit" in p, p
    assert p.count("BroadcastExchange") >= 2, p
    assert "CartesianProduct" not in p, p


def test_maxsim_is_two_hash_aggs_over_broadcast(spark):
    """MaxSim's reduction must plan as partial+final HASH aggregates
    (map-side combine for both the per-q-chunk max and the per-doc
    sum) over a broadcast of the query chunk set — the corpus chunk
    relation must not shuffle before the first partial aggregate."""
    p = _plan(spark, "late_interaction_maxsim")
    assert "BroadcastExchange" in p, p
    assert p.count("HashAggregate") >= 4, p  # 2 aggs x partial+final
    assert "CartesianProduct" not in p, p


def test_hybrid_maxsim_fusion_pruned_leg_shape(spark):
    """The MaxSim hybrid's vector leg must keep `ann_maxsim_bq_topk`'s
    pruned shape inside the fused plan: chunk index read from its
    checkpoint (ExistingRDD — the explode+embed pipeline never re-runs
    per consumer), query codes / candidate-doc list / query-chunk set
    broadcast (the float chunk corpus is read only for candidates),
    every rank a WindowGroupLimit partial top-k, no cartesian
    product."""
    p = _plan(spark, "hybrid_rrf_maxsim_fusion")
    assert "ExistingRDD" in p, p
    assert "WindowGroupLimit" in p, p
    assert p.count("BroadcastExchange") >= 3, p
    assert "CartesianProduct" not in p, p


def test_chunk_index_upsert_is_delta_sized(spark):
    """Chunk-index maintenance must read the BASE generation from its
    checkpoint (ExistingRDD — never re-derive the corpus chunk/embed
    pipeline), delete updated groups via a BROADCAST anti join of the
    tiny id set (BroadcastHashJoin LeftAnti), and keep the delta's
    embed stage the only Arrow UDF work in the plan — no cartesian."""
    p = _plan(spark, "chunk_index_incremental_upsert")
    assert "ExistingRDD" in p, p
    assert "BroadcastExchange" in p, p
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_incremental_dedup_scans_persisted_index(spark):
    """dedup_incremental_vs_index must READ the persisted shingle/
    minhash index (two parquet scans of the neardup_index store —
    bands posting table + shingle sets), never re-derive the existing
    corpus's tokenization; the shard's probe sides must be BROADCAST
    so the index relations are scanned without shuffling. Exactly the
    contract that makes the op O(new shard) at 100 TB."""
    p = _plan(spark, "dedup_incremental_vs_index")
    index_scans = [
        ln
        for ln in p.splitlines()
        if "neardup_index" in ln and ("Location" in ln or "Scan parquet" in ln)
    ]
    assert len(index_scans) >= 2, p
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_index_compact_serves_from_compacted_generation(spark):
    """dedup_index_compact's returned summary must READ the compacted
    generation (parquet scans under neardup_index_compacted) — one
    relation per table, not base + N deltas, and never a recompute of
    the corpus tokenization. A second call with the generation already
    built must produce the identical frame (compaction is idempotent
    and the _SUCCESS-guarded rebuild is skipped)."""
    p = _plan(spark, "dedup_index_compact")
    compact_scans = [
        ln
        for ln in p.splitlines()
        if "neardup_index_compacted" in ln and ("Location" in ln or "Scan parquet" in ln)
    ]
    assert len(compact_scans) >= 2, p
    assert "CartesianProduct" not in p, p
    from vector_search_ner_spark.registry import collect

    qs, _ = collect()
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, qs["dedup_index_compact"](spark, sf).collect()))
    b = sorted(map(tuple, qs["dedup_index_compact"](spark, sf).collect()))
    assert a == b and a


def test_dsir_model_broadcasts_into_scoring(spark):
    """dsir_importance_select's 100 TB contract: the 128-bucket weight
    table must BROADCAST into the per-doc scoring join (never shuffle
    the exploded gram frame against it), the gram frame must be a
    lineage-cut leaf scanned by both the model build and the scoring
    (one tokenize+explode, not two), and the aggregates must partial-
    combine map-side."""
    p = _plan(spark, "dsir_importance_select")
    assert "BroadcastHashJoin" in p, p
    assert "partial_count" in p or "partial_sum" in p, p
    assert "CartesianProduct" not in p, p
    # the cut gram frame appears as ExistingRDD leaves (the one
    # explode pass feeding model + scoring), never a re-derivation of
    # the corpus tokenization below the scoring join
    assert p.count("Scan ExistingRDD") >= 2, p


def test_semdedup_greedy_loop_state_is_target_sized(spark):
    """The greedy sweep's verdict plan must join the corpus members
    against the TARGET-ONLY status/degree frames (checkpointed leaves
    + the edge aggregate), with no corpus-sized frame re-derived inside
    the loop output and no cartesian anywhere. The loop itself ran
    during construction (driver-gated), so the returned plan is the
    final verdict join."""
    p = _plan(spark, "dedup_semantic_prune_greedy")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p


def test_semantic_incremental_scans_persisted_index(spark):
    """dedup_semantic_incremental must READ the persisted semantic
    cluster index — the member table as an in-plan parquet scan, the
    (tiny) centroid table driver-collected into the Arrow assignment
    kernel's closure (r12 optimization round: the shard argmin is one
    map-only MapInArrow pass instead of a crossJoin + interpreted fold
    + rank window) — and never re-run Lloyd over the existing corpus
    (no centroid-update aggregation in the plan); the shard's
    assignment side must BROADCAST into the member probe so the
    partitioned index is scanned, not shuffled. The semantic twin of
    test_incremental_dedup_scans_persisted_index."""
    p = _plan(spark, "dedup_semantic_incremental")
    index_scans = [
        ln
        for ln in p.splitlines()
        if "semdedup_index" in ln and ("Location" in ln or "Scan parquet" in ln)
    ]
    assert len(index_scans) >= 1, p
    assert "MapInArrow" in p, p
    # the CENTROID side is driver-collected into the Arrow kernel's
    # closure, so it is invisible to the returned plan — spy on
    # collect_centroids to pin that the quantizer is SERVED FROM THE
    # STORE path, never re-derived from the corpus (ADVICE r12: the
    # posexplode-absence assert alone would miss a re-derivation that
    # avoids the Lloyd update shape)
    from vector_search_ner_spark import registry as _reg
    from vector_search_ner_spark.operators import veckernel as _vk

    captured = []
    _orig = _vk.collect_centroids

    def _spy(centroids):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            centroids.explain("formatted")
        captured.append(buf.getvalue())
        return _orig(centroids)

    _vk.collect_centroids = _spy
    try:
        queries, _ = collect()
        queries["dedup_semantic_incremental"](spark, SF)
    finally:
        _vk.collect_centroids = _orig
    assert captured, "assignment kernel never collected centroids"
    assert any("semdedup_index" in c for c in captured), captured[-1]
    # no Lloyd re-run: the centroid UPDATE step's signature is the
    # per-dimension posexplode — absent means the quantizer was served
    # from the store, not re-learned
    assert "posexplode" not in p, p
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_sq_topk_broadcasts_codes_and_group_limits(spark):
    """SQ int8 search must mirror the BQ tier's physical contract:
    (a) the query-code batch and the candidate list broadcast (the
    corpus code table and the full-vector table never shuffle for
    candidate generation), (b) the per-query candidate cut is the
    WindowGroupLimit partial top-k, (c) no CartesianProduct — the
    8-row query side rides a BroadcastNestedLoopJoin."""
    p = _plan(spark, "ann_sq_adc_topk")
    assert "BroadcastExchange" in p, p
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_bloom_prefilter_single_fact_scan(spark, sf_dir):
    """The Bloom probe must be map-only over ONE scan of the fact
    table: every bit check and the member join are broadcast hash
    joins against lineage-cut (ExistingRDD) build relations — the
    first version re-derived the build subtree inside each broadcast
    (16 part scans); this pins the fix."""
    import contextlib
    import io

    from vector_search_ner_spark.registry import collect as _collect

    queries, _ = _collect()
    df = queries["join_bloom_prefilter"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree


def test_source_quota_window_is_keyed(spark, sf_dir):
    """The quota window must partition by source (each domain ranks
    independently across the cluster) — never an unpartitioned global
    sort; and the unigram trainer's seed/prune top-K selections must
    compile to TakeOrderedAndProject, not a single-partition Window
    (the r10 rewrite this pins)."""
    import contextlib
    import io

    from vector_search_ner_spark.registry import collect as _collect

    queries, _ = _collect()

    def tree_of(name):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, sf_dir).explain("formatted")
        return buf.getvalue()

    quota = tree_of("source_quota_enforce")
    # the physical Window must be keyed: a global window would carry
    # a SinglePartition exchange below it
    assert "Window" in quota
    assert "SinglePartition" not in quota, quota

    # the unigram trainer's OUTPUT frame is lineage-cut, so pin the
    # seed selection's plan directly: TakeOrderedAndProject, no Window
    from pyspark.sql import functions as F

    from vector_search_ner_spark.plans.queries_unigram import (
        _uni_occurrences,
        _uni_seed,
        _uni_word_freq,
    )
    from vector_search_ner_spark.sources.catalog import load_table

    wf = _uni_word_freq(load_table(spark, sf_dir, "documents"))
    cand = (
        _uni_occurrences(wf)
        .join(wf, "w")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("c"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _uni_seed(cand).explain("formatted")
    uni = buf.getvalue()
    assert "TakeOrderedAndProject" in uni, uni
    assert "Window" not in uni, uni


def test_reputation_report_is_one_pass(spark, sf_dir):
    """The reputation aggregate reads the corpus ONCE (a single
    parquet scan feeding one partial+final hash-agg pair keyed by
    source) — per-doc quality/fingerprint staging must not re-derive
    the scan per aggregate."""
    import contextlib
    import io

    from vector_search_ner_spark.registry import collect as _collect

    queries, _ = _collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        queries["source_reputation_report"](spark, sf_dir).explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "HashAggregate" in tree, tree


@pytest.mark.parametrize("fold", ["dot_product", "l2_distance"])
def test_vector_fold_casts_simplify_over_double(spark, fold):
    """The folds cast each element to double inside the zip_with lambda;
    over array<double> the optimizer's SimplifyCasts must drop those
    casts (the reason no separate no-cast fold exists), while over
    array<float> the widening casts stay."""
    from pyspark.sql import functions as F

    from vector_search_ner_spark.functions import vector as V

    for elem, casts_kept in (("double", False), ("float", True)):
        df = spark.range(2).select(
            F.array(F.col("id").cast(elem), F.lit(1.0).cast(elem)).alias("a"),
            F.array(F.lit(2.0).cast(elem), F.col("id").cast(elem)).alias("b"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.select(getattr(V, fold)(F.col("a"), F.col("b"))).explain("extended")
        optimized = buf.getvalue().split("== Optimized Logical Plan ==")[1]
        optimized = optimized.split("== Physical Plan ==")[0]
        lambda_body = optimized.split("zip_with(")[1].split("lambdafunction(")[1]
        assert ("cast(lambda" in lambda_body) == casts_kept, (elem, optimized)
