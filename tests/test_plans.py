"""Plan-shape assertions: the physical plans the scale story depends on."""

from __future__ import annotations

import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine
from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import staging_dir

engine.load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def n_scans(plan: str, table: str) -> int:
    """Count SCAN OPERATORS over ``table`` (r17, ADVICE fix): a raw
    ``plan.count("x.parquet")`` substring count is brittle to the path
    also appearing in detail fields; count lines that are scan nodes
    and mention the table's file instead."""
    return sum(
        1
        for line in plan.splitlines()
        if ("Scan parquet" in line or "FileScan parquet" in line)
        and f"{table}.parquet" in line
    )


def test_flagship_broadcasts_dim_and_pushes_filters(spark, sf_dir):
    df = engine.QUERIES["flagship_q3_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    df = engine.QUERIES["join_bucketed"](spark, sf_dir)
    plan = plan_of(df)
    pre_agg = plan.split("HashAggregate")[-1]  # join subtree below the aggs
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # no shuffle between the two bucketed scans and the join
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    df.collect()


def test_partition_pruning_lists_single_partition(spark, sf_dir):
    df = engine.QUERIES["scan_partition_pruned"](spark, sf_dir)
    scan = [
        n for n in plan_of(df).split("\n") if "FileScan" in n or "PartitionFilters" in n
    ]
    joined = " ".join(scan)
    assert "order_year" in joined
    rows = df.collect()
    assert rows[0].n_orders > 0


def test_scan_prunes_columns(spark, sf_dir):
    df = engine.QUERIES["scan_parquet"](spark, sf_dir)
    plan = plan_of(df)
    assert "l_extendedprice" not in plan  # unreferenced column never read


def test_side_effect_queries_are_rerunnable(spark, sf_dir):
    """Queries that write staging/warehouse state must be idempotent
    within one session (the driver may invoke them repeatedly)."""
    for key in ["scan_csv_schema", "sink_parquet", "sink_partitioned",
                "sink_delta_merge", "sink_merge_partitioned",
                "multimodal_frame_sample", "join_bucketed", "sink_scd2_merge",
                "scan_partition_pruned", "sim_ivf_partition_pruned",
                "sink_zorder_layout", "sim_ivf_probe", "sim_lsh_recall_eval",
                "multimodal_resize_meta", "dedup_simhash_stats"]:
        a = engine.QUERIES[key](spark, sf_dir).count()
        b = engine.QUERIES[key](spark, sf_dir).count()
        assert a == b, key


def test_decontaminate_broadcasts_eval_shingles(spark, sf_dir):
    """The eval side of the contamination join must be broadcast —
    a shuffled shingle join at 100 TB would move the full training
    corpus's shingles."""
    df = engine.QUERIES["text_decontaminate"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan_of(df)


def test_rollup_prunes_year_partitions(spark, sf_dir):
    """The incremental-rollup range query must hit only the 1995
    partition of the rollup table."""
    df = engine.QUERIES["agg_incremental_rollup"](spark, sf_dir)
    plan = plan_of(df)
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and "o_year" in " ".join(pf)


def test_minhash_portable_reuses_signature_exchange(spark, sf_dir):
    """The array-packed signature must be computed once and reused by
    all three consumers (banding + both estimate-join sides).  The
    reuse mechanism is an eager localCheckpoint (AQE re-plans consumer
    subtrees independently, which stopped plain exchange reuse from
    firing; a lazy persist can degrade to recompute under
    late-session eviction), so the executed plan must read the
    signature from the materialized RDD — consumers show checkpoint
    scans and NO scan of documents survives in the final plan at all
    (the projection ran once, inside the checkpoint job)."""
    df = engine.QUERIES["dedup_minhash_portable"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("Scan ExistingRDD") >= 3
    # the md5 signature projection fed the checkpoint exactly once,
    # before this plan — the query plan itself re-reads nothing
    assert plan.count("documents.parquet") == 0


def test_ivf_partitioned_scan_prunes_cells(spark, sf_dir):
    """The materialized IVF layout must be read with partition filters
    on cell_id — only the probed cells' directories are scanned."""
    df = engine.QUERIES["sim_ivf_partition_pruned"](spark, sf_dir)
    df.collect()
    # plain toString truncates the scan attributes before
    # PartitionFilters — formatted mode prints them in full
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan and "cell_id" in plan
    # probes are 2 cells per query over 3 queries; with 10 cells total
    # the pruned scan's IN-list must name fewer cells than exist
    import re

    m = re.search(r"PartitionFilters: \[cell_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan[:2000]
    assert len(m.group(1).split(",")) <= 6, m.group(1)


def test_ivf_probe_uses_dynamic_partition_pruning(spark, sf_dir):
    """sim_ivf_probe reads the SAME staged cell-partitioned layout as
    the explicit-prune twin, but prunes at RUNTIME: the broadcast
    probe set must become a dynamicpruningexpression partition filter
    on cell_id — no driver-side cell enumeration, probe cost tracks
    probed cells (the round-7 form recomputed assignment over the
    full corpus: 5.45x warm at 10x data; staged+DPP measured 0.87x)."""
    df = engine.QUERIES["sim_ivf_probe"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruningexpression" in plan and "cell_id" in plan, plan[:2000]


def test_ivfpq_code_index_scan_prunes_cells(spark, sf_dir):
    """The staged IVF-PQ code index is cell-partitioned and the ADC
    scan reads only the probed cells (partition pruning on cell_id) —
    the inverted-file half of IVF-PQ, physically."""
    df = engine.QUERIES["sim_topk_ivfpq"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    m = re.search(r"PartitionFilters: \[cell_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan[:2000]
    assert len(m.group(1).split(",")) <= 6, m.group(1)
    # the scan must read the staged code index, not the raw embeddings,
    # for the ADC stage: raw vectors appear only in the re-rank (and
    # the query-side LUT), so the embeddings table is scanned at most
    # twice while the codes scan carries the partition filter
    assert "pq_codes_v2" in plan


def test_staged_layouts_rebuild_on_source_change(spark, tmp_path):
    """Staged layouts (partitioned orders, IVF cells, bucketed tables)
    are keyed on a fingerprint of their SOURCE data: a regenerated
    fixture at the same path must trigger a rebuild, not silently serve
    the stale layout (r5 ADVICE)."""
    import os
    import shutil

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        source_fingerprint,
        staging_current,
    )

    sfc = str(tmp_path / "sfcopy")
    shutil.copytree("/root/testdata/sf0.001", sfc)
    os.chmod(sfc, 0o755)
    for f in os.listdir(sfc):
        os.chmod(os.path.join(sfc, f), 0o644)
    shutil.rmtree(staging_dir(sfc, ""), ignore_errors=True)

    fp1 = source_fingerprint(sfc, "orders")
    r1 = engine.QUERIES["scan_partition_pruned"](spark, sfc).collect()
    staged = staging_dir(sfc, "orders_by_year")
    assert staging_current(staged, fp1)

    # "regenerate" the fixture: an mtime bump is what a rewritten file
    # looks like to the fingerprint
    os.utime(os.path.join(sfc, "orders.parquet"))
    fp2 = source_fingerprint(sfc, "orders")
    assert fp2 != fp1
    assert not staging_current(staged, fp2)

    # the next run rebuilds from the (same-content) source and re-stamps
    r2 = engine.QUERIES["scan_partition_pruned"](spark, sfc).collect()
    assert staging_current(staged, fp2)
    assert r1 == r2
    shutil.rmtree(staging_dir(sfc, ""), ignore_errors=True)


def test_skew_salted_join_is_shuffled_on_salted_key(spark, sf_dir):
    """The salted join must actually exercise the skew-spreading plan:
    a shuffled (non-broadcast) join whose key includes the salt column,
    with the dim side replicated via explode."""
    df = engine.QUERIES["join_skew_salted"](spark, sf_dir)
    plan = plan_of(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    join_line = next(
        ln for ln in plan.split("\n") if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln
    )
    assert "salt" in join_line
    assert "Generate explode" in plan  # dim replicated S ways
    df.collect()


def test_rowgroup_skipping_pushes_range_filter(spark, sf_dir):
    """The date-range predicate must reach the parquet scan as a pushed
    filter so footer min/max stats can skip files of the date-sorted
    layout before any IO."""
    df = engine.QUERIES["scan_rowgroup_skipping"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderdate" in m.group(1), m.group(0) if m else plan[:1500]
    assert df.collect()[0].n_rows > 0


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    """The dim-join filter must reach the fact scan as a runtime
    partition filter (dynamicpruningexpression), not a full scan."""
    df = engine.QUERIES["join_dynamic_partition_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower()
    df.collect()


def test_compaction_reduces_file_count(spark, sf_dir):
    """sink_compact_small_files: >=64 fragments in, <=4 files out,
    identical row count."""
    import glob

    engine.QUERIES["sink_compact_small_files"](spark, sf_dir).collect()
    frag = glob.glob(f"{staging_dir(sf_dir, 'orders_fragmented')}/part-*")
    comp = glob.glob(f"{staging_dir(sf_dir, 'orders_compacted')}/part-*")
    assert len(frag) >= 32, len(frag)
    assert len(comp) <= 4, len(comp)


def test_interval_banded_join_is_hash_not_nested_loop(spark, sf_dir):
    """The banded rewrite must plan as a broadcast HASH join on band;
    a pure range predicate would fall into BroadcastNestedLoopJoin."""
    df = engine.QUERIES["join_interval_banded"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    df.collect()


def test_runtime_bloom_filter_guards_fact_scan(spark, sf_dir):
    """join_runtime_bloom: the filtered orders side must inject a
    bloom_filter_agg subquery whose might_contain test is applied to
    the lineitem side BEFORE the exchange (runtime row-level filter),
    and the join itself must not be broadcast."""
    df = engine.QUERIES["join_runtime_bloom"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    assert "BroadcastHashJoin" not in plan
    # the might_contain guard must sit on the lineitem (application) side
    lhs = plan.split("might_contain")[0]
    assert "l_orderkey" in plan[plan.index("might_contain"):plan.index("might_contain") + 200]


def test_pq_encode_is_map_side(spark, sf_dir):
    """sim_pq_adc_topk: corpus encoding must be a pure projection
    against the folded literal codebook — the only exchanges allowed
    are the centroid training aggs, the broadcast of the query LUT,
    and the final (q_id, vec_id) partial-sum shuffle.  No shuffle may
    carry raw 64-dim vectors keyed by vec_id."""
    df = engine.QUERIES["sim_pq_adc_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan  # LUT ships broadcast
    # encoding never shuffles the corpus on vec_id before the join
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_zorder_layout_bounds_both_dims(spark, sf_dir):
    """sink_zorder_layout: the staged Morton-ordered files must be
    bounded in BOTH dimensions by their parquet footer stats — a
    price-only band predicate prunes most files without reading data,
    which no 1-D custkey sort could do."""
    import os
    import pyarrow.parquet as pq

    df = engine.QUERIES["sink_zorder_layout"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    path = engine.core.staging_dir(sf_dir, "zorder_orders")
    stats = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo_p, hi_p = None, None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema == "o_totalprice" and c.statistics:
                    s = c.statistics
                    lo_p = s.min if lo_p is None else min(lo_p, s.min)
                    hi_p = s.max if hi_p is None else max(hi_p, s.max)
        stats.append((lo_p, hi_p))
    assert len(stats) >= 8  # repartitionByRange(16) produced a spread
    gmin = min(s[0] for s in stats)
    gmax = max(s[1] for s in stats)
    w = gmax - gmin
    band_lo, band_hi = gmin + w * 7 / 16, gmin + w * 9 / 16
    pruned = sum(1 for lo, hi in stats if hi < band_lo or lo > band_hi)
    # z-order: each file spans ~1/4 of the price range, so a 1/8 band
    # must prune at least a third of the files on footer stats alone
    assert pruned >= len(stats) // 3, (pruned, stats)


def test_null_skew_split_routes_nulls_around_join(spark, sf_dir):
    """join_null_skew_split: the physical plan must be a Union whose
    join branch filters to non-null keys — null-key rows never enter
    an exchange feeding the join."""
    df = engine.QUERIES["join_null_skew_split"](spark, sf_dir)
    plan = plan_of(df)
    assert "Union" in plan
    # Catalyst pushes isnotnull(join_key) through the CASE projection:
    # the join branch's scan filter becomes
    #   CASE WHEN (o_orderkey % 3 = 0) THEN false ELSE isnotnull(o_custkey)
    # — null-key rows are dropped before the join's exchange
    assert "THEN false ELSE isnotnull" in plan
    rows = {r.segment: r.n_orders for r in df.collect()}
    assert "<null-key>" in rows and rows["<null-key>"] > 0


def test_bm25_filters_terms_before_exchange(spark, sf_dir):
    """The posting-list claim: the query-term IN-filter must sit below
    the first aggregate exchange (on the Generate/explode output), and
    the df/stats sides must broadcast."""
    df = engine.QUERIES["search_bm25"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    gen = plan[plan.index("Generate"):] if "Generate" in plan else plan
    # the filter over exploded tokens references the literal term set
    assert "vector" in gen and "stream" in gen and "window" in gen


def _clear_cooccur_staging(sf_dir):
    import glob
    import shutil

    for d in glob.glob(staging_dir(sf_dir, "cooccur_idx_v1_*")):
        shutil.rmtree(d, ignore_errors=True)


def test_cooccurrence_has_single_fact_exchange_chain(spark, sf_dir):
    """Map-side pair fan-out: no self-join of the basket relation —
    the BUILD plan (staged index cleared) contains exactly one
    join-free explode over collect_set output, and the support/
    basket-count sides broadcast."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators.analytics import (
        _cooccur_scored_pairs,
    )

    df = _cooccur_scored_pairs(spark, sf_dir, 1, 10_000)
    plan = plan_of(df)
    assert "Generate explode" in plan
    # no basket self-join anywhere: pairs are map-side fan-out over
    # collect_set output and every support/count join broadcasts, so
    # the whole plan must be free of shuffle joins
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastExchange" in plan
    # the basket relation is aggregated (collect_set), never self-joined
    assert plan.count("collect_set") >= 1


def test_rfm_scoring_is_broadcast_mapside(spark, sf_dir):
    """RFM thresholds ride a broadcast, and no global window exists."""
    df = engine.QUERIES["orders_rfm_segments"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_ttest_is_single_scan(spark, sf_dir):
    """The t-test reads events exactly once (conditional aggregates,
    no per-arm rescans)."""
    df = engine.QUERIES["events_ab_ttest"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1


def test_grid_nearest_has_no_cartesian(spark, sf_dir):
    """The spatial plan must be a hash join on cell keys — never a
    CartesianProduct / BroadcastNestedLoopJoin over the point sets."""
    df = engine.QUERIES["geo_grid_nearest"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_is_hash_join(spark, sf_dir):
    """The banded overlap join must plan as a hash/sort-merge join on
    the band key with the overlap predicate as a residual condition."""
    df = engine.QUERIES["join_interval_overlap"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_heavy_hitters_probe_is_joinless_inset_filter(spark, sf_dir):
    """r17 optimization contract: the CMS probe is four data-adaptive
    bucket-set FILTERS fused into the scan's codegen span — no joins
    anywhere (the r16 broadcast-join probe paid four 32-task broadcast
    builds per execution because createDataFrame(pandas) parallelizes,
    it does not make a LocalTableScan), and exactly one lineitem scan
    feeds the survivor aggregation."""
    df = engine.QUERIES["agg_heavy_hitters_exact"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert n_scans(plan, "lineitem") == 1
    # the probe filter survived into the plan (InSet/In over the
    # xxhash bucket expression, one per hash row j)
    assert plan.count("xxhash64") >= 4


def test_q19_dnf_partial_pushdown(spark, sf_dir):
    """Catalyst must split the OR-of-ANDs predicate: the lineitem-only
    quantity disjunct and the part-only (brand, size) disjunct each
    reach their scan as PushedFilters, and part broadcasts."""
    df = engine.QUERIES["sql_api_q19"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # pushed quantity band
    assert "EqualTo(p_brand,Brand#12)" in plan           # pushed brand/size DNF
    assert "SortMergeJoin" not in plan


def test_staged_index_pass_equals_fresh_build_pass(spark, sf_dir):
    """The round-7 staged indexes (PPJoin prefix/docsets, SimHash and
    MinHash signatures, corpus-dedup canon/signatures, the PQ code
    index + codebook) must produce value-identical results on the
    build pass (cold staging) and the staged pass (warm read) — the
    steady-state read path is an optimization, never a semantic
    fork."""
    import shutil

    staged_keys = {
        "dedup_jaccard_prefix": ["jp_prefix_v3", "jp_shenc_v2", "jp_docsets_v2_c65536"],
        "dedup_simhash": ["simhash_sigs_v1"],
        "dedup_fuzzy_minhash": ["minhash_sigs_v1"],
        "corpus_dedup_pipeline": ["cdp_canon_v1", "cdp_sigs_v1"],
        "sim_pq_adc_topk": ["pq_codes_v2", "pq_codebook_v1"],
        "text_lm_quality": ["lm_docbg_v1"],
        "text_boilerplate_ratio": ["boiler_sh3_v1", "boiler_df3_v1"],
        "corpus_quality_pipeline": [],
        "dedup_lsh_eval": ["lsh_eval_truth_v1"],
        "sql_api_q2": ["tpch_supply_v1"],
    }
    for key, artifacts in staged_keys.items():
        for a in artifacts:
            shutil.rmtree(staging_dir(sf_dir, a), ignore_errors=True)
        # in-process codebook/centroid caches would mask a staging bug;
        # clear them so the cold pass truly rebuilds
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators import (
            similarity as _sim,
        )

        _sim._PQ_CB_CACHE.clear()
        cold = sorted(map(tuple, engine.QUERIES[key](spark, sf_dir).collect()))
        warm = sorted(map(tuple, engine.QUERIES[key](spark, sf_dir).collect()))
        assert cold == warm, key
        assert len(cold) > 0, key


def test_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must plan as a LEFT SEMI join on the
    order key with the late-shipment comparison as a residual join
    predicate — never per-row re-execution — and the quarter band
    must push into the orders scan."""
    df = engine.QUERIES["sql_api_q4"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "GreaterThanOrEqual(o_orderdate" in fmt  # pushed quarter band


def test_q13_outer_join_survives_to_physical_plan(spark, sf_dir):
    """The ON-clause order filter must NOT collapse the outer join to
    an inner join (order-less customers supply the 0 bucket), and the
    per-customer aggregate must reuse the join's c_custkey hashing —
    at most one exchange on the customer key."""
    df = engine.QUERIES["sql_api_q13"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftOuter" in plan
    assert plan.count("Exchange hashpartitioning(c_custkey") <= 1


def test_q2_correlated_min_is_a_window_over_one_tree(spark, sf_dir):
    """r17 optimization contract: Q2's correlated MIN(ps_supplycost)
    runs as a window over the SINGLE outer join tree (the decorrelated
    aggregate-join form re-ran the whole supply⋈dims tree a second
    time) — one staged-supply scan, a min window on p_partkey, no
    per-row subquery node."""
    df = engine.QUERIES["sql_api_q2"](spark, sf_dir)
    plan = plan_of(df)
    assert "min(ps_supplycost_cents" in plan  # the window aggregate
    assert plan.count("tpch_supply_v1") == 1  # supply scanned once
    assert "Subquery" not in plan


def test_q9_single_fact_exchange(spark, sf_dir):
    """Q9's five-way star must scan lineitem ONCE with the selective
    part filter broadcast into it — the join-order story the docstring
    claims (a second fact scan or a shuffled dim would double the
    100 TB cost)."""
    df = engine.QUERIES["sql_api_q9"](spark, sf_dir)
    plan = plan_of(df)
    assert n_scans(plan, "lineitem") == 1
    assert "BroadcastHashJoin" in plan


def test_q16_not_in_plans_null_unaware_anti_join(spark, sf_dir):
    """Q16's NOT IN over the non-null supplier key must take the cheap
    null-unaware LEFT ANTI path (a nullable key would force the
    single-partition null-aware variant)."""
    df = engine.QUERIES["sql_api_q16"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_nested_in_unnests_to_semi_joins(spark, sf_dir):
    """Q20's nested IN + correlated aggregate must fully unnest: a
    LEFT SEMI for the outer membership and an aggregate-join for the
    correlated SUM — zero per-row subquery re-execution."""
    df = engine.QUERIES["sql_api_q20"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    assert "partial_sum" in plan
    assert "Subquery" not in plan


def test_q17_scalar_subquery_decorrelates_to_aggregate_join(spark, sf_dir):
    """The correlated avg(l_quantity) scalar subquery must plan as a
    per-partkey rollup joined back to the fact (an aggregate above a
    lineitem scan, then a join) — not a per-row subquery."""
    df = engine.QUERIES["sql_api_q17"](spark, sf_dir)
    plan = plan_of(df)
    # the rollup exists (partial_avg under an exchange on partkey) and
    # joins back to the fact (broadcast at fixture scale, shuffled at
    # cluster scale — either is the decorrelated shape)
    assert "partial_avg(l_quantity" in plan
    assert "Join" in plan
    assert "Subquery" not in plan  # fully decorrelated, no per-row subquery node


def test_q21_single_fact_scan_single_fact_exchange(spark, sf_dir):
    """r16 optimization contract: the Spark-side Q21 folds the spec's
    EXISTS/NOT-EXISTS (which decorrelate to a LEFT SEMI + LEFT ANTI,
    each with its own full lineitem scan+shuffle) into ONE two-level
    per-order rollup — the plan must scan lineitem exactly once, and
    the explicit REPARTITION(l_orderkey) must be the only
    lineitem-sized exchange (both aggregation levels and the orders
    join reuse it, so no semi/anti trees and no repeated fact scan)."""
    df = engine.QUERIES["sql_api_q21"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert n_scans(plan, "lineitem") == 1
    # the values the correlations tested still gate the output
    assert "n_supp" in plan and "n_flagged" in plan


def test_q22_scalar_threshold_evaluates_once(spark, sf_dir):
    """r16 optimization contract: the count and sum threshold
    aggregates ride ONE 1-row aggregate cross-joined in (the spec's
    two scalar subqueries each re-scanned customer), and NOT EXISTS
    still plans as a LEFT ANTI join on c_custkey.  Customer appears
    exactly twice: the outer scan and the threshold scan."""
    df = engine.QUERIES["sql_api_q22"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert n_scans(plan, "customer") == 2


def test_q8_deep_star_broadcasts_every_dim(spark, sf_dir):
    """The 8-table market-share star must broadcast all six dimension
    lookups (part, supplier, customer, nation x2, region); the only
    shuffled join is lineitem⋈orders on the order key."""
    df = engine.QUERIES["sql_api_q8"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q15_max_revenue_is_scalar_subquery(spark, sf_dir):
    """The max-revenue threshold must be a one-shot scalar subquery
    over the supplier-sized rollup, not a join explosion; the rollup
    aggregates lineitem with a map-side partial."""
    df = engine.QUERIES["sql_api_q15"](spark, sf_dir)
    plan = plan_of(df)
    assert "Subquery" in plan or "scalar-subquery" in plan
    assert "partial_sum" in plan


def test_pareto_abc_prefix_sum_is_range_partitioned(spark, sf_dir):
    """The revenue-ordered running sum must ride a range exchange (the
    distributed two-phase prefix sum), never a single-partition global
    window: no empty-partition-spec Window in the executed plan."""
    df = engine.QUERIES["orders_pareto_abc"](spark, sf_dir)
    plan = plan_of(df)
    assert "rangepartitioning(cents" in plan.replace(" ", "").lower() or (
        "Exchange rangepartitioning" in plan
    )
    assert "Exchange SinglePartition" not in plan.split("HashAggregate")[0]


def test_ngram_entropy_single_corpus_exchange(spark, sf_dir):
    """Token occurrences must collapse map-side into (doc, token)
    counts — one corpus-volume exchange — and the per-doc rollup must
    reuse the doc_id hashing (no second corpus-sized shuffle)."""
    df = engine.QUERIES["text_ngram_entropy"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_count" in plan or "partial_sum" in plan
    # the explode feeds a partial aggregate below the first exchange
    gen_idx = plan.find("Generate explode")
    agg_idx = plan.find("HashAggregate")
    assert gen_idx != -1 and agg_idx != -1


def test_plan_budget_spotcheck(spark, sf_dir):
    """Fast lockfile gate: a representative slice of keys must not
    exceed their recorded exchange/scan budgets (full sweep:
    `python tools/plan_budget.py`).  Catches the hidden-rescan /
    extra-exchange regression class in CI without the 233-key cost."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_budget import BUDGET_PATH, shape_of

    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    keys = [
        "flagship_q3_topk", "events_cooccurrence_lift", "dq_expectations",
        "dedup_ngram_jaccard", "orders_rfm_segments", "sql_api_q21",
        "orders_pareto_abc", "corpus_quality_weighted_sample",
    ]
    for key in keys:
        cur = shape_of(engine.QUERIES[key](spark, sf_dir))
        b = budget[key]
        assert cur["exchanges"] <= b["exchanges"], (key, cur, b)
        for tbl, n in cur["scans"].items():
            assert n <= b["scans"].get(tbl, 0), (key, tbl, cur, b)


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL (ORDER BY ... LIMIT 2) must plan as a
    ranked window over one co-partitioned join — not per-customer
    re-execution (no Subquery node survives)."""
    df = engine.QUERIES["join_lateral_topn"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan or "TakeOrdered" in plan
    assert "Subquery" not in plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """SCALE.md's global posture claims AQE skew-join splitting is the
    engine's safety net for hot keys that reach a shuffled join.  Pin
    that to evidence: a join where one key holds ~100x the rows of any
    other, with AQE skew thresholds scaled to the fixture, must show
    `skew=true` on the SortMergeJoin in the FINAL adaptive plan."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # fixture-scale thresholds: the defaults (256 MB) would need GBs
        # of skew to trigger; the RATIO test (factor 2) is what matters
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force a shuffled join: broadcast would hide the skew path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        pad = F.lpad(F.lit("x"), 64, "x")
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            pad.alias("payload"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), pad.alias("dpay")
        )
        # NOTE: no groupBy("k") downstream — an operator requiring the
        # join's hash partitioning makes AQE legally skip the split
        # (split partitions violate the required distribution), which
        # is itself part of the documented behavior: route aggregations
        # BEFORE a skewed join, or accept the unsplit plan.
        joined = fact.join(dim, "k").select(F.length("payload").alias("n"))
        joined.collect()  # AQE re-plans at runtime; must execute first
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "skew=true" in plan, plan[:4000]
        assert "isFinalPlan=true" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_topk_per_group_pushes_window_group_limit(spark, sf_dir):
    """Top-N-per-group must not sort whole partitions: Spark's
    WindowGroupLimit pushes the rank<=N cut below the window sort, so
    each map task keeps N rows per group before the exchange — the
    difference between shuffling N*groups rows and shuffling the
    corpus at 100 TB."""
    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    df = engine.QUERIES["topk_per_group"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "WindowGroupLimit" in plan


def test_text_hot_path_is_single_codegen_span(spark, sf_dir):
    """The per-doc text kernels must stay inside whole-stage codegen
    (the 'JVM-side, no Python in the hot path' posture): token counting
    compiles to ONE codegen span directly over the parquet scan — no
    exchange, no BatchEvalPython, no row-at-a-time UDF node."""
    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    df = engine.QUERIES["text_token_count"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BatchEvalPython" not in plan and "Exchange" not in plan
    spans = {
        line.split(")")[0].strip("*( ")
        for line in plan.splitlines()
        if line.strip().startswith("*(")
    }
    assert len(spans) == 1, plan


def test_every_registered_query_is_driver_canonicalizable(spark):
    """Driver-canon pin (r9 postmortem): the driver compares results
    through PANDAS — Spark via toPandas (ArrayType -> ndarray cells,
    unhashable under the driver's sort_values; DecimalType ->
    object-dtype Decimal) vs DuckDB via .df() (DECIMAL/HUGEINT ->
    float64).  So a driver-facing column that is array/map/struct
    typed ERRORS at the driver and a decimal-typed one HASH-DIVERGES
    even when every value is equal — both happened in r9 to queries
    that were exact-equality green locally.  This pin builds every
    registered query's plan at sf0.001 and asserts no driver-facing
    column carries those types; complex types stay internal (tests
    exercise them directly) and ship comma-joined (agg_collect
    convention) or widened to BIGINT/DOUBLE at the emit site."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    import __spark_entry__ as entry

    offenders = []
    for key, fn in entry.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, DecimalType)):
                offenders.append((key, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def test_kmeans_staged_codebook_matches_fresh_training(spark, sf_dir):
    """sim_kmeans_build stages its trained codebook (fingerprint-gated,
    like the IVF/PPJoin layouts): the warm path must return results
    bit-identical to fresh training (parquet round-trips float64
    exactly), and a source-fingerprint change must force a retrain."""
    import os
    import shutil

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        source_fingerprint,
        staging_current,
    )

    sf = sf_dir
    staged = staging_dir(sf, "kmeans_codebook_v1_k8_i2")
    shutil.rmtree(staged, ignore_errors=True)

    fresh = engine.QUERIES["sim_kmeans_build"](spark, sf).collect()
    fp = source_fingerprint(sf, "embeddings")
    assert staging_current(staged, fp), "fresh run must stage the codebook"

    warm = engine.QUERIES["sim_kmeans_build"](spark, sf).collect()
    assert warm == fresh

    # stale stamp ⇒ the next run retrains (and still agrees)
    with open(os.path.join(staged, "_SG_FINGERPRINT"), "w") as fh:
        fh.write("stale")
    retrained = engine.QUERIES["sim_kmeans_build"](spark, sf).collect()
    assert staging_current(staged, fp)
    assert retrained == fresh


def test_cooccurrence_guards_forced_on_are_visible_and_value_neutral(spark, sf_dir):
    """The lift key's 100-TB guards: forcing min_support on must put a
    broadcast LeftSemi (the a-priori prune) into the plan ahead of the
    collect_set, keep the plan free of shuffle joins, and change NO
    output row (value-neutral for min_support <= the HAVING threshold).
    The default resolves by source size (cost-gated), so the forced
    call is how the guard stays pinned at fixture scale."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators.analytics import (
        events_cooccurrence_lift,
    )

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators.analytics import (
        _cooccur_scored_pairs,
    )

    guarded = _cooccur_scored_pairs(spark, sf_dir, 2, 10_000)
    plan = plan_of(guarded)
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    _clear_cooccur_staging(sf_dir)
    g_rows = events_cooccurrence_lift(spark, sf_dir, min_support=2).collect()
    _clear_cooccur_staging(sf_dir)
    u_rows = events_cooccurrence_lift(spark, sf_dir, min_support=1).collect()
    assert g_rows == u_rows


def test_cooccurrence_staged_index_matches_fresh_build(spark, sf_dir):
    """events_cooccurrence_lift stages its scored pair relation
    (fingerprint-gated): warm output must be bit-identical to a fresh
    build (exact BIGINT counts round-trip parquet losslessly), and a
    stale stamp must force a rebuild that still agrees."""
    import glob
    import os
    import shutil

    sf = sf_dir
    for d in glob.glob(staging_dir(sf, "cooccur_idx_v1_*")):
        shutil.rmtree(d, ignore_errors=True)

    fresh = engine.QUERIES["events_cooccurrence_lift"](spark, sf).collect()
    staged = glob.glob(staging_dir(sf, "cooccur_idx_v1_*"))
    assert staged, "fresh run must stage the pair index"

    warm = engine.QUERIES["events_cooccurrence_lift"](spark, sf).collect()
    assert warm == fresh

    with open(os.path.join(staged[0], "_SG_FINGERPRINT"), "w") as fh:
        fh.write("stale")
    rebuilt = engine.QUERIES["events_cooccurrence_lift"](spark, sf).collect()
    assert rebuilt == fresh


def test_bm25_staged_index_matches_fresh_build(spark, sf_dir):
    """search_bm25/search_hybrid_rrf read a staged inverted index
    (posting lists + df + doc lengths + stats meta): warm output must
    be identical to a fresh build, and a stale stamp must rebuild."""
    import glob
    import os
    import shutil

    sf = sf_dir
    for d in glob.glob(staging_dir(sf, "bm25_*")):
        shutil.rmtree(d, ignore_errors=True)

    fresh = engine.QUERIES["search_bm25"](spark, sf).collect()
    staged = sorted(glob.glob(staging_dir(sf, "bm25_*")))
    assert len(staged) == 3, staged

    warm = engine.QUERIES["search_bm25"](spark, sf).collect()
    assert warm == fresh

    with open(os.path.join(staged[0], "_SG_FINGERPRINT"), "w") as fh:
        fh.write("stale")
    rebuilt = engine.QUERIES["search_bm25"](spark, sf).collect()
    assert rebuilt == fresh
