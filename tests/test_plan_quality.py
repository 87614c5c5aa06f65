"""Plan-quality gate over the driver's relational/LLM queries: no
cartesian products, no broadcast nested-loop joins, and no row-at-a-time
Python UDFs (BatchEvalPython) anywhere in the physical plans. Arrow
pandas UDFs (ArrowEvalPython / MapInPandas) are the allowed Python path.

This pins the 100 TB posture mechanically: a refactor that silently
turns a bucketed join back into an all-pairs product, or a vectorized
UDF into a per-row one, fails here rather than in a cluster."""

import pytest

import __spark_entry__ as mod

# read-path queries only: table-format fixture queries build whole
# tables (minutes each) and their write plans are covered by the
# operator tests
READ_QUERIES = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13",
    "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19",
    "tpch_q20", "tpch_q21", "tpch_q22",
    "events_latest_per_user", "events_hourly_agg", "events_sessionize",
    "events_funnel",
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_embedding",
    "similarity_topk", "similarity_ann_lsh", "similarity_ann_ivf",
    "text_stats", "multimodal_features", "multimodal_frame_sample",
    "sampling_stratified", "sampling_deterministic", "sampling_mixture",
    "sampling_epoch_shuffle",
    "pipeline_pack_sequences", "pipeline_training_data",
    "text_vocab_topk", "text_contamination", "text_fingerprint_groups",
    "text_pii_scrub", "text_repetition",
    "dedup_components", "dedup_canonical",
    "dedup_incremental", "text_chunking",
]

# table-format fixture queries: each builds a whole Hudi table (minutes
# of write ops); their write plans are covered by the operator tests and
# their read plans by the pushdown test below, so they are exempt here.
TABLE_FORMAT_QUERIES = {
    "cow_snapshot_upsert_delete", "cow_incremental", "cow_time_travel",
    "mor_snapshot", "mor_read_optimized", "mor_compaction",
    "mor_incremental", "mor_skip_merge",
    "merge_into_update_delete", "insert_overwrite_delete_partition",
    "precombine_dedup", "bootstrap_metadata_only", "bootstrap_full_record",
    "global_index_partition_move", "bloom_index_upsert_delete",
    "global_bloom_partition_move", "inmemory_index_upsert_delete",
    "record_index_upsert_delete", "incremental_partition_glob",
    "clustering_sort", "clustering_zorder", "clustering_hilbert_async",
    "schema_evolution_add_column", "cdc_aws_dms",
    "virtual_keys_snapshot",
}


def test_every_registered_query_is_plan_gated():
    """Every queries() entry is either plan-gated here or explicitly
    exempted as a table-format fixture query — a new read query can't
    silently skip the scale-killer gate."""
    registered = set(mod.queries())
    gated = set(READ_QUERIES) | TABLE_FORMAT_QUERIES
    missing = registered - gated
    assert not missing, f"queries not plan-gated nor exempted: {sorted(missing)}"
    stale = gated - registered
    assert not stale, f"gate lists unregistered queries: {sorted(stale)}"


SF = "/root/testdata/sf0.001"

FORBIDDEN = [
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",  # row-at-a-time Python UDF
]


# similarity_topk is the documented exact brute-force baseline: a
# BROADCAST of the (small) query set against a linear corpus scan —
# linear in corpus size, the right exact shape when queries << corpus.
# The nested-loop there is deliberate, not an accident.
ALLOWED_NESTED_LOOP = {"similarity_topk"}


@pytest.mark.parametrize("name", READ_QUERIES)
def test_plan_has_no_scale_killers(spark, name):
    qs = mod.queries()
    df = qs[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        if bad == "BroadcastNestedLoopJoin" and name in ALLOWED_NESTED_LOOP:
            continue
        assert bad not in plan, f"{name}: {bad} in physical plan\n{plan[:2000]}"


def test_cow_snapshot_pushdown_and_pruning(spark, tmp_table_path):
    """User predicates and projections must reach the parquet scan of a
    COW snapshot (PushedFilters + pruned ReadSchema) — Catalyst sees our
    snapshot as a plain file scan, so pushdown survives the view."""
    from pyspark.sql import functions as F

    from hudi_0_10_0_spark import HudiTable, WriteConfig

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = HudiTable.create(
        spark, tmp_table_path + "/pd",
        WriteConfig(record_key_field="o_orderkey", partition_field=None,
                    precombine_field="o_orderdate"),
    )
    t.bulk_insert(orders)
    q = (
        t.snapshot()
        .filter(F.col("o_orderkey") > 1000)
        .select("o_orderkey", "o_totalprice")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan.split("PushedFilters", 1)[1][:200], plan[:1500]
    # projection pruning: the scan should not read all 6 columns
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "o_orderpriority" not in read_schema, read_schema


def _own_plan_nodes(plan):
    """Nodes of a physical plan, skipping the plans of cached frames it
    scans (an InMemoryTableScan keeps those as inner children)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_cow_reconcile_plan_shapes(spark, orders, tmp_table_path, monkeypatch):
    """The COW rewrite's physical plans, from the frame handed to the
    writer: the broadcast reconcile (upsert and delete alike) streams the
    stored file scan into the join with no Exchange, and the kernel
    shuffles stored ∪ incoming exactly once, by file group."""
    import dataclasses
    import re

    from pyspark.sql import functions as F

    from hudi_0_10_0_spark import HudiTable, WriteConfig
    from hudi_0_10_0_spark.operators import write as W

    written = []
    orig = W.write_instant_files

    def capture(table, df, *a, **k):
        written.append(_own_plan_nodes(df._jdf.queryExecution().executedPlan()))
        return orig(table, df, *a, **k)

    monkeypatch.setattr(W, "write_instant_files", capture)
    t = HudiTable.create(
        spark, tmp_table_path,
        WriteConfig(record_key_field="o_orderkey", partition_field="o_orderpriority",
                    precombine_field="o_orderdate"),
    )
    t.bulk_insert(orders)
    some = orders.filter(F.col("o_orderkey") % 7 == 0)
    t.upsert(some.withColumn("o_orderstatus", F.lit("X")))
    t.delete(some.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderpriority"))
    t.cfg = dataclasses.replace(t.cfg, upsert_broadcast_budget_bytes=0)
    t.upsert(some.withColumn("o_orderstatus", F.lit("Y")))
    _, upsert, delete, kernel = written

    for nodes in (upsert, delete):
        joins = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
        assert len(joins) == 1, [n.nodeName() for n in nodes]
        stored = _own_plan_nodes(joins[0].streamedPlan())
        names = [n.nodeName() for n in stored]
        assert any(n.startswith("Scan ") for n in names), names
        assert "Exchange" not in names, names

    by_group = re.compile(
        r"hashpartitioning\(_hoodie_file_id#\d+, _hoodie_partition_path#\d+, \d+\)"
    )
    shuffles = [n for n in kernel if n.nodeName() == "Exchange"]
    assert len(shuffles) == 1, [n.simpleString(100) for n in shuffles]
    assert by_group.search(shuffles[0].simpleString(100)), shuffles[0].simpleString(100)
    assert "Union" in [n.nodeName() for n in _own_plan_nodes(shuffles[0])]
    assert not [n for n in kernel if n.nodeName() == "BroadcastHashJoin" and any(
        m.nodeName().startswith("Scan ") for m in _own_plan_nodes(n.streamedPlan())
    )]
