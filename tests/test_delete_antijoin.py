"""COW reconcile strategies must answer alike. A delete is an upsert of
EmptyPayload tombstones, so deletes and upserts share one chooser
(``write._choose_reconcile``) and one budget,
``upsert_broadcast_budget_bytes``: the default budget runs the broadcast
merge (``broadcast_merge_stored``), a budget of 0 the union+window kernel
(``merge_stored_and_incoming``). Both must write the same rows across the
edge shapes that could distinguish them — duplicate incoming keys,
duplicate stored keys, absent keys, a fully-emptied file group, inserts
packed into a small file — and untouched rows must keep their ORIGINAL
commit time (incremental-query correctness)."""

import dataclasses
import json
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from hudi_0_10_0_spark import HudiTable, WriteConfig
from hudi_0_10_0_spark.config import WriteOperation
from hudi_0_10_0_spark.operators import write as W


@pytest.fixture()
def reconciles(monkeypatch):
    """Names of the reconcile functions the writes of one test called."""
    called = []
    for name in ("broadcast_merge_stored", "merge_stored_and_incoming"):
        fn = getattr(W, name)

        def spy(*a, _fn=fn, _name=name, **k):
            called.append(_name)
            return _fn(*a, **k)

        monkeypatch.setattr(W, name, spy)
    return called


def _force_kernel(t):
    t.cfg = dataclasses.replace(t.cfg, upsert_broadcast_budget_bytes=0)


def _mk(spark, path, orders, **cfg_kw):
    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderpriority",
            precombine_field="o_orderdate",
            inline_compact=False,
            auto_clean=False,
            auto_archive=False,
            **cfg_kw,
        ),
    )
    t.bulk_insert(orders)
    return t


def _rows(t):
    # commit times differ across independently-built tables — compare
    # data columns only; commit-time preservation is asserted per-table
    return sorted(
        tuple(r)
        for r in t.snapshot().select("o_orderkey", "o_orderstatus").collect()
    )


def test_antijoin_delete_equals_kernel_delete(
    spark, orders, tmp_table_path, reconciles
):
    # duplicate keys in the batch + absent keys + one partition fully
    # cleared: both strategies must produce identical snapshots
    dels = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderpriority")
        .unionByName(  # duplicates of the same keys
            orders.filter(F.col("o_orderkey") % 8 == 0).select(
                "o_orderkey", "o_orderpriority"
            )
        )
        .unionByName(  # absent keys
            orders.limit(20)
            .select(
                (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
                "o_orderpriority",
            )
        )
    )
    fast = _mk(spark, f"{tmp_table_path}/fast", orders)
    c0_fast = fast.commits()[0]
    fast.delete(dels)
    assert reconciles == ["broadcast_merge_stored"]

    slow = _mk(spark, f"{tmp_table_path}/slow", orders)
    _force_kernel(slow)
    slow.delete(dels)
    assert reconciles[1:] == ["merge_stored_and_incoming"]

    assert _rows(fast) == _rows(slow)
    # survivors keep the ORIGINAL bulk-insert commit time
    cts = {
        r[0] for r in fast.snapshot().select("_hoodie_commit_time").distinct().collect()
    }
    assert cts == {c0_fast}


def test_antijoin_delete_empties_a_whole_partition(spark, orders, tmp_table_path):
    t = _mk(spark, tmp_table_path, orders)
    part = "5-LOW"
    t.delete(
        orders.filter(F.col("o_orderpriority") == part).select(
            "o_orderkey", "o_orderpriority"
        )
    )
    snap = t.snapshot()
    assert snap.filter(F.col("o_orderpriority") == part).count() == 0
    assert (
        snap.count()
        == orders.count() - orders.filter(F.col("o_orderpriority") == part).count()
    )


def _dup_table(spark, path, **cfg_kw):
    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="id", partition_field="part",
            precombine_field="v", inline_compact=False, **cfg_kw,
        ),
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, "p0", 10), (1, "p0", 20), (2, "p0", 5)],
            "id long, part string, v long",
        )
    )
    return t


@pytest.mark.parametrize("budget", [None, 0])
def test_delete_preserves_untouched_duplicate_stored_keys(
    spark, tmp_table_path, budget, reconciles
):
    """ENGINE-WIDE contract: duplicate STORED keys of a rewritten group
    stream through per-row on BOTH the broadcast merge and the kernel —
    the reference merge-handle writes each stored record independently
    (HoodieMergeHandle.write probes the incoming map per old record).
    Deleting key 2 must not silently dedup key 1's duplicates, and the
    outcome must not depend on the broadcast budget."""
    t = _dup_table(spark, tmp_table_path)
    if budget is not None:
        _force_kernel(t)
    t.delete(spark.createDataFrame([(2, "p0")], "id long, part string"))
    assert reconciles == [
        "broadcast_merge_stored" if budget is None else "merge_stored_and_incoming"
    ]
    got = sorted(tuple(r) for r in t.snapshot().select("id", "v").collect())
    assert got == [(1, 10), (1, 20)]


@pytest.mark.parametrize("budget", [None, 0])
def test_upsert_merges_each_duplicate_stored_key_per_row(
    spark, tmp_table_path, budget, reconciles
):
    """Same engine-wide contract on the UPSERT side: an incoming update
    whose key has duplicate STORED rows merges with EACH of them
    (reference per-row semantics) — two stored (1, v=10)/(1, v=20) rows
    updated by one incoming (1, v=30) yield two v=30 rows, on the
    broadcast merge and the kernel alike."""
    t = _dup_table(spark, tmp_table_path)
    if budget is not None:
        _force_kernel(t)
    t.upsert(
        spark.createDataFrame([(1, "p0", 30)], "id long, part string, v long")
    )
    assert reconciles == [
        "broadcast_merge_stored" if budget is None else "merge_stored_and_incoming"
    ]
    got = sorted(tuple(r) for r in t.snapshot().select("id", "v").collect())
    assert got == [(1, 30), (1, 30), (2, 5)]


# ---- broadcast vs kernel differential, per payload ----------------------

_SCHEMA = "id long, part string, v long, s string, Op string"
# p0 holds a duplicate stored key (1) and the untouched key 4; every
# group of p1 is emptied by the batch; all files are small, so the
# batch's inserts pack into existing groups
_STORED = [
    (1, "p0", 10, "a", "I"), (1, "p0", 20, "b", "I"), (2, "p0", 5, "c", "I"),
    (3, "p0", 7, "d", "I"), (4, "p0", 1, "e", "I"),
    (10, "p1", 3, "f", "I"), (11, "p1", 3, "g", "I"),
]
# duplicate incoming key 2 (preCombine disabled); key 3 with a LOWER
# ordering value (DefaultPayload keeps the stored row); key 1 with a
# null field (OverwriteNonDefaults keeps the stored value); deletes of
# 10 and 11; absent keys 99 (insert) and 98 (delete of nothing)
_BATCH = [
    (1, "p0", 30, None, "U", False),
    (2, "p0", 50, "x", "U", False),
    (2, "p0", 40, "y", "U", False),
    (3, "p0", 2, "z", "U", False),
    (10, "p1", None, None, "D", True),
    (11, "p1", None, None, "D", True),
    (99, "p0", 9, "new", "I", False),
    (98, "p1", None, None, "D", True),
]


def _diff_table(spark, path, payload):
    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="id", partition_field="part",
            precombine_field="v",
            # a delete runs EmptyPayload whatever the table's payload
            payload="overwrite_latest" if payload == "delete" else payload,
            combine_before_upsert=False, inline_compact=False,
            auto_clean=False, auto_archive=False,
        ),
    )
    t.bulk_insert(spark.createDataFrame(_STORED, _SCHEMA))
    return t


def _apply_batch(spark, t, payload):
    if payload == "delete":
        # both copies of the duplicate stored key 1, a duplicate
        # tombstone for 2, the whole of p1 and the absent key 98
        keys = [(1, "p0"), (2, "p0"), (2, "p0"), (10, "p1"), (11, "p1"), (98, "p1")]
        t.delete(spark.createDataFrame(keys, "id long, part string"))
        return
    if payload == "aws_dms":  # Op='D' is its delete; the others use the marker
        t.upsert(spark.createDataFrame([r[:5] for r in _BATCH], _SCHEMA))
    else:
        t.upsert(spark.createDataFrame(_BATCH, _SCHEMA + ", _hoodie_is_deleted boolean"))


def _full_rows(t):
    """Every data column, plus each row's commit as its position on the
    table's timeline (0 = the bulk insert, i.e. an untouched row)."""
    order = {c: i for i, c in enumerate(t.commits())}
    return sorted(
        (order[r[0]],) + tuple(r[1:])
        for r in t.snapshot()
        .select("_hoodie_commit_time", "id", "part", "v", "s", "Op")
        .collect()
    )


@pytest.mark.parametrize(
    "payload",
    ["overwrite_latest", "default", "overwrite_non_defaults", "aws_dms", "delete"],
)
def test_broadcast_equals_kernel(spark, tmp_table_path, payload, reconciles):
    fast = _diff_table(spark, f"{tmp_table_path}/fast", payload)
    _apply_batch(spark, fast, payload)
    assert reconciles == ["broadcast_merge_stored"]

    slow = _diff_table(spark, f"{tmp_table_path}/slow", payload)
    _force_kernel(slow)
    _apply_batch(spark, slow, payload)
    assert reconciles[1:] == ["merge_stored_and_incoming"]

    got = _full_rows(fast)
    assert got == _full_rows(slow)
    by_key = {}
    for ct, k, *rest in got:
        by_key.setdefault(k, []).append((ct, *rest))
    # shared expectations, whatever the payload: p1 emptied, no row for
    # the absent delete key, the untouched row keeps the bulk commit
    assert not {10, 11, 98} & set(by_key)
    assert by_key[4] == [(0, "p0", 1, "e", "I")]
    if payload == "delete":
        assert sorted(by_key) == [3, 4]
        assert by_key[3] == [(0, "p0", 7, "d", "I")]
    else:
        assert by_key[99] == [(1, "p0", 9, "new", "I")]
        assert len(by_key[1]) == 2 and len(by_key[2]) == 1
    if payload == "default":
        assert by_key[3] == [(0, "p0", 7, "d", "I")]  # lower v loses
    if payload == "overwrite_non_defaults":
        assert {r[3] for r in by_key[1]} == {"a", "b"}  # null keeps stored


# ---- the chooser, without Spark -----------------------------------------


def _slices(n=2, logs=False):
    return [SimpleNamespace(logs=[object()] if logs else []) for _ in range(n)]


@pytest.mark.parametrize(
    "operation,old_slices,merge_bytes,budget,expected",
    [
        (WriteOperation.INSERT, _slices(), 10, 100, "append"),
        (WriteOperation.UPSERT, [], 10, 100, "fresh"),
        (WriteOperation.INSERT, [], 10, 100, "fresh"),
        (WriteOperation.UPSERT, _slices(logs=True), 10, 100, "kernel"),
        (WriteOperation.UPSERT, _slices(), 100, 100, "broadcast"),
        (WriteOperation.DELETE, _slices(), 100, 100, "broadcast"),
        (WriteOperation.UPSERT, _slices(), 101, 100, "kernel"),
        (WriteOperation.DELETE, _slices(), 101, 100, "kernel"),
        (WriteOperation.UPSERT, _slices(), 0, 0, "kernel"),
        (WriteOperation.DELETE, _slices(), 10, 0, "kernel"),
    ],
)
def test_choose_reconcile(operation, old_slices, merge_bytes, budget, expected):
    assert W._choose_reconcile(operation, old_slices, merge_bytes, budget) == expected


def test_config_with_dropped_delete_budget_still_loads(spark, orders, tmp_table_path):
    """Tables written before the delete budget was folded into
    ``upsert_broadcast_budget_bytes`` store that key in their config; a
    load must ignore it, not fail."""
    t = _mk(spark, tmp_table_path, orders)
    cfg_path = f"{t.meta_path}/table_config.json"
    stored = json.loads(t.fs.read_text(cfg_path))
    stored["delete_antijoin_broadcast_budget_bytes"] = 64 << 20
    t.fs.write_text_atomic(cfg_path, json.dumps(stored), overwrite=True)
    loaded = HudiTable.load(spark, tmp_table_path)
    assert loaded.cfg == t.cfg
    assert loaded.snapshot().count() == orders.count()
