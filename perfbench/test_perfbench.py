"""Self-tests of the workload benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The traced-run tests start one Spark driver each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def test_patch_replaces_every_binding():
    """``operators.write`` and ``sources.read`` bind merge functions at
    import; the wrapper must replace those copies too."""
    from hudi_0_10_0_spark.operators import merge, write
    from hudi_0_10_0_spark.sources import read

    from perfbench import trace

    orig_kernel = merge.merge_stored_and_incoming
    orig_window = merge.mor_merge_window
    try:
        assert trace.patch_function(merge, "merge_stored_and_incoming", "k") >= 2
        assert trace.patch_function(merge, "mor_merge_window", "w") >= 3
        for mod, attr in ((merge, "merge_stored_and_incoming"),
                          (write, "merge_stored_and_incoming"),
                          (merge, "mor_merge_window"),
                          (write, "mor_merge_window"),
                          (read, "mor_merge_window")):
            assert getattr(getattr(mod, attr), "__perfbench_orig__", None) is not None, (mod, attr)
    finally:
        for mod in (merge, write, read):
            for attr, orig in (("merge_stored_and_incoming", orig_kernel),
                               ("mor_merge_window", orig_window)):
                if hasattr(mod, attr):
                    setattr(mod, attr, orig)


def test_metric_names_fit_the_contract():
    from perfbench import trace

    units = trace.metric_units()
    assert 1 <= len(units) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(units)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == units


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.slow
def test_kernel_skipped_on_cow_trickle():
    m = _traced("cow_trickle")
    assert m["merge.merge_stored_and_incoming.calls"] == 0
    assert m["merge.broadcast_merge_stored.calls"] > 0
    assert m["write.run_batch_write.calls"] > 0


@pytest.mark.slow
def test_kernel_and_pruning_run_on_lineitem_restate():
    m = _traced("lineitem_restate")
    assert m["merge.merge_stored_and_incoming.calls"] > 0
    assert m["merge.broadcast_merge_stored.calls"] > 0
    assert m["pruning.prune_slices_by_stats.calls"] > 0
    assert 0 < m["pruning.kept_ratio"] < 1


@pytest.mark.slow
def test_mor_merge_and_compaction_on_mor_ingest():
    m = _traced("mor_ingest")
    assert m["merge.mor_merge_window.calls"] > 0
    assert m["services.run_compaction.calls"] > 0
