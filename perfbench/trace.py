"""Per-layer tracing for the workload benchmark.

Spans are recorded from the benchmark's side of the package boundary: each
listed engine function is replaced by a wrapper in EVERY module namespace
that bound it (``from .merge import merge_stored_and_incoming`` copies the
function object into ``operators.write``, so patching only the defining
module would miss those calls). Class methods are patched on the class.

Per span name the tracer keeps ``calls``, ``self_s`` (duration minus the
time its child spans cover) and ``py4j`` (gateway round trips made while the
span was innermost). Spans marked ``jobs=True`` also open a Spark job group;
after each benchmark operation the tracer reads the jobs of every group it
opened from the status store and charges their task time, input, shuffle
write and disk spill to that span.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time
from collections import defaultdict

_TRACER = None


def _new_stat():
    return {
        "calls": 0, "self_s": 0.0, "py4j": 0,
        "task_s": 0.0, "input_mb": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
        "results": 0.0, "inputs": 0.0,
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stats = defaultdict(_new_stat)
        self.stack: list[list] = []
        self.py4j = 0
        self.quiet = 0  # >0 while the tracer makes its own gateway calls
        self.pending_groups: list[tuple[str, str]] = []
        self.seen_stages: set[int] = set()
        self.n_groups = 0
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.quiet += 1
        try:
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)
        finally:
            self.quiet -= 1

    def enter(self, name: str, jobs: bool) -> None:
        t0 = time.perf_counter()
        group = prev = None
        if jobs:
            prev = next((f[5] for f in reversed(self.stack) if f[5]), None)
            self.n_groups += 1
            group = f"perfbench-{self.n_groups}"
            self._set_group(group)
            self.pending_groups.append((group, name))
        now = time.perf_counter()
        self.overhead_s += now - t0
        # [name, start, child_s, py4j_at_start, child_py4j, group, prev_group]
        self.stack.append([name, now, 0.0, self.py4j, 0, group, prev])

    def exit(self) -> None:
        end = time.perf_counter()
        name, start, child_s, p0, child_p, group, prev = self.stack.pop()
        dur = end - start
        calls = self.py4j - p0
        st = self.stats[name]
        st["calls"] += 1
        st["self_s"] += dur - child_s
        st["py4j"] += calls - child_p
        if group is not None:
            self._set_group(prev)
        if self.stack:
            self.stack[-1][2] += time.perf_counter() - start
            self.stack[-1][4] += calls
        self.overhead_s += time.perf_counter() - end

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        self.enter(name, jobs)
        try:
            yield
        finally:
            self.exit()

    # -- Spark job statistics ------------------------------------------------
    def collect_jobs(self) -> None:
        """Charge the Spark jobs of every group opened since the last call
        to the span that opened it. Stages shared by several jobs (skipped
        re-use of a shuffle) are charged once."""
        if not self.pending_groups:
            return
        t0 = time.perf_counter()
        self.quiet += 1
        try:
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            for group, name in self.pending_groups:
                st = self.stats[name]
                for jid in tracker.getJobIdsForGroup(group):
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else ()):
                        if sid in self.seen_stages:
                            continue
                        self.seen_stages.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:
                            continue
                        st["task_s"] += sd.executorRunTime() / 1e3
                        st["input_mb"] += sd.inputBytes() / 2**20
                        st["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
                        st["spill_mb"] += sd.diskBytesSpilled() / 2**20
            self.pending_groups.clear()
        finally:
            self.quiet -= 1
            self.overhead_s += time.perf_counter() - t0


@contextlib.contextmanager
def paused():
    """Suspend tracing (the benchmark's own checks are not engine work)."""
    global _TRACER
    tr, _TRACER = _TRACER, None
    try:
        yield
    finally:
        _TRACER = tr


def uninstall() -> None:
    """Stop recording; the wrappers stay in place and pass calls through."""
    global _TRACER
    _TRACER = None


def _wrap(name: str, fn, jobs: bool = False, on_result=None):
    """Wrap ``fn`` so each call records a span ``name`` on the active
    tracer. ``on_result(stat, args, result)`` may add counts to the span's
    ``results`` / ``inputs`` fields (used for ratios)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = _TRACER
        if tr is None:
            return fn(*args, **kwargs)
        tr.enter(name, jobs)
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.exit()
        if on_result is not None:
            on_result(tr.stats[name], args, out)
        return out

    wrapper.__perfbench_orig__ = fn
    return wrapper


def patch_function(mod, attr: str, name: str, jobs: bool = False, on_result=None) -> int:
    """Replace ``mod.attr`` by a span wrapper in every loaded module of the
    package that holds the same function object. Returns the number of
    bindings replaced."""
    orig = getattr(mod, attr)
    w = _wrap(name, orig, jobs, on_result)
    root = mod.__name__.split(".")[0]
    n = 0
    for m in list(sys.modules.values()):
        if m is None or not getattr(m, "__name__", "").startswith(root):
            continue
        for k, v in list(vars(m).items()):
            if v is orig:
                setattr(m, k, w)
                n += 1
    return n


def patch_method(cls, attr: str, name: str, jobs: bool = False, on_result=None) -> None:
    setattr(cls, attr, _wrap(name, vars(cls)[attr], jobs, on_result))


def _count_results(stat, args, out):
    stat["results"] += 1 if out is not None else 0


def _archived(stat, args, out):
    stat["results"] += int(out or 0)


def _kept(stat, args, out):
    stat["inputs"] += len(args[1])
    stat["results"] += len(out)


def install(spark) -> Tracer:
    """Import the traced modules, wrap the listed functions, count gateway
    round trips, and make the tracer active."""
    global _TRACER
    import py4j.java_gateway as jg

    from hudi_0_10_0_spark import concurrency, fs, metadata, table, timeline
    from hudi_0_10_0_spark.operators import merge, services, write
    from hudi_0_10_0_spark.plans import pruning
    from hudi_0_10_0_spark.sources import read

    tr = Tracer(spark)

    for fn in ("run_batch_write", "tag_location", "assign_inserts",
               "write_instant_files", "collect_write_stats"):
        patch_function(write, fn, f"write.{fn}", jobs=True)
    for fn in ("broadcast_merge_stored", "merge_stored_and_incoming",
               "mor_merge_window", "precombine_dedup"):
        patch_function(merge, fn, f"merge.{fn}")
    patch_function(services, "run_compaction", "services.run_compaction", jobs=True)
    patch_function(services, "schedule_compaction", "services.schedule_compaction")
    patch_function(services, "clean", "services.clean", on_result=_count_results)
    patch_function(services, "rollback_pending_writes", "services.rollback_pending_writes")
    for fn in ("instants", "create_requested", "transition_to_inflight",
               "transition_to_completed"):
        patch_method(timeline.Timeline, fn, f"timeline.{fn}")
    patch_method(timeline.Timeline, "archive", "timeline.archive", on_result=_archived)
    patch_method(table.HudiTable, "view", "metadata.view")
    patch_method(metadata.FileSystemView, "__init__", "metadata.view_build")
    patch_method(metadata.FileSystemView, "latest_file_slices", "metadata.latest_file_slices")
    for attr, v in list(vars(fs.FS).items()):
        if not attr.startswith("_") and inspect.isfunction(v):
            patch_method(fs.FS, attr, "fs")
    patch_function(concurrency, "guarded_commit", "concurrency.guarded_commit")
    patch_function(read, "snapshot", "read.snapshot")
    patch_function(read, "incremental", "read.incremental")
    patch_function(read, "slices_to_df", "read.slices_to_df", jobs=True)
    patch_function(pruning, "prune_slices_by_stats", "pruning.prune_slices_by_stats",
                   on_result=_kept)

    send = jg.GatewayClient.send_command

    def send_command(self, *a, **k):
        if _TRACER is not None and not _TRACER.quiet:
            _TRACER.py4j += 1
        return send(self, *a, **k)

    jg.GatewayClient.send_command = send_command
    _TRACER = tr
    return tr


# Per-layer metric names, in output order: (span, stats) pairs. Every name
# is printed on every workload, zero when the span never ran there.
_BASIC = ("calls", "self_s", "py4j")
_JOBS = _BASIC + ("task_s", "shuffle_mb", "spill_mb")
SPAN_METRICS = [
    *[(f"write.{f}", _JOBS) for f in (
        "run_batch_write", "tag_location", "assign_inserts",
        "write_instant_files", "collect_write_stats")],
    *[(f"merge.{f}", _BASIC) for f in (
        "broadcast_merge_stored", "merge_stored_and_incoming",
        "mor_merge_window", "precombine_dedup")],
    ("services.run_compaction", _JOBS),
    ("services.schedule_compaction", _BASIC),
    ("services.clean", _BASIC),
    ("services.rollback_pending_writes", _BASIC),
    *[(f"timeline.{f}", _BASIC) for f in (
        "instants", "create_requested", "transition_to_inflight",
        "transition_to_completed", "archive")],
    ("metadata.view", _BASIC),
    ("metadata.view_build", _BASIC),
    ("metadata.latest_file_slices", _BASIC),
    ("concurrency.guarded_commit", _BASIC),
    ("read.snapshot", _BASIC),
    ("read.incremental", _BASIC),
    ("read.slices_to_df", _JOBS),
    ("read.materialize", _JOBS + ("input_mb",)),
    ("pruning.prune_slices_by_stats", _BASIC),
]
# metrics that are not span stats: (name, unit)
EXTRA_METRICS = [
    ("fs.calls", "count"),
    ("fs.self_s", "s"),
    ("fs.py4j", "count"),
    ("fs.calls_per_commit", "count"),
    ("merge.broadcast_share", "ratio"),
    ("services.clean.instant_ratio", "ratio"),
    ("timeline.archive.instants_archived", "count"),
    ("pruning.kept_ratio", "ratio"),
    ("driver.py4j_per_commit", "count"),
    ("driver.py4j_per_read", "count"),
    ("trace.commit_p50_s", "s"),
    ("trace.read_p50_s", "s"),
    ("trace.overhead_s", "s"),
    ("host.steal_pct", "%"),
    ("host.load1", "load"),
]
_UNITS = {"calls": "count", "py4j": "count", "self_s": "s", "task_s": "s",
          "shuffle_mb": "MB", "spill_mb": "MB", "input_mb": "MB"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = {}
    for sp, stats in SPAN_METRICS:
        for s in stats:
            out[f"{sp}.{s}"] = _UNITS[s]
    out.update(dict(EXTRA_METRICS))
    return out


def layer_metrics(tr: Tracer, n_commits: int, py4j_commit: list, py4j_read: list) -> dict:
    """Per-layer values (without the trace./host. entries, which the
    runner fills in) from the tracer's accumulated span statistics."""
    empty = _new_stat()

    def get(span_name: str) -> dict:
        return tr.stats.get(span_name, empty)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = {f"{sp}.{s}": get(sp)[s] for sp, stats in SPAN_METRICS for s in stats}
    fs = get("fs")
    out["fs.calls"] = fs["calls"]
    out["fs.self_s"] = fs["self_s"]
    out["fs.py4j"] = fs["py4j"]
    out["fs.calls_per_commit"] = ratio(fs["calls"], n_commits)
    bc = out["merge.broadcast_merge_stored.calls"]
    out["merge.broadcast_share"] = ratio(bc, bc + out["merge.merge_stored_and_incoming.calls"])
    cl = get("services.clean")
    out["services.clean.instant_ratio"] = ratio(cl["results"], cl["calls"])
    out["timeline.archive.instants_archived"] = get("timeline.archive")["results"]
    pr = get("pruning.prune_slices_by_stats")
    out["pruning.kept_ratio"] = ratio(pr["results"], pr["inputs"])
    out["driver.py4j_per_commit"] = ratio(sum(py4j_commit), len(py4j_commit))
    out["driver.py4j_per_read"] = ratio(sum(py4j_read), len(py4j_read))
    return out
