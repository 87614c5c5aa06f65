"""Workload benchmark for the engine.

    python3 perfbench/run.py --workload cow_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process on local[<cores>] runs a
closed loop with one client: each public ``HudiTable`` call is issued after
the previous one returned. Reads count as finished when their full
projection is materialized (xxhash64 over every column).

Set-up (session start, the base ``bulk_insert`` and an untimed warm-up
that runs every operation of a cycle on the loaded table) is excluded from the timed phase and reported as
``setup_s``. The timed phase repeats whole workload cycles until
``--seconds`` have passed. Every run checks the engine's outputs against an
expected state computed with plain DataFrame operations; any mismatch makes
the run exit 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the engine's
layer functions (see trace.py) and prints the per-layer metrics. Human
readable lines go to stderr; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as T  # noqa: E402
from perfbench.workloads import WORKLOADS, digest  # noqa: E402


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- host noise sentinel (the /proc/stat method of bench.py) -----------------
def cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def steal_pct(t0, t1) -> float:
    dt = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / dt if dt > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# -- process bookkeeping ----------------------------------------------------
def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    wait = time.time() + 5
    while time.time() < wait and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- helpers ------------------------------------------------------------------
def tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def local_size(uri: str) -> int:
    p = uri[len("file:"):] if uri.startswith("file:") else uri
    try:
        return os.path.getsize("/" + p.lstrip("/"))
    except OSError:
        return 0


def tail(values: list[float]) -> tuple[str, float]:
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples beyond
    it; with fewer than 20 samples, the maximum (labelled ``max``)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", xs[min(n - 1, int(n * p / 100))]
    return "max", xs[-1] if xs else 0.0


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def build_spark(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # at 2g, garbage collection made the timed operations ~20% slower
        # and their run-to-run spread larger
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={tmp}")
        .getOrCreate()
    )


def materialize(df, key: str) -> tuple[int, int]:
    """Decode every projected column: a bare count() would be answered
    from parquet metadata and time almost nothing of the read path. The
    same pass sums xxhash64 of the record key, for the correctness check."""
    from pyspark.sql import functions as F

    n, kd = df.agg(
        F.count(F.xxhash64(*[F.col(c) for c in df.columns])),
        F.sum(F.xxhash64(F.col(key)).cast("decimal(38,0)")),
    ).first()
    return n, int(kd or 0)


# -- one run ------------------------------------------------------------------
class Runner:
    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.times: dict[str, list[float]] = {"write": [], "read": [], "service": []}
        self.by_label: dict[str, list[float]] = {}
        self.rows_written = 0
        self.bytes_created = 0
        self.scan_mb: list[float] = []
        self.py4j = {"write": [], "read": [], "service": []}
        self.files: dict[str, int] = {}

    def run_op(self, op) -> None:
        self.attempted += 1
        tr = self.tracer
        p0 = tr.py4j if tr else 0
        try:
            t0 = time.perf_counter()
            out = op.run()
            if op.kind == "read":
                with tr.span("read.materialize", jobs=True) if tr else contextlib.nullcontext():
                    n, kd = materialize(out, self.wl.key)
            dt = time.perf_counter() - t0
            if tr:
                self.py4j[op.kind].append(tr.py4j - p0)
                tr.collect_jobs()
            with T.paused():  # checks and bookkeeping are not traced
                ok = self._read_done(op, out, n, kd) if op.kind == "read" else self._write_done(op, out)
            self.times[op.kind].append(dt)
            self.by_label.setdefault(f"{op.kind}:{op.label}", []).append(dt)
            _log(f"#    {op.kind}:{op.label} {dt:.3f}s")
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            _log(f"# FAILED {self.wl.name} {op.kind}:{op.label}")

    def _read_done(self, op, df, n: int, kd: int) -> bool:
        self.scan_mb.append(sum(local_size(u) for u in df.inputFiles()) / 2**20)
        return op.check is None or op.check(n, kd)

    def _write_done(self, op, out) -> bool:
        if op.kind == "write":
            instant, rows = out
            self.wl.last_batch = digest(rows.select(self.wl.key), [self.wl.key])
            self.rows_written += self.wl.last_batch[0]
        else:
            instant = out
        if op.after:
            op.after(instant)
        files = tree_files(self.wl.table.base_path)
        self.bytes_created += sum(s for p, s in files.items() if p not in self.files)
        self.files = files
        return True


def load_table(spark, wl, path: str) -> float:
    from hudi_0_10_0_spark import HudiTable

    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    wl.table = HudiTable.create(spark, path, wl.config())
    wl.log = [(0, False, wl.base())]
    wl.data_cols = wl.log[0][2].columns
    wl.last_instant = wl.table.bulk_insert(wl.log[0][2])
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_begin = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "hudi_0_10_0_spark", "__init__.py")):
        _log(f"perfbench: the engine package is not in {ROOT}; run from a full checkout")
        return 2
    # Python workers import the package too: they inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    if a.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the work directory and write no hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    spark = None
    try:
        spark = build_spark(work)
        spark.sparkContext.setLogLevel("ERROR")
        import hudi_0_10_0_spark  # noqa: F401

        session_s = time.perf_counter() - t_begin
        cls = WORKLOADS[a.workload]

        wl = cls(spark, a.seed)
        load_s = load_table(spark, wl, os.path.join(work, "table"))
        if hasattr(wl, "prepare_checks"):
            wl.prepare_checks()
        # warm-up: every operation of a cycle at least once on the loaded
        # table (JIT, code generation, Python workers), untimed; the commit
        # times of a fresh driver keep falling for about five commits
        t0 = time.perf_counter()
        for op in wl.warmup():
            out = op.run()
            if op.kind == "read":
                materialize(out, wl.key)
            elif op.after:
                op.after(out[0] if op.kind == "write" else out)
        warm_s = time.perf_counter() - t0
        # everything before the first timed operation, the expected counts
        # of the filtered reads included
        setup_s = time.perf_counter() - t_begin
        _log(f"# setup: session {session_s:.2f}s base load {load_s:.2f}s "
             f"warm-up {warm_s:.2f}s")

        tracer = T.install(spark) if a.trace else None
        run = Runner(wl, tracer)
        run.files = tree_files(wl.table.base_path)
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        cycles = 0
        while time.perf_counter() - t0 < a.seconds:
            for op in wl.cycle():
                run.run_op(op)
            cycles += 1
        timed_s = time.perf_counter() - t0
        steal, ld = steal_pct(ticks0, cpu_ticks()), load1()
        T.uninstall()

        # final state against the expected state from the operation log
        t_check = time.perf_counter()
        run.attempted += 1
        try:
            ok = wl.final_check()
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            run.failed += 1

        total = sum(tree_files(wl.table.base_path).values())
        live = sum(s.total_bytes for s in wl.table.file_slices())
        jvm_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        w, r, sv = run.times["write"], run.times["read"], run.times["service"]
        ct, rt = tail(w), tail(r)
        e2e = {
            "setup_s": (setup_s, "s"),
            "commit_p50_s": (p50(w), "s"),
            "read_p50_s": (p50(r), "s"),
            "ingest_rows_per_s": (run.rows_written / sum(w) if w else 0.0, "rows/s"),
            "write_bytes_per_row": (run.bytes_created / max(1, run.rows_written), "B/row"),
            "space_amp": (total / live if live else 0.0, "ratio"),
            "scan_mb_per_read": (sum(run.scan_mb) / len(run.scan_mb) if run.scan_mb else 0.0, "MB"),
        }
        _log(f"# final check and sizes: {time.perf_counter() - t_check:.2f}s")
        noisy = " NOISY (steal >= 2%)" if steal >= 2.0 else ""
        _log(f"# {a.workload} seed={a.seed} cycles={cycles} timed={timed_s:.2f}s "
             f"steal={steal:.2f}% load1={ld:.2f}{noisy}")
        for k, (v, u) in e2e.items():
            _log(f"#   {k} = {v:.6g} {u}")
        # stderr only: zero, undefined on some workload, too few samples
        # per run, or too noisy run to run to hold a regression bound
        _log(f"#   jvm_peak_rss_mb = {jvm_mb:.6g} MB")
        _log(f"#   commit_tail_s = {ct[1]:.6g} s ({ct[0]} of n={len(w)})")
        _log(f"#   read_tail_s = {rt[1]:.6g} s ({rt[0]} of n={len(r)})")
        if sv:
            _log(f"#   compaction_p50_s = {p50(sv):.6g} s (n={len(sv)})")
        _log(f"#   fail_ratio = {run.failed / run.attempted:.6g} "
             f"({run.failed} of {run.attempted})")
        for k, v in sorted(run.by_label.items()):
            _log(f"#   {k}: n={len(v)} p50={p50(v):.4f}s")

        if a.trace:
            units = T.metric_units()
            vals = T.layer_metrics(
                tracer, len(w) + len(sv), run.py4j["write"] + run.py4j["service"],
                run.py4j["read"])
            vals.update({
                "trace.commit_p50_s": p50(w), "trace.read_p50_s": p50(r),
                "trace.overhead_s": tracer.overhead_s,
                "host.steal_pct": steal, "host.load1": ld,
            })
            metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
            _log(f"#   tracing overhead: {tracer.overhead_s:.4f}s of {timed_s:.2f}s timed; "
                 "compare trace.commit_p50_s / trace.read_p50_s with the --trace 0 run")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        correct = run.failed == 0
        print(json.dumps({"correct": correct, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        kids = descendants(os.getpid())
        if spark is not None:
            gw = spark.sparkContext._gateway
            try:
                spark.stop()
            except Exception:
                traceback.print_exc()
            # the driver JVM exits when its stdin closes, also when a
            # terminated run left the gateway unusable
            with contextlib.suppress(Exception):
                gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
        wait_gone(kids, 30)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        _log(f"# run wall time {time.perf_counter() - t_begin:.2f}s")


if __name__ == "__main__":
    sys.exit(main())
