"""Seeded input generators and the three benchmark workloads.

Every row is a pure function of (key, seed, step): columns that place a row
(partition, dates, quantity) depend on the key alone, and the columns an
update rewrites depend on ``xxhash64(key, seed, step)``. Batches are chosen
the same way, so a seed fixes every input of a run, and the expected table
state can be recomputed with plain DataFrame operations (no engine code)
from the source plus the operation log.

A workload is a fixed cycle of operations. The runner repeats whole cycles
until the measured time is spent, so the operation mix is the same in every
run whatever the host speed.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAY0 = "1992-01-01"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _h(key: str, seed: int, step: int):
    return F.abs(F.xxhash64(F.col(key), F.lit(seed), F.lit(step)))


def _pick(spark, lo: int, hi: int, key: str, seed: int, step: int, per_mille: int) -> DataFrame:
    """Keys in [lo, hi) chosen by xxhash64(key, seed, step)."""
    ids = spark.range(lo, hi).withColumnRenamed("id", key)
    return ids.filter(_h(key, seed, step) % 1000 < per_mille)


# -- orders ----------------------------------------------------------------
ORDERS_MONTHS = 80


def orders_rows(keys: DataFrame, seed: int, step: int, n_base: int) -> DataFrame:
    """TPC-H ``orders``-shaped rows for the keys in ``o_orderkey``. Keys are
    laid out month by month; keys past the base (new orders) land in the
    newest month."""
    k = F.col("o_orderkey")
    h = _h("o_orderkey", seed, step)
    month = F.least(F.floor(k / (n_base // ORDERS_MONTHS)), F.lit(ORDERS_MONTHS - 1)).cast("int")
    start = F.add_months(F.lit(DAY0).cast("date"), month)
    return keys.select(
        k.cast("long").alias("o_orderkey"),
        (h % 15000 + 1).alias("o_custkey"),
        F.element_at(F.array(*map(F.lit, "OFP")), (h % 3 + 1).cast("int")).alias("o_orderstatus"),
        ((h % 50_000_000) / 100.0).alias("o_totalprice"),
        F.date_add(start, (F.abs(F.xxhash64(k)) % 28).cast("int")).alias("o_orderdate"),
        F.element_at(F.array(*map(F.lit, PRIORITIES)), (k % 5 + 1).cast("int")).alias("o_orderpriority"),
        F.format_string("Clerk#%09d", (h % 1000).cast("int")).alias("o_clerk"),
        F.lit(0).alias("o_shippriority"),
        F.sha2(h.cast("string"), 256).substr(F.lit(1), (h % 40 + 20).cast("int")).alias("o_comment"),
        F.date_format(start, "yyyy-MM").alias("o_month"),
        F.lit(step).cast("long").alias("o_ver"),
    )


# -- lineitem --------------------------------------------------------------
LINEITEM_MONTHS = 83


def lineitem_rows(keys: DataFrame, seed: int, step: int, n_base: int) -> DataFrame:
    """TPC-H ``lineitem``-shaped rows with a unique ``l_key``. Ship month,
    ship date and quantity depend on the key only, so restatements never
    move a row between partitions or change what a predicate selects."""
    k = F.col("l_key")
    hk = F.abs(F.xxhash64(k))
    h = _h("l_key", seed, step)
    month = F.floor(k * LINEITEM_MONTHS / n_base).cast("int")
    ship = F.date_add(F.add_months(F.lit(DAY0).cast("date"), month), (hk % 28).cast("int"))
    return keys.select(
        k.cast("long").alias("l_key"),
        F.floor(k / 4).cast("long").alias("l_orderkey"),
        (hk % 20000 + 1).alias("l_partkey"),
        (hk % 1000 + 1).alias("l_suppkey"),
        (k % 4 + 1).cast("int").alias("l_linenumber"),
        (hk % 50 + 1).cast("double").alias("l_quantity"),
        ((h % 10_000_000) / 100.0).alias("l_extendedprice"),
        ((h % 11) / 100.0).alias("l_discount"),
        ((h % 9) / 100.0).alias("l_tax"),
        F.element_at(F.array(*map(F.lit, "ARN")), (h % 3 + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(*map(F.lit, "OF")), (h % 2 + 1).cast("int")).alias("l_linestatus"),
        ship.alias("l_shipdate"),
        F.date_add(ship, (hk % 30 - 15).cast("int")).alias("l_commitdate"),
        F.date_add(ship, (hk % 30 + 1).cast("int")).alias("l_receiptdate"),
        F.element_at(F.array(*map(F.lit, ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"])),
                     (hk % 4 + 1).cast("int")).alias("l_shipinstruct"),
        F.element_at(F.array(*map(F.lit, ["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"])),
                     (hk % 7 + 1).cast("int")).alias("l_shipmode"),
        F.sha2(h.cast("string"), 256).substr(F.lit(1), (h % 30 + 10).cast("int")).alias("l_comment"),
        F.date_format(ship, "yyyy-MM").alias("l_shipmonth"),
        F.lit(step).cast("long").alias("l_ver"),
    )


# -- expected state ----------------------------------------------------------
def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent sum of xxhash64 over ``cols``)."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")),
    ).first()
    return int(row[0]), int(row[1] or 0)


def expected_state(key: str, log: list[tuple[int, bool, DataFrame]]) -> DataFrame:
    """Last write wins per key over the operation log ``[(step, is_delete,
    full rows)]`` (step 0 is the base load); deleted keys drop out."""
    parts = [
        rows.withColumn("__step", F.lit(step)).withColumn("__del", F.lit(is_del))
        for step, is_del, rows in log
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy(key).orderBy(F.col("__step").desc())
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("__del"))
        .drop("__rn", "__step", "__del")
    )


# -- operations ----------------------------------------------------------------
def _say(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Op:
    """One public ``HudiTable`` call. ``kind`` is write, read or service.
    ``run`` returns ``(instant, rows written)`` (write), the DataFrame to
    materialize (read) or the instant (service). ``after(instant)`` does
    the untimed bookkeeping of a write or service. ``check(n, key_digest)``
    gets a read's row count and key digest and returns False on a
    correctness mismatch."""

    kind: str
    label: str
    run: Callable
    check: Callable | None = None
    after: Callable | None = None


@dataclass
class Workload:
    name: str
    table: object = None
    key: str = ""
    data_cols: list[str] = field(default_factory=list)
    log: list = field(default_factory=list)  # [(step, is_delete, rows)]
    step: int = 0
    last_instant: str | None = None
    prev_instant: str | None = None
    last_batch: tuple[int, int] | None = None  # digest of the last write's keys

    def final_check(self) -> bool:
        snap = self.table.snapshot().select(*self.data_cols)
        exp = expected_state(self.key, self.log).select(*self.data_cols)
        got, want = digest(snap, self.data_cols), digest(exp, self.data_cols)
        if got != want:
            _say(f"# {self.name}: final snapshot {got} != expected {want}")
        return got == want

    def logged(self, s: int, is_delete: bool, rows: DataFrame):
        """``after`` hook of a write: log it and advance the instants."""

        def after(instant: str) -> None:
            self.log.append((s, is_delete, rows))
            self.prev_instant, self.last_instant = self.last_instant, instant

        return after

    def warmup(self) -> list[Op]:
        """The untimed warm-up operations: one cycle unless a workload
        overrides it."""
        return self.cycle()

    def incremental(self) -> Op:
        """Incremental read of the last write: it must return exactly the
        keys that write wrote (no later write has touched them yet)."""
        span = {}

        def run():
            span["b"], span["e"] = self.prev_instant, self.last_instant
            return self.table.incremental(span["b"], span["e"])

        def check(n, key_digest):
            if (n, key_digest) != self.last_batch:
                _say(f"# {self.name}: incremental ({span['b']}, {span['e']}] "
                     f"{(n, key_digest)} != {self.last_batch}")
            return (n, key_digest) == self.last_batch

        return Op("read", "incremental", run, check=check)


def _count_is(expected: Callable[[], int], what: str):
    def check(n, key_digest):
        if n != expected():
            _say(f"# {what}: {n} rows != expected {expected()}")
        return n == expected()

    return check


class CowTrickle(Workload):
    """COW orders by order month (80 partitions), SIMPLE index, clean and
    archive at their defaults. Three recency-skewed upserts then one small
    delete per cycle; each write is followed by a full snapshot read."""

    N = 150_000
    UPSERT_PER_MILLE = 133  # of the newest 6 months' keys: about 1% of the table
    NEW_KEYS = 20
    DELETE_KEYS = 30

    def __init__(self, spark, seed: int):
        super().__init__("cow_trickle", key="o_orderkey")
        self.spark, self.seed, self.n = spark, seed, self.N
        self.deleted: set[int] = set()
        self.new_keys = 0

    def config(self):
        from hudi_0_10_0_spark import WriteConfig

        return WriteConfig(
            record_key_field="o_orderkey", partition_field="o_month",
            precombine_field="o_ver", table_name="orders",
        )

    def base(self) -> DataFrame:
        return orders_rows(self.spark.range(0, self.n).withColumnRenamed("id", "o_orderkey"),
                           self.seed, 0, self.n)

    def live(self) -> int:
        return self.n + self.new_keys - len(self.deleted)

    def cycle(self) -> list[Op]:
        ops = []
        for i in range(4):
            ops.append(self._delete() if i == 3 else self._upsert())
            ops.append(Op("read", "snapshot", self.table.snapshot,
                          check=_count_is(self.live, "cow_trickle snapshot")))
        return ops

    def _upsert(self) -> Op:
        self.step += 1
        s = self.step
        per_month = self.n // ORDERS_MONTHS
        old = _pick(self.spark, self.n - 6 * per_month, self.n, "o_orderkey", self.seed, s,
                    self.UPSERT_PER_MILLE)
        lo = self.n + (s - 1) * self.NEW_KEYS
        new = self.spark.range(lo, lo + self.NEW_KEYS).withColumnRenamed("id", "o_orderkey")
        rows = orders_rows(old.unionByName(new), self.seed, s, self.n)
        logged = self.logged(s, False, rows)

        def after(instant):
            self.new_keys += self.NEW_KEYS
            if self.deleted:  # an upsert of a deleted key inserts it again
                back = old.filter(F.col("o_orderkey").isin(sorted(self.deleted))).collect()
                self.deleted -= {r[0] for r in back}
            logged(instant)

        return Op("write", "upsert", lambda: (self.table.upsert(rows), rows), after=after)

    def _delete(self) -> Op:
        self.step += 1
        s = self.step
        keys = self.spark.range(0, self.n).withColumnRenamed("id", "o_orderkey")
        keys = keys.filter(_h("o_orderkey", self.seed, s) % self.n < self.DELETE_KEYS)
        rows = orders_rows(keys, self.seed, s, self.n)
        batch = rows.select("o_orderkey", "o_month")
        logged = self.logged(s, True, rows)

        def after(instant):
            self.deleted.update(r[0] for r in keys.collect())
            logged(instant)

        return Op("write", "delete", lambda: (self.table.delete(batch), batch), after=after)


class MorIngest(Workload):
    """MOR orders by priority (5 partitions). Each step is a uniform 5%
    update, then a merged snapshot read and an incremental read of that
    deltacommit; ``compact()`` after every 5 deltacommits."""

    N = 60_000
    UPSERT_PER_MILLE = 50
    DELTAS_PER_COMPACTION = 5

    def __init__(self, spark, seed: int):
        super().__init__("mor_ingest", key="o_orderkey")
        self.spark, self.seed, self.n = spark, seed, self.N

    def config(self):
        from hudi_0_10_0_spark import TableType, WriteConfig

        return WriteConfig(
            record_key_field="o_orderkey", partition_field="o_orderpriority",
            precombine_field="o_ver", table_name="orders_mor",
            table_type=TableType.MERGE_ON_READ, inline_compact=False,
        )

    def base(self) -> DataFrame:
        return orders_rows(self.spark.range(0, self.n).withColumnRenamed("id", "o_orderkey"),
                           self.seed, 0, self.n)

    def cycle(self) -> list[Op]:
        ops = []
        for _ in range(self.DELTAS_PER_COMPACTION):
            self.step += 1
            keys = _pick(self.spark, 0, self.n, "o_orderkey", self.seed, self.step,
                         self.UPSERT_PER_MILLE)
            rows = orders_rows(keys, self.seed, self.step, self.n)
            ops += [
                Op("write", "upsert", lambda r=rows: (self.table.upsert(r), r),
                   after=self.logged(self.step, False, rows)),
                Op("read", "snapshot", self.table.snapshot,
                   check=_count_is(lambda: self.n, "mor_ingest snapshot")),
                self.incremental(),
            ]
        ops.append(Op("service", "compact", self.table.compact))
        return ops


class LineitemRestate(Workload):
    """COW lineitem by ship month (83 partitions), mostly reads: a month
    partition, a prunable ship-date range, an unprunable quantity predicate,
    time travel and incremental. Per cycle one 70% restatement (over the
    broadcast budget, so the shuffle merge kernel runs) and two 5% upserts
    (under it, so the broadcast path runs). The restatement and the first
    5% upsert are each followed by the five reads, the second 5% upsert by
    an incremental read, so that a run's commit median is taken over three
    commits, two of one size, not over one commit of each size."""

    N = 40_000
    # The write path estimates 344 B per lineitem row: 5% of the table is
    # ~0.7 MB, 70% ~9.6 MB. The budget sits between them.
    BROADCAST_BUDGET = 4 << 20

    def __init__(self, spark, seed: int):
        super().__init__("lineitem_restate", key="l_key")
        self.spark, self.seed, self.n = spark, seed, self.N
        self.month = f"1995-{seed % 12 + 1:02d}"
        y = 1993 + seed % 3
        self.ship_range = (f"{y}-03-10", f"{y}-04-20")
        self.expected: dict[str, int] = {}

    def config(self):
        from hudi_0_10_0_spark import WriteConfig

        return WriteConfig(
            record_key_field="l_key", partition_field="l_shipmonth",
            precombine_field="l_ver", table_name="lineitem",
            upsert_broadcast_budget_bytes=self.BROADCAST_BUDGET,
        )

    def base(self) -> DataFrame:
        return lineitem_rows(self.spark.range(0, self.n).withColumnRenamed("id", "l_key"),
                             self.seed, 0, self.n)

    def filters(self) -> dict[str, list]:
        lo, hi = self.ship_range
        return {
            "month": [("l_shipmonth", "=", self.month)],
            "shipdate": [("l_shipdate", ">=", lo), ("l_shipdate", "<=", hi)],
            "quantity": [("l_quantity", "<", 5.0)],
        }

    def prepare_checks(self) -> None:
        """Expected row counts of the filtered reads, from the source with
        plain DataFrame filters (restatements never change them)."""
        from hudi_0_10_0_spark.plans.pruning import pred_to_column

        base = self.base()
        for name, preds in self.filters().items():
            df = base
            for p in preds:
                df = df.filter(pred_to_column(p))
            self.expected[name] = df.count()

    def cycle(self) -> list[Op]:
        return self._ops((700, 50, 50), reads_after=2)

    def warmup(self) -> list[Op]:
        # every operation of the cycle once: the second group of reads
        # and the second 5% upsert run paths already warmed
        return self._ops((700, 50), reads_after=1)

    def _ops(self, upserts: tuple[int, ...], reads_after: int) -> list[Op]:
        """One upsert per per-mille share in ``upserts``. The first
        ``reads_after`` are followed by the five reads, the others by an
        incremental read only."""
        ops = []
        for i, per_mille in enumerate(upserts):
            ops.append(self._upsert(per_mille))
            if i < reads_after:
                for name, preds in self.filters().items():
                    ops.append(Op("read", name, lambda p=preds: self.table.snapshot(filters=p),
                                  check=_count_is(lambda k=name: self.expected[k],
                                                  f"lineitem {name}")))
                ops.append(Op("read", "time_travel",
                              lambda: self.table.time_travel(self.prev_instant),
                              check=_count_is(lambda: self.n, "lineitem time_travel")))
            ops.append(self.incremental())
        return ops

    def _upsert(self, per_mille: int) -> Op:
        self.step += 1
        keys = _pick(self.spark, 0, self.n, "l_key", self.seed, self.step, per_mille)
        rows = lineitem_rows(keys, self.seed, self.step, self.n)
        return Op("write", f"upsert_{per_mille // 10}pct", lambda: (self.table.upsert(rows), rows),
                  after=self.logged(self.step, False, rows))


WORKLOADS = {
    "cow_trickle": CowTrickle,
    "mor_ingest": MorIngest,
    "lineitem_restate": LineitemRestate,
}
