"""cdc_upsert: a fixed-length seeded sequence of small commits.

Every pass starts from a fresh namespace holding a day(ts)-partitioned
``events`` table (identifier field ``event_id``) and an ``orders`` table.
The commits follow one fixed sequence: ``ROUNDS`` rounds of an append of
new keys and an upsert overlapping live keys by a seeded fraction, so
every upsert meets more history than the one before, then a SQL
``MERGE INTO`` and a ``DELETE FROM``. Every commit is followed by a
read-after-write query; ``rewrite_data_files`` + ``expire_snapshots``
close the pass. Expected results come from a last-writer-wins replay of
the same generated batches, computed before timing starts."""

from __future__ import annotations

import datetime
import decimal
import os
import random
import time

import duckdb

from harness import Measured, Op, Recorder, cpu_seconds, digest

BASE_EVENTS = 5000  # event_id < BASE_EVENTS seeds the events table
BASE_ORDERS = 20000  # o_orderkey < BASE_ORDERS seeds the orders table
BATCH = 50  # rows per events append / upsert
MERGE_ROWS = 100
DELETE_KEYS = 40  # event keys one DELETE FROM covers
ROUNDS = 2  # append + upsert rounds before the merge, the delete and maintenance
SEQUENCE = ("append", "upsert") * ROUNDS + ("merge", "delete")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EV_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
ORD_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
Q4 = decimal.Decimal("0.0001")


def _dsum(vals) -> float | None:
    """SUM(CAST(x AS DECIMAL(18,4))) cast back to DOUBLE, as Spark does it."""
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    return float(sum(decimal.Decimal(repr(v)).quantize(Q4, decimal.ROUND_HALF_UP) for v in vals))


class CdcUpsert:
    name = "cdc_upsert"
    setup_repeats = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    # ------------------------------------------------------------ inputs
    def generate(self) -> None:
        rng = random.Random(self.ctx.seed)
        c = self.ctx.corpus
        con = duckdb.connect()
        events = {r[0]: r for r in con.execute(
            f"SELECT {', '.join(EV_COLS)} FROM '{c}/events.parquet' WHERE event_id < {BASE_EVENTS}").fetchall()}
        orders = {r[0]: r for r in con.execute(
            f"SELECT {', '.join(ORD_COLS)} FROM '{c}/orders.parquet' WHERE o_orderkey < {BASE_ORDERS}").fetchall()}
        con.close()
        overlap = rng.uniform(0.3, 0.7)
        next_ev, next_ord = 1_000_000, 1_000_000
        day0 = datetime.datetime(2024, 1, 1)

        def new_event(k: int) -> tuple:
            ts = day0 + datetime.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
            return (k, ts, rng.randrange(1500), rng.choice(EVENT_TYPES),
                    round(rng.uniform(0, 500), 2), f'{{"k": {rng.randrange(100)}}}')

        def new_order(k: int) -> tuple:
            return (k, rng.randrange(15000), rng.choice("FOP"), round(rng.uniform(1000, 400000), 2),
                    datetime.datetime(1995, 1, 1) + datetime.timedelta(days=rng.randrange(2400)),
                    rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))

        def ev_read(keys) -> tuple[str, list]:
            lo, hi = min(keys), max(keys)
            rows = [events[k] for k in events if lo <= k <= hi]
            sql = (f"SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v "
                   f"FROM {{events}} WHERE event_id BETWEEN {lo} AND {hi}")
            return sql, [(len(rows), _dsum(r[4] for r in rows))]

        def ord_read(keys) -> tuple[str, list]:
            lo, hi = min(keys), max(keys)
            rows = [orders[k] for k in orders if lo <= k <= hi]
            sql = (f"SELECT COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS t "
                   f"FROM {{orders}} WHERE o_orderkey BETWEEN {lo} AND {hi}")
            return sql, [(len(rows), _dsum(r[3] for r in rows))]

        def ev_by_type() -> tuple[str, list]:
            groups: dict[str, list] = {}
            for r in events.values():
                groups.setdefault(r[3], []).append(r[4])
            sql = ("SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v "
                   "FROM {events} GROUP BY event_type")
            return sql, [(t, len(v), _dsum(v)) for t, v in groups.items()]

        def day_range() -> tuple[str, list]:
            d = rng.randrange(29)
            lo, hi = day0 + datetime.timedelta(days=d), day0 + datetime.timedelta(days=d + 2)
            rows = [r for r in events.values() if lo <= r[1] < hi]
            sql = (f"SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v "
                   f"FROM {{events}} WHERE ts >= '{lo.date()}' AND ts < '{hi.date()}'")
            return sql, [(len(rows), _dsum(r[4] for r in rows))]

        # steps: ("commit", type, table, payload, rows) | ("query", name, sql, expected)
        # | ("maintain", sql)
        self.steps: list[tuple] = []
        after_first: list | None = None
        for i, kind in enumerate(SEQUENCE, 1):
            if kind == "append":
                rows = [new_event(next_ev + j) for j in range(BATCH)]
                next_ev += BATCH
                events.update((r[0], r) for r in rows)
                self.steps.append(("commit", "append", "events", rows, len(rows)))
                self.steps.append(("query", "read_events", *ev_read([r[0] for r in rows])))
            elif kind == "upsert":
                n_old = int(BATCH * overlap)
                old = rng.sample(sorted(events), n_old)
                rows = [(k, *events[k][1:4], round(events[k][4] + rng.uniform(1, 50), 2), events[k][5]) for k in old]
                rows += [new_event(next_ev + j) for j in range(BATCH - n_old)]
                next_ev += BATCH - n_old
                events.update((r[0], r) for r in rows)
                self.steps.append(("commit", "upsert", "events", rows, len(rows)))
                self.steps.append(("query", "read_events", *ev_read([r[0] for r in rows])))
            elif kind == "merge":
                old = rng.sample(sorted(orders), MERGE_ROWS // 2)
                rows = [(k, orders[k][1], rng.choice("FOP"), round(orders[k][3] + rng.uniform(1, 99), 2),
                         *orders[k][4:]) for k in old]
                rows += [new_order(next_ord + j) for j in range(MERGE_ROWS - len(old))]
                next_ord += MERGE_ROWS
                orders.update((r[0], r) for r in rows)
                self.steps.append(("commit", "merge", "orders", rows, len(rows)))
                self.steps.append(("query", "read_orders", *ord_read([r[0] for r in rows])))
            else:  # delete
                keys = sorted(events)
                lo = rng.randrange(len(keys) - 2 * DELETE_KEYS)
                lo_k, hi_k = keys[lo], keys[lo + DELETE_KEYS - 1]
                gone = [k for k in events if lo_k <= k <= hi_k]
                for k in gone:
                    del events[k]
                self.steps.append(("commit", "delete", "events",
                                   f"DELETE FROM {{events}} WHERE event_id BETWEEN {lo_k} AND {hi_k}", len(gone)))
                # a partition-pruned read across the fresh delete file
                self.steps.append(("query", "day_range", *day_range()))
            if i == 1:
                # snapshot 1 is the base load, so the first commit is snapshot 2
                rows = list(events.values())
                after_first = [(len(rows), _dsum(r[4] for r in rows))]
            if i == 2:
                self.steps.append(("query", "time_travel",
                                   "SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v "
                                   "FROM {events} VERSION AS OF 2", after_first))
        self.steps.append(("maintain", "CALL polaris.system.rewrite_data_files(table => '{ns}.events')"))
        self.steps.append(("maintain", "CALL polaris.system.expire_snapshots(table => '{ns}.events', retain_last => 1)"))
        self.steps.append(("query", "events_by_type", *ev_by_type()))
        # compaction leaves only data files holding the live rows
        self.steps.append(("query", "meta_files",
                           "SELECT content, SUM(record_count) AS records FROM {events}.files GROUP BY content",
                           [(0, len(events))]))
        self.final_events = list(events.values())
        self.final_orders = list(orders.values())

    # ------------------------------------------------------------ set-up
    def setup(self, r: int) -> str:
        from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table

        ctx, wh = self.ctx, self.ctx.lake.wh
        ns = f"cdc{r}"
        ev = load_table(ctx.spark, str(ctx.corpus), "events").filter(f"event_id < {BASE_EVENTS}")
        # a CDC table takes frequent small deletes: merge-on-read, as in Iceberg
        et = wh.create_table(ns, "events", ev.schema, partition_by="ts", transform="day",
                             properties={"write.delete.mode": "merge-on-read"})
        et.set_identifier_fields("event_id")
        et.append(ev)
        orders = ctx.spark.read.parquet(f"{ctx.corpus}/orders.parquet").filter(f"o_orderkey < {BASE_ORDERS}")
        wh.create_table(ns, "orders", orders.schema).append(orders)
        self.ev_schema, self.ord_schema = ev.schema, orders.schema
        return ns

    # -------------------------------------------------------------- run
    def prepare(self, ns: str) -> list[tuple]:
        """Bind the generated steps to a namespace: DataFrames for the
        batches and temp views for MERGE sources, all built before timing."""
        spark = self.ctx.spark
        wh = self.ctx.lake.wh
        names = {"events": f"polaris.{ns}.events", "orders": f"polaris.{ns}.orders", "ns": ns}
        bound = []
        for j, st in enumerate(self.steps):
            if st[0] == "commit":
                _, kind, table, payload, rows = st
                if kind in ("append", "upsert"):
                    df = spark.createDataFrame(payload, self.ev_schema)
                    tab = wh.table(ns, "events")
                    fn = (lambda t=tab, d=df: t.append(d)) if kind == "append" else (lambda t=tab, d=df: t.upsert(d))
                elif kind == "merge":
                    view = f"cdc_merge_src_{ns}_{j}"
                    spark.createDataFrame(payload, self.ord_schema).createOrReplaceTempView(view)
                    sql = (f"MERGE INTO {names['orders']} t USING (SELECT * FROM {view}) s "
                           "ON t.o_orderkey = s.o_orderkey "
                           "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
                    fn = lambda s=sql: self.ctx.lake.sql(s).collect()
                else:
                    sql = payload.format(**names)
                    fn = lambda s=sql: self.ctx.lake.sql(s).collect()
                bound.append(("commit", f"{kind}:{table}", fn, rows, None))
            elif st[0] == "query":
                sql = st[2].format(**names)
                bound.append(("query", st[1], lambda s=sql: self.ctx.lake.sql(s), 0, st[3]))
            else:
                sql = st[1].format(**names)
                name = "rewrite_data_files" if "rewrite" in sql else "expire_snapshots"
                bound.append(("maintenance", name, lambda s=sql: self.ctx.lake.sql(s).collect(), 0, None))
        return bound

    def measure(self, rec: Recorder, next_state, seconds: float) -> Measured:
        """Passes of the fixed sequence, each from a fresh namespace, until
        ``seconds`` have passed; a pass's time is one sample of ``run_s``."""
        times, passes = [], []
        extra: dict = {"compactions": [], "cpu": []}
        while True:
            ns = next_state()
            bound = self.prepare(ns)
            results = []
            c0 = cpu_seconds()
            t0, bookkeeping = time.perf_counter(), 0.0
            for kind, name, fn, rows, expected in bound:
                if kind == "maintenance" and name == "rewrite_data_files" and rec.tracer is not None:
                    b0 = time.perf_counter()
                    before = rec.tracer.live_files(self.ctx.lake.wh.table(ns, "events"))
                    bookkeeping += time.perf_counter() - b0
                holder = {}

                def op(f=fn):
                    holder["df"] = out = f()
                    return out.collect() if kind == "query" else out

                ok, out = rec.run(kind, name, op if kind == "query" else fn, rows=rows)
                if rec.tracer is not None:
                    b0 = time.perf_counter()
                    if kind == "query" and ok:
                        rec.tracer.note_query(rec.ops[-1], holder["df"], self.ctx.lake.wh)
                    if kind == "maintenance" and name == "rewrite_data_files":
                        after = rec.tracer.live_files(self.ctx.lake.wh.table(ns, "events"))
                        extra["compactions"].append((before[0], after[0], after[1]))
                    bookkeeping += time.perf_counter() - b0
                if expected is not None:
                    results.append((len(rec.ops) - 1, expected, out if ok else None))
            times.append(time.perf_counter() - t0 - bookkeeping)
            extra["cpu"].append(cpu_seconds() - c0)
            passes.append((ns, results))
            if sum(times) >= seconds:
                break
        extra["storage_amp"] = [self.storage_amp(ns) for ns, _ in passes]

        def check(checker) -> None:
            for ns, results in passes:
                self.check(rec, results, ns, checker)

        return Measured(times, check, extra)

    # ------------------------------------------------------------ checks
    def check(self, rec: Recorder, results: list, ns: str, checker) -> None:
        for idx, expected, rows in results:
            if rows is None:
                continue
            want, got = digest(expected), digest(rows)
            if not checker.same(got, want):
                rec.fail_op(idx, f"{got[0]}/{got[1][:12]} != replay {want[0]}/{want[1][:12]}")
        lake = self.ctx.lake
        for table, cols, rows in (("events", EV_COLS, self.final_events), ("orders", ORD_COLS, self.final_orders)):
            got = digest(lake.sql(f"SELECT {', '.join(cols)} FROM polaris.{ns}.{table}").collect())
            want = digest(rows)
            ok = checker.same(got, want)
            rec.ops.append(Op("verify", f"final_{table}", 0.0, ok))
            if not ok:
                rec.fail_op(len(rec.ops) - 1, f"final {table} {got[0]}/{got[1][:12]} != replay {want[0]}/{want[1][:12]}")

    def storage_amp(self, ns: str) -> float:
        """Bytes under the table directories ÷ bytes of live data files."""
        wh = self.ctx.lake.wh
        on_disk = live = 0
        for t in ("events", "orders"):
            tab = wh.table(ns, t)
            for root, _dirs, files in os.walk(tab.path):
                on_disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            live += sum(r.file_size_in_bytes for r in tab.files().collect() if r.content == 0)
        return on_disk / live if live else 0.0
