"""Out-of-process-boundary tracing for the traced benchmark run.

The tracer wraps public functions of each layer as module or class
attributes — from these benchmark files, never inside the package — and
only for the traced pass; ``uninstall`` puts every original back. Each
wrapped call records a span (name, layer, start, end, parent span,
operation id). Spans stay in memory and are written out once, at exit.

Counts are taken at the same boundaries: Py4J round trips (one per
``send_command`` on a gateway connection, object releases excluded), bytes and calls through
``fsio``, Avro container bytes, and the Spark jobs and tasks of each
operation, read from ``statusTracker`` through one job group per
operation (the ``iceberg_export`` calls run under a child group, so
their jobs are told apart)."""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

# layers are named after the package's modules
FSIO_FUNCS = (
    "exists", "isfile", "isdir", "listdir", "makedirs", "walk", "getsize",
    "getmtime", "remove", "rmtree", "rename", "replace", "read_text",
    "read_bytes", "open_binary", "write_bytes", "write_bytes_atomic",
    "try_create_exclusive", "restore_renamed_lock",
)
TABLE_METHODS = (
    "read", "scan", "append", "upsert", "delete_keys", "merge_into",
    "merge_into_arms", "delete_where", "update_where", "overwrite",
    "overwrite_partitions", "compact", "expire_snapshots", "rewrite_manifests",
    "materialize_deletes", "files", "snapshots", "history", "row_count",
)
WAREHOUSE_METHODS = ("create_table", "drop_table", "create_namespace", "list_tables")
DF_ACTIONS = (
    "collect", "count", "toPandas", "take", "first", "head", "show",
    "isEmpty", "checkpoint", "localCheckpoint",
)
WRITER_ACTIONS = ("save", "parquet", "saveAsTable", "insertInto", "json", "csv", "orc", "text")
RDD_ACTIONS = ("collect", "count", "take", "reduce", "fold", "aggregate", "foreach", "foreachPartition")


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []  # (id, name, layer, t0, t1, parent, op)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self._op_group: str | None = None
        self._group_seq = 0
        self._measuring = False  # the tracer's own Py4J calls are not counted
        self._paused = False  # the benchmark's own bookkeeping calls record nothing
        self.c: dict[str, float] = defaultdict(float)  # running counters
        self._op_start: dict[str, float] = {}
        self.tables_read: set[tuple[str, str]] = set()

    # ------------------------------------------------------------ spans
    def _enter(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([sid, name, layer, time.perf_counter(), None, parent, self.op])
        self._stack.append(sid)
        return sid

    def _exit(self, sid: int) -> None:
        self.spans[sid][4] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, owner, attr: str, layer: str, after=None, around=None) -> None:
        fn = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if fn is None:
            return
        name = f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            sid = tracer._enter(name, layer)
            ctx = around(args, kwargs) if around is not None else None
            try:
                out = fn(*args, **kwargs)
            finally:
                if around is not None:
                    ctx()
                tracer._exit(sid)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    # ---------------------------------------------------------- install
    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark import RDD
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio, iceberg_export
        from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
        from minio_iceberg_polaris_lakehouse_spark.warehouse import Table, Warehouse

        c = self.c

        def count_py4j(cls) -> None:
            orig = cls.__dict__["send_command"]

            @functools.wraps(orig)
            def send_command(conn, command, *a, **k):
                # "m\nd" commands release Java objects when Python's garbage
                # collector frees their proxies: their number depends on GC
                # timing, so they are left out of the count
                if not (self._measuring or self._paused or command.startswith("m\nd\n")):
                    c["py4j.roundtrips"] += 1
                return orig(conn, command, *a, **k)

            cls.send_command = send_command
            self._patches.append((cls, "send_command", orig))

        count_py4j(py4j.clientserver.ClientServerConnection)
        count_py4j(py4j.java_gateway.GatewayConnection)

        self._wrap(LakehouseSQL, "sql", "sql_frontend", after=lambda a, k, o: c.__setitem__("sql_frontend.calls", c["sql_frontend.calls"] + 1))

        def note_read(args, kwargs, out):
            t = args[0]
            self.tables_read.add((t.ns, t.name))

        for m in TABLE_METHODS:
            self._wrap(Table, m, "warehouse", after=note_read if m in ("read", "scan") else None)
        for m in WAREHOUSE_METHODS:
            self._wrap(Warehouse, m, "warehouse")

        def export_group(args, kwargs):
            # jobs started inside the export run under a child job group
            if self._op_group is None:
                return lambda: None
            gid = f"{self._op_group}/iceberg_export"
            self._set_group(gid)
            c["iceberg_export.calls"] += 1
            return lambda: self._set_group(self._op_group)

        self._wrap(iceberg_export, "write_iceberg_metadata", "iceberg_export", around=export_group)

        def avro_bytes(args, kwargs, out):
            path = args[0] if args else kwargs["path"]
            c["avro_io.bytes_written"] += self._orig_fsio_getsize(path)
            c["avro_io.containers_written"] += 1

        self._orig_fsio_getsize = fsio.getsize
        self._wrap(avro_io, "write_container", "avro_io", after=avro_bytes)
        self._wrap(avro_io, "read_container", "avro_io")

        def fsio_counter(attr):
            def after(args, kwargs, out):
                c["fsio.calls"] += 1
                if attr in ("write_bytes", "write_bytes_atomic"):
                    data = args[1] if len(args) > 1 else kwargs["data"]
                    c["fsio.meta_bytes_written"] += len(data)
                elif attr == "try_create_exclusive":
                    data = args[1] if len(args) > 1 else kwargs["content"]
                    c["fsio.meta_bytes_written"] += len(data)
                elif attr in ("read_text", "read_bytes") and out is not None:
                    c["fsio.meta_bytes_read"] += len(out)
            return after

        for f in FSIO_FUNCS:
            self._wrap(fsio, f, "fsio", after=fsio_counter(f))

        for m in DF_ACTIONS:
            self._wrap(DataFrame, m, "spark")
        for m in WRITER_ACTIONS:
            self._wrap(DataFrameWriter, m, "spark")
        for m in RDD_ACTIONS:
            self._wrap(RDD, m, "spark")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------- operations
    def _set_group(self, gid: str | None) -> None:
        self._measuring = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        finally:
            self._measuring = False

    def begin_op(self, index: int, kind: str, name: str) -> None:
        self.op = index
        self._group_seq += 1
        self._op_group = f"perfbench-{self._group_seq}"
        self._set_group(self._op_group)
        self._op_start = dict(self.c)
        self.tables_read = set()
        self._root = self._enter(f"op.{kind}.{name}", "client")

    def end_op(self) -> dict:
        """Close the operation; returns its counts (deltas) and timings."""
        self._exit(self._root)
        self._set_group(None)
        gid = self._op_group
        self._op_group = None
        self.op = None
        info = {k: v - self._op_start.get(k, 0.0) for k, v in self.c.items()}
        self._measuring = True
        try:
            tracker = self.sc.statusTracker()
            for group, key in ((gid, "spark"), (f"{gid}/iceberg_export", "iceberg_export")):
                jobs = tracker.getJobIdsForGroup(group)
                info[f"{key}.jobs"] = len(jobs)
                tasks = failed = 0
                for j in jobs:
                    ji = tracker.getJobInfo(j)
                    for s in (ji.stageIds if ji else []):
                        si = tracker.getStageInfo(s)
                        if si is not None:
                            tasks += si.numCompletedTasks
                            failed += si.numFailedTasks
                info[f"{key}.tasks"] = tasks
                info[f"{key}.tasks_failed"] = failed
        finally:
            self._measuring = False
        info["spark.jobs"] += info["iceberg_export.jobs"]
        info["spark.tasks"] += info["iceberg_export.tasks"]
        info["spark.tasks_failed"] += info["iceberg_export.tasks_failed"]
        # inclusive and self time per layer inside this operation
        root = self._root
        incl: dict[str, float] = defaultdict(float)
        self_t: dict[str, float] = defaultdict(float)
        child_sum: dict[int, float] = defaultdict(float)
        spans = [s for s in self.spans[root:] if s[6] == self.spans[root][6]]
        for s in spans:
            if s[5] >= 0:
                child_sum[s[5]] += s[4] - s[3]
        open_layers: dict[int, set] = {}
        for s in spans:
            dur = s[4] - s[3]
            self_t[s[2]] += dur - child_sum[s[0]]
            # inclusive time counts only the outermost span of a layer
            above = open_layers.get(s[5], set())
            if s[2] not in above:
                incl[s[2]] += dur
            open_layers[s[0]] = above | {s[2]}
        for layer, v in self_t.items():
            info[f"self_s.{layer}"] = v
        for layer, v in incl.items():
            info[f"incl_s.{layer}"] = v
        by_name: dict[str, float] = defaultdict(float)
        for s in spans:
            by_name[s[1]] += s[4] - s[3]
        for n, v in by_name.items():
            info[f"name_s.{n}"] = v
        info["tables_read"] = sorted(self.tables_read)
        return info

    @contextlib.contextmanager
    def paused(self):
        """Calls made inside record no spans and no counts."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def note_query(self, op, df, wh) -> None:
        """Files the query's scan opened (``inputFiles`` of its plan)
        against the live data and delete files of the tables it read."""
        with self.paused():
            op.info["files_opened"] = len(df.inputFiles()) if op.info.get("tables_read") else 0
            live = deletes = 0
            for ns, name in op.info.get("tables_read", []):
                for r in wh.table(ns, name).files().collect():
                    if r.content == 0:
                        live += 1
                    else:
                        deletes += 1
            op.info["live_files"], op.info["live_delete_files"] = live, deletes

    def live_files(self, table) -> tuple[int, int]:
        """(live data + delete files, bytes of live data files)."""
        with self.paused():
            rows = table.files().collect()
        return len(rows), sum(r.file_size_in_bytes for r in rows if r.content == 0)

    def dump(self, path) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for sid, name, layer, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "layer": layer, "start": t0,
                                    "end": t1, "parent": parent, "op": op}) + "\n")
