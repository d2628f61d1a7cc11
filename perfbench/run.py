"""Lakehouse benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Workloads (see WORKLOADS.md): ``cdc_upsert`` (small commits with
read-after-write queries and maintenance) and ``curation_batch`` (the
registry's LLM-curation stages). One process, one client thread, closed loop: each
operation is issued after the previous one returned.

``--trace 0`` measures and prints every end-to-end metric; ``--trace 1``
makes an untraced pass, a pass with the layer wrappers of tracing.py
installed and another untraced pass, and prints the per-layer metrics. Every output is
checked outside the timed region; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

Inputs are generated from ``--seed`` out of the repository's read-only test
corpus (the directory above ``__spark_entry__.SMOKE_SF_DIR``, or
``$PERFBENCH_CORPUS``). Everything the run writes stays under
``.perfbench_work/`` in the checkout."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

from harness import REPO_ROOT, WORK_ROOT, Checker, Recorder, median, peak_rss_mb, stop_spark, tail

WORKLOADS = ("cdc_upsert", "curation_batch")
SF_MAIN = "sf0.1"  # cdc_upsert
SF_CURATION = "sf0.01"  # the curation example's default corpus
DRIVER_MEMORY = "2g"

E2E = (("setup_s", "s"), ("run_s", "s"), ("run_cpu_s", "s"), ("peak_rss_mb", "MB"))
LAYERS = ("client", "sql_frontend", "warehouse", "iceberg_export", "avro_io", "fsio", "spark")
COMMIT_TYPES = ("append", "upsert", "merge", "delete")


@dataclass
class Ctx:
    seed: int
    corpus: Path  # cdc_upsert input corpus
    curation_corpus: Path
    work: Path
    spark: object = None
    lake: object = None


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in output order, with its unit."""
    from wl_curation_batch import STAGES

    names = [
        ("session.start_s", "s"),
        ("sql_frontend.plan_s", "s"), ("sql_frontend.calls", "count"),
        ("warehouse.read.plan_s", "s"), ("warehouse.read.live_files", "count"),
        ("warehouse.read.live_delete_files", "count"), ("warehouse.read.files_read_ratio", "ratio"),
    ]
    names += [(f"warehouse.commit_s.{t}", "s") for t in COMMIT_TYPES]
    names += [
        ("warehouse.commit_s.upsert.excl_export", "s"),
        ("warehouse.commit.spark_jobs", "count"), ("warehouse.commit.conflicts", "count"),
        ("iceberg_export.write_s", "s"), ("iceberg_export.write_incl_s.upsert", "s"),
        ("iceberg_export.spark_jobs", "count"),
        ("avro_io.write_container_s", "s"), ("avro_io.bytes_written", "bytes"),
        ("fsio.meta_bytes_written", "bytes"), ("fsio.meta_bytes_read", "bytes"), ("fsio.calls", "count"),
        ("warehouse.compact_s", "s"), ("warehouse.expire_s", "s"),
        ("warehouse.compact.bytes_rewritten", "bytes"),
        ("warehouse.compact.files_before", "count"), ("warehouse.compact.files_after", "count"),
    ]
    for q in STAGES:
        names += [(f"operators.{q}.build_s", "s"), (f"operators.{q}.exec_s", "s")]
    names += [
        ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.tasks", "count"),
        ("spark.tasks_failed", "count"), ("py4j.roundtrips", "count"),
    ]
    names += [(f"self_s.{layer}", "s") for layer in LAYERS]
    names += [("trace.overhead_s", "s")]
    return names


def corpus_root() -> Path:
    env = os.environ.get("PERFBENCH_CORPUS")
    if env:
        return Path(env)
    import __spark_entry__

    return Path(__spark_entry__.SMOKE_SF_DIR).parent


def configure_process(work: Path) -> dict[str, str]:
    """Keep every file the run writes inside the checkout; returns the
    extra Spark confs that do the same for the JVM."""
    for d in ("tmp", "spark-local", "spark-warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "spark-warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    return {"spark.local.dir": str(work / "spark-local"), "spark.ui.showConsoleProgress": "false"}


def load_workload(name: str, ctx: Ctx):
    if name == "cdc_upsert":
        from wl_cdc_upsert import CdcUpsert

        return CdcUpsert(ctx)
    from wl_curation_batch import CurationBatch

    return CurationBatch(ctx)


# --------------------------------------------------------------- metrics
def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(measured, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "run_s": median(measured.unit_times),
        "run_cpu_s": median(measured.extra["cpu"]),
        "peak_rss_mb": peak_mb,
    }


def extra_report(rec: Recorder, measured) -> list[str]:
    """The end-to-end figures a workload has beyond the JSON set."""
    lines = []
    reads = [o.seconds for o in rec.of("query", "stage") if o.ok]
    v, pct, n = tail(reads)
    lines.append(f"query_p50_s {median(reads):.4f} s  ({n} samples)")
    lines.append(f"query_tail_s {v:.4f} s  ({pct} of {n} samples)")
    commits = [o for o in rec.of("commit") if o.ok]
    if commits:
        secs = [o.seconds for o in commits]
        cv, cpct, cn = tail(secs)
        lines.append(f"commit_p50_s {median(secs):.4f} s  ({cn} samples)")
        lines.append(f"commit_tail_s {cv:.4f} s  ({cpct} of {cn} samples)")
        rows = sum(o.rows for o in commits)
        lines.append(f"ingest_rows_per_s {rows / sum(secs):.1f} 1/s  ({rows} rows)")
    maint = rec.of("maintenance")
    if maint:
        lines.append(f"maintenance_s {sum(o.seconds for o in maint) / len(measured.unit_times):.4f} s")
    amps = measured.extra.get("storage_amp")
    if amps:
        lines.append(f"storage_amp {median(amps):.4f} ratio")
    attempted = len(rec.ops)
    failed = sum(not o.ok for o in rec.ops)
    lines.append(f"error_rate {failed / attempted:.4f} ratio  ({failed} of {attempted})")
    return lines


def per_layer(rec: Recorder, measured, untraced_run_s: float, session_s: float) -> dict:
    """Per-layer metrics from the traced pass. Times are per operation
    (``*.plan_s``, ``commit_s.*``, ``spark.exec_s``) or per pass of the
    workload's fixed sequence (self times, export, Avro, maintenance)."""
    ops = rec.ops
    passes = max(1, len(measured.unit_times))
    real = [o for o in ops if o.kind != "verify"]
    queries = [o for o in ops if o.kind == "query"]
    reading = [o for o in queries if o.info.get("tables_read")]
    commits = [o for o in ops if o.kind == "commit"]
    upserts = [o for o in commits if o.name.startswith("upsert")]

    def tot(key, sel=real):
        return sum(o.info.get(key, 0.0) for o in sel)

    m = {
        "session.start_s": session_s,
        "sql_frontend.plan_s": _mean(o.info.get("name_s.sql_frontend.sql", 0.0) for o in queries),
        "sql_frontend.calls": tot("sql_frontend.calls") / passes,
        "warehouse.read.plan_s": _mean(
            o.info.get("name_s.warehouse.read", 0.0) + o.info.get("name_s.warehouse.scan", 0.0) for o in reading),
        "warehouse.read.live_files": _mean(o.info.get("live_files", 0) for o in reading),
        "warehouse.read.live_delete_files": _mean(o.info.get("live_delete_files", 0) for o in reading),
        "warehouse.read.files_read_ratio": (
            tot("files_opened", reading) / max(1, tot("live_files", reading) + tot("live_delete_files", reading))),
    }
    for t in COMMIT_TYPES:
        m[f"warehouse.commit_s.{t}"] = _mean(o.seconds for o in commits if o.name.startswith(t))
    m["iceberg_export.write_incl_s.upsert"] = _mean(o.info.get("incl_s.iceberg_export", 0.0) for o in upserts)
    m["warehouse.commit_s.upsert.excl_export"] = m["warehouse.commit_s.upsert"] - m["iceberg_export.write_incl_s.upsert"]
    m["warehouse.commit.spark_jobs"] = _mean(o.info.get("spark.jobs", 0) for o in commits)
    m["warehouse.commit.conflicts"] = sum(o.info.get("error") == "CommitConflictError" for o in ops)
    m["iceberg_export.write_s"] = tot("self_s.iceberg_export") / passes
    m["iceberg_export.spark_jobs"] = tot("iceberg_export.jobs") / passes
    m["avro_io.write_container_s"] = tot("name_s.avro_io.write_container") / passes
    m["avro_io.bytes_written"] = tot("avro_io.bytes_written") / passes
    for k in ("fsio.meta_bytes_written", "fsio.meta_bytes_read", "fsio.calls"):
        m[k] = _mean(o.info.get(k, 0.0) for o in commits)
    m["warehouse.compact_s"] = tot("name_s.warehouse.compact") / passes
    m["warehouse.expire_s"] = tot("name_s.warehouse.expire_snapshots") / passes
    comp = measured.extra.get("compactions", [])
    m["warehouse.compact.bytes_rewritten"] = sum(c[2] for c in comp) / passes
    m["warehouse.compact.files_before"] = _mean(c[0] for c in comp)
    m["warehouse.compact.files_after"] = _mean(c[1] for c in comp)
    from wl_curation_batch import STAGES

    for q in STAGES:
        st = [o for o in ops if o.kind == "stage" and o.name == q]
        m[f"operators.{q}.build_s"] = _mean(o.info.get("build_s", 0.0) for o in st)
        m[f"operators.{q}.exec_s"] = _mean(o.seconds - o.info.get("build_s", 0.0) for o in st)
    m["spark.exec_s"] = _mean(o.info.get("incl_s.spark", 0.0) for o in real)
    m["spark.jobs"] = _mean(o.info.get("spark.jobs", 0) for o in real)
    m["spark.tasks"] = _mean(o.info.get("spark.tasks", 0) for o in real)
    m["spark.tasks_failed"] = tot("spark.tasks_failed")
    m["py4j.roundtrips"] = _mean(o.info.get("py4j.roundtrips", 0) for o in real)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = tot(f"self_s.{layer}") / passes
    m["trace.overhead_s"] = median(measured.unit_times) - untraced_run_s
    return m


def exact_counts(rec: Recorder) -> list[str]:
    """Per operation kind, the counts that repeat exactly for a seed —
    Spark jobs, Py4J round trips, fsio calls, live data and delete files —
    then the metadata bytes written and read, which move by a few bytes
    because the metadata embeds timestamps, random snapshot ids and
    absolute paths."""
    exact = ("spark.jobs", "iceberg_export.jobs", "py4j.roundtrips", "fsio.calls",
             "live_files", "live_delete_files")
    by: dict[str, list] = {}
    for o in rec.ops:
        if o.kind != "verify":
            by.setdefault(f"{o.kind}:{o.name}", []).append(o)
    lines = []
    for key, ops in sorted(by.items()):
        def total(k):
            return int(sum(o.info.get(k, 0) for o in ops))
        counts = " ".join(f"{k}={total(k)}" for k in exact)
        lines.append(f"exact {key} n={len(ops)} {counts} "
                     f"(not exact: fsio.meta_bytes_written={total('fsio.meta_bytes_written')} "
                     f"fsio.meta_bytes_read={total('fsio.meta_bytes_read')})")
    return lines


# ------------------------------------------------------------------ main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="one corpus scale (e.g. sf0.001) for every workload")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}", flush=True)
    sys.path.insert(0, str(REPO_ROOT))
    try:
        from minio_iceberg_polaris_lakehouse_spark.session import get_spark
        from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

        root = corpus_root()
    except ImportError as e:
        print(f"cannot import the lakehouse package from {REPO_ROOT}: {e}", file=sys.stderr)
        return 2
    if args.scale:
        main_c = cur_c = root / args.scale
    else:
        main_c, cur_c = root / SF_MAIN, root / SF_CURATION
    for d in {main_c, cur_c}:
        if not d.is_dir():
            print(f"missing test corpus {d}", file=sys.stderr)
            return 2

    work = WORK_ROOT / f"run-{args.workload}-{os.getpid()}"
    spark = None
    try:
        conf = configure_process(work)
        ctx = Ctx(args.seed, main_c, cur_c, work)
        wl = load_workload(args.workload, ctx)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.lake = LakehouseSQL(spark, str(work / "warehouse"))

        states, setup_times = [], []
        for r in range(wl.setup_repeats):
            t0 = time.perf_counter()
            states.append(wl.setup(r))
            setup_times.append(time.perf_counter() - t0)
        setup_s = session_s + gen_s + median(setup_times)
        print(f"setup: session {session_s:.3f}s generate {gen_s:.3f}s "
              f"repeats {' '.join(f'{x:.3f}' for x in setup_times)}s", flush=True)

        extra_setups = [wl.setup_repeats]

        def next_state():
            # a fresh state per pass, newest first; more are set up on demand
            if states:
                return states.pop()
            extra_setups[0] += 1
            return wl.setup(extra_setups[0] - 1)

        rec = Recorder()
        measured = wl.measure(rec, next_state, args.seconds)
        run_s = median(measured.unit_times)
        if args.trace:
            from tracing import Tracer

            # the first pass warms the JVM, so the overhead compares the
            # traced pass with an untraced pass made after it
            untraced_rec, untraced = rec, measured
            tracer = Tracer(spark)
            rec = Recorder()
            rec.tracer = tracer
            tracer.install()
            try:
                measured = wl.measure(rec, next_state, args.seconds)
            finally:
                tracer.uninstall()
            after_rec = Recorder()
            after = wl.measure(after_rec, next_state, args.seconds)
            traces = WORK_ROOT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(traces / f"{args.workload}-seed{args.seed}.jsonl")
        peak_mb = peak_rss_mb()

        checker = Checker()
        measured.check(checker)
        all_ops = list(rec.ops)
        if args.trace:
            untraced.check(checker)
            after.check(checker)
            all_ops = untraced_rec.ops + all_ops + after_rec.ops
        for o in all_ops:
            print(f"op {o.kind} {o.name} {o.seconds:.4f}s {'ok' if o.ok else 'FAILED'}", file=sys.stderr)
        attempted = len(all_ops)
        failed = sum(not o.ok for o in all_ops)

        if args.trace:
            metrics = per_layer(rec, measured, median(after.unit_times), session_s)
            units = dict(per_layer_names())
            for line in exact_counts(rec):
                print(line)
            out = {k: {"value": metrics[k], "unit": units[k]} for k in units}
            print(f"trace: untraced run_s {run_s:.4f}s, traced {median(measured.unit_times):.4f}s, "
                  f"untraced after it {median(after.unit_times):.4f}s; spans {len(tracer.spans)}")
        else:
            metrics = end_to_end(measured, setup_s, peak_mb)
            out = {k: {"value": metrics[k], "unit": u} for k, u in E2E}
            for line in extra_report(rec, measured):
                print(line)
        for k, v in out.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        print(f"checks {checker.checks} attempted {attempted} failed {failed} "
              f"perturbed_undetected {checker.undetected}")
        print(json.dumps({"correct": failed == 0 and checker.checks > 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
