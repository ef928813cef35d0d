"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout that holds ``data_migration_tool_spark``.
Inputs are generated from the seed under ``.perfbench_work/`` in the
checkout (removed at exit). One process, one closed-loop client, Spark
on ``local[<cores>]``.

Phases: generate inputs → set up (import the package, start the session
and the JVM, run one cycle of a tiny instance) → timed window of whole
cycles, at least the workload's ``min_cycles``, until ``--seconds`` have
passed → check every op against its expectation → print.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` patches spans
around the package's public functions, passes once through the other
workload's tiny cycle and the migration and query cover passes, runs one
untimed cycle, times the first half of the window untraced and the
second half traced, and prints the per-layer metrics (set-up, those
passes and the traced half) with the tracing overhead. The last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import Ctx, SubOps  # noqa: E402
from accounting import (  # noqa: E402
    OpRecord,
    call_counts,
    failed_share,
    harrell_davis,
    self_times,
    spark_deltas,
    total_times,
)

TAIL_PCT = 90


def _workloads():
    from wl_translate import TranslateBatch
    from wl_validate import ValidateSweep

    return {w.name: w for w in (TranslateBatch, ValidateSweep)}


def _covers():
    from wl_migrate import MigrateCover
    from wl_plans import QueryCover

    return [MigrateCover, QueryCover]


def _process_age() -> float:
    """Seconds since this process started (``starttime`` in /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """Driver heap below physical RAM: a quarter of it, at most 4g."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the JVM)."""
    me = os.getpid()
    return sum(_vm_hwm_mb(p) for p in [me, *_descendants(me)])


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _setup_env(work: str) -> dict[str, str]:
    for d in ("spark-local", "tmp", "jtmp", "catalog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file from Spark's launcher or driver JVM: HotSpot writes
    # it under the system temp directory, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # paths only: no performance setting differs from the package defaults
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "catalog"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
    }


def _patch_layers(tracer) -> None:
    from data_migration_tool_spark.audit import log as audit_log
    from data_migration_tool_spark.audit import queries as audit_queries
    # pipelines binds translate functions by name; importing it before
    # patching lets ``Tracer.patch`` rebind them there
    from data_migration_tool_spark.orchestrate import controller, pipelines, reporting  # noqa: F401
    from data_migration_tool_spark.sources import bulk_load, incremental, readers, writers
    from data_migration_tool_spark import tables
    from data_migration_tool_spark.translate import dml, dryrun, executor, report, statements, transpiler

    def dry_after(res):
        if res.status == "fail":
            tracer.count("translate.dry_run_statement.fail")

    def ddl_after(results):
        tracer.count("translate.execute_ddl_fixpoint.stmts", len(results))
        tracer.count("translate.execute_ddl_fixpoint.attempts", sum(r.attempts for r in results))

    tracer.patch(statements.split_statements, "translate.split_statements")
    tracer.patch(transpiler.transpile_ddl, "translate.transpile_ddl")
    tracer.patch(dml.translate_file, "translate.translate_file")
    tracer.patch(dryrun.dry_run_statement, "translate.dry_run_statement", dry_after)
    tracer.patch(report.split_translation_report, "translate.split_translation_report")
    tracer.patch(executor.execute_ddl_fixpoint, "translate.execute_ddl_fixpoint", ddl_after)
    tracer.patch(controller.Controller.handle, "orchestrate.handle")
    tracer.patch(reporting.save_run_report, "orchestrate.save_run_report")
    for meth in ("insert_rows", "insert_df", "table"):
        tracer.patch(getattr(audit_log.AuditLog, meth), f"audit.{meth}")
    for fn_name in ("tables_to_load", "dvt_passed_tables", "validation_run_summary",
                    "files_in_window", "affected_tables_from_copy_status"):
        tracer.patch(getattr(audit_queries, fn_name), "audit.queries")
    tracer.patch(bulk_load.load_table, "sources.load_table")
    tracer.patch(readers.read_table, "sources.read_table")
    tracer.patch(writers.write_table, "sources.write_table")
    tracer.patch(incremental.stage_files, "sources.stage_files")
    tracer.patch(incremental.incremental_append, "sources.incremental_append")
    tracer.patch(tables.load_table, "tables.load_table")


def _run_ops(ops, records):
    for op in ops:
        t0 = time.perf_counter()
        err, result = None, None
        try:
            result = op.run()
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op, recorded
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        if isinstance(result, SubOps):
            records.extend(result)
            continue
        records.append(OpRecord(op.name, time.perf_counter() - t0, op.work, error=err,
                                info=op.info, result=result))


def _warm_ok(workload, ops) -> bool:
    """Run untimed ops and check them: any failure other than a known
    defect stops the run."""
    records: list[OpRecord] = []
    _run_ops(ops, records)
    workload.check(records)
    bad = [r for r in records if r.failed and not (r.error and workload.known_defect(r))]
    if bad:
        print(f"error: untimed op {bad[0].name} failed: {bad[0].error or bad[0].mismatch}",
              file=sys.stderr)
    return not bad


def main(argv: list[str] | None = None) -> int:
    age_main = _process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "data_migration_tool_spark", "__init__.py")):
        print(f"error: no data_migration_tool_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _bench(args, workloads, work, age_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still works there


def _bench(args, workloads, work, age_main) -> int:
    """``age_main``: seconds from process start to ``main``. ``setup_s``
    adds set-up to it, up to the first timed op, leaving out the
    benchmark's own imports and input generation."""
    extra_conf = _setup_env(work)
    from tracing import SparkCounters, Tracer

    cls = workloads[args.workload]
    warm = cls(args.seed, work, tiny=True)
    wl = cls(args.seed, work)
    others = []
    if args.trace:
        others = [c(args.seed, work, tiny=True) for n, c in workloads.items() if n != args.workload]
        others += [c(args.seed, work) for c in _covers()]
    for w in (warm, wl, *others):
        w.make_inputs()

    tracer = Tracer()
    spark = None
    try:
        # set-up: from here to the first timed op
        t_setup = time.perf_counter()
        import data_migration_tool_spark.session as session

        if args.trace:
            _patch_layers(tracer)
            tracer.enabled = True
        t_s = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra=extra_conf)
        get_spark_s = time.perf_counter() - t_s
        # the JVM warm-up: the JIT sees every code path before the window
        warm.bind(spark, Ctx(work, "warm", spark, tracer))
        if not _warm_ok(warm, warm.cover_ops()):
            return 1
        setup_s = age_main + time.perf_counter() - t_setup
        # traced runs also pass once through every other layer, so each
        # per-layer figure holds measured spans
        for w in others:
            w.bind(spark, Ctx(work, f"cover_{w.name}", spark, tracer))
            if not _warm_ok(w, w.cover_ops()):
                return 1
        wl.bind(spark, Ctx(work, "main", spark, tracer))
        if args.trace:
            # the window's untraced half would otherwise also be the first
            # full-size cycle, still warming the JIT, and understate overhead
            tracer.enabled = False
            if not _warm_ok(wl, wl.cycle(0)):
                return 1
        lines, metrics, unexpected, attempted = _measure(args, wl, spark, tracer, SparkCounters,
                                                         first_cycle=args.trace)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    if args.trace:
        counts = dict(tracer.counts)
        for w in others:
            counts.update(w.layer_counts())
        counts["audit.parquet_files"] = _parquet_files(
            os.path.join(work, "sessions", "main", "dmt_logs"))
        metrics.update(_layer_metrics(tracer.spans, counts, get_spark_s))
    else:
        metrics = {"setup_s": (setup_s, "s"), **metrics}
        lines.append(f"set-up {setup_s:.3f} s (get_spark {get_spark_s:.3f} s)")

    for ln in lines:
        print(ln)
    for name, (v, unit) in metrics.items():
        print(f"metric {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not unexpected,
        "attempted": attempted,
        "failed": len(unexpected),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def _measure(args, wl, spark, tracer, SparkCounters, first_cycle: int):
    """Time the window from cycle ``first_cycle`` on and check it. Returns
    ``(lines, metrics, unexpected failures, ops attempted)``."""
    records: list[OpRecord] = []
    next_cycle = iter(range(first_cycle, 1 << 30))

    def window(limit: float, min_cycles: int) -> float:
        """Whole cycles until ``limit`` seconds have passed and at least
        ``min_cycles`` ran: every run measures the same mix of ops, and the
        same number of them while a cycle takes more than limit / min_cycles."""
        t0 = time.perf_counter()
        for done in range(1, 1 << 30):
            _run_ops(wl.cycle(next(next_cycle)), records)
            if done >= min_cycles and time.perf_counter() - t0 >= limit:
                return time.perf_counter() - t0

    steal0, total0 = _cpu_jiffies()
    if not args.trace:
        window_s = window(args.seconds, wl.min_cycles)
    else:
        untraced_s = window(args.seconds / 2, 1)
        n_untraced = len(records)
        counters = SparkCounters(spark)
        job0 = counters.max_job_id()
        tracer.enabled = True
        traced_s = window(args.seconds / 2, 1)
        tracer.enabled = False
        job1 = counters.max_job_id()
        jobs = counters.jobs_after(job0)
        window_s = untraced_s + traced_s
    cycles = next(next_cycle) - first_cycle
    steal1, total1 = _cpu_jiffies()
    # CPU time the hypervisor gave to other guests: high values flag a noisy run
    steal = (steal1 - steal0) / max(1, total1 - total0)
    rss = peak_rss_mb()

    t_check = time.perf_counter()
    wl.check(records)
    for r in records:
        if r.error is not None:
            r.known_defect = wl.known_defect(r)
    work_done = sum(r.work for r in records if not r.failed)
    lat = [r.seconds for r in records]
    tail_v = harrell_davis(lat, TAIL_PCT)
    unexpected = [r for r in records if r.failed and not r.known_defect]
    known = [r for r in records if r.failed and r.known_defect]

    lines = [
        f"workload {wl.name}  seed {args.seed}  cores {_cpus()}  "
        f"driver_mem {os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        f"window {window_s:.2f} s  cycles {cycles}  ops {len(records)}  "
        f"work {work_done:g} {wl.unit}  check {time.perf_counter() - t_check:.2f} s  "
        f"host steal {100 * steal:.1f}%",
    ]
    lines += [f"KNOWN DEFECT op {r.name}: {r.known_defect}: {r.error}" for r in known]
    lines += [f"FAILED op {r.name}: {r.error or r.mismatch}" for r in unexpected[:20]]

    if not args.trace:
        metrics = {
            "throughput": (work_done / window_s, "work/s"),
            "op_p50_s": (harrell_davis(lat, 50), "s"),
            "op_tail_s": (tail_v, "s"),
        }
        lines.append(f"peak RSS {rss:.1f} MB")
        lines.append(f"throughput unit: {wl.unit}/s; op_p50_s and op_tail_s (p{TAIL_PCT}) are "
                     f"Harrell-Davis estimates over {len(lat)} ops")
    else:
        n_traced = len(records) - n_untraced
        untraced, traced = records[:n_untraced], records[n_untraced:]
        u_tput = sum(r.work for r in untraced if not r.failed) / untraced_s
        t_tput = sum(r.work for r in traced if not r.failed) / traced_s
        d = spark_deltas(job0, jobs, job1)
        metrics = {
            "spark.jobs_per_op": (d["jobs"] / n_traced, "count"),
            "spark.stages_per_op": (d["stages"] / n_traced, "count"),
            "spark.tasks_per_op": (d["tasks"] / n_traced, "count"),
            "peak_rss_mb": (rss, "MB"),
            "host.steal_share": (steal, "fraction"),
            "ops.failed_share": (failed_share(records), "fraction"),
            "ops.known_defect": (float(len(known)), "count"),
            "trace.overhead": (u_tput / t_tput - 1.0 if t_tput else 0.0, "fraction"),
        }
        lines.append(f"untraced {u_tput:.4f} {wl.unit}/s over {untraced_s:.2f} s; "
                     f"traced {t_tput:.4f} {wl.unit}/s over {traced_s:.2f} s")
    return lines, metrics, unexpected, len(records)


def _parquet_files(root: str) -> int:
    return sum(n.endswith(".parquet") for _r, _d, names in os.walk(root) for n in names)


_LAYER_NAMES = [
    "translate.split_statements", "translate.transpile_ddl", "translate.translate_file",
    "translate.dry_run_statement", "translate.split_translation_report",
    "translate.execute_ddl_fixpoint", "orchestrate.handle", "orchestrate.save_run_report",
    "streaming.watch_config_dir", "audit.insert_rows", "audit.insert_df", "audit.table",
    "audit.queries", "sources.load_table", "sources.read_table", "sources.write_table",
    "sources.stage_files", "sources.incremental_append", "validation.schema_validation",
    "validation.column_validation", "validation.row_validation",
    "validation.custom_query_validation", "tables.load_table",
]
_WITH_CALLS = {
    "translate.split_statements", "translate.transpile_ddl", "translate.translate_file",
    "translate.dry_run_statement", "translate.split_translation_report",
    "audit.insert_rows", "audit.insert_df", "audit.table", "validation.schema_validation",
    "validation.column_validation", "validation.row_validation",
    "validation.custom_query_validation",
}
_COUNTS = [
    ("translate.dry_run_statement.fail", "count"),
    ("translate.execute_ddl_fixpoint.stmts", "count"),
    ("translate.execute_ddl_fixpoint.attempts", "count"),
    ("audit.parquet_files", "count"),
    ("sources.rows_written", "count"),
    ("sources.files_written", "count"),
    ("sources.bytes_written_per_byte_read", "ratio"),
    ("sources.bulk_load.skip_share", "fraction"),
    ("validation.rows_compared", "count"),
]


def _layer_metrics(spans, counts, get_spark_s):
    from wl_plans import QUERY_LIST

    st, calls, total = self_times(spans), call_counts(spans), total_times(spans)
    m = {"session.get_spark.s": (get_spark_s, "s")}
    for name in _LAYER_NAMES:
        m[f"{name}.self_s"] = (st.get(name, 0.0), "s")
        if name in _WITH_CALLS:
            m[f"{name}.calls"] = (float(calls.get(name, 0)), "count")
    for name, unit in _COUNTS:
        m[name] = (float(counts.get(name, 0)), unit)
    stmts = counts.get("translate.execute_ddl_fixpoint.stmts", 0)
    attempts = counts.get("translate.execute_ddl_fixpoint.attempts", 0)
    m["translate.execute_ddl_fixpoint.useful_ratio"] = (
        stmts / attempts if attempts else 0.0, "ratio")
    m["plans.build_s"] = (st.get("plans.build", 0.0), "s")
    m["plans.exec_s"] = (st.get("plans.exec", 0.0), "s")
    for q in QUERY_LIST:
        m[f"plans.{q}.s"] = (total.get(f"plans.{q}", 0.0), "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
