"""Migration cover pass: the reference's event chain over four small tables.

Not a timed workload (``README.md`` says why): traced runs pass through it
once, so the ``sources``, ``streaming`` and ``orchestrate`` layers hold
measured spans and counts on every workload.

A ``type=data`` config JSON lands in a directory;
``streaming.watch_config_dir`` (AvailableNow) hands it to
``Controller.handle``, which runs the data-load pipeline this module
registers (the package registers none for data loads). Per table:

    bulk_load → column validation (count + numeric sums) → row-hash
    validation on the key → results appended to ``dmt_dvt_results`` →
    read back through ``audit.queries.dvt_passed_tables``

One table per source format the reference ingests: pipe-delimited CSV
read with the schema string transpiled from Teradata DDL (nation), Hive
``\\x01`` text (supplier), plain parquet (orders) and date-partitioned
parquet (events). The controller writes the run report.

Then an incremental catch-up for orders and events: seeded late files are
announced as ``hive_pubsub_audit`` rows, staged by ``stage_files`` and
appended by ``incremental_append``; both targets are recounted. Finally
the same config is dropped again and every table must SKIP (the rerun
anti-join).

Ops: one per table (load to validated), one for the catch-up and one for
the rerun drop. Expectations come from DuckDB over the source files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

import datagen
from accounting import OpRecord
from common import Op, SubOps, Workload, run_validation

SF = 0.001
LATE_SHARE = 0.02  # late rows, as a share of the table
TABLES = {  # table → (key, source format)
    "nation": ("n_nationkey", "pipe"),
    "supplier": ("s_suppkey", "hive_text"),
    "orders": ("o_orderkey", "parquet"),
    "events": ("event_id", "dated_parquet"),
}
_TD_TYPE = {pa.int64(): "BIGINT", pa.int32(): "INTEGER", pa.float64(): "FLOAT",
            pa.string(): "VARCHAR(64)", pa.timestamp("us"): "TIMESTAMP(6)"}
_DUCK_TYPE = {pa.int64(): "BIGINT", pa.int32(): "INTEGER", pa.float64(): "DOUBLE",
              pa.string(): "VARCHAR", pa.timestamp("us"): "TIMESTAMP"}
_NUMERIC = (pa.int64(), pa.int32(), pa.float64())


def teradata_ddl(table: str, schema: pa.Schema) -> str:
    cols = ",\n  ".join(f"{f.name} {_TD_TYPE[f.type]}" for f in schema)
    return f"CREATE MULTISET TABLE src_db.{table}, NO FALLBACK (\n  {cols}\n) PRIMARY INDEX ({schema[0].name})"


class MigrateCover(Workload):
    name = "migrate_wave"
    unit = "rows"

    def make_inputs(self) -> None:
        import duckdb

        tables = datagen.make_tables(self.seed, SF)
        self.sources = {}
        self.rows = {}
        for name, (_key, fmt) in TABLES.items():
            tbl = tables[name]
            path = os.path.join(self.work, "source", name)
            if fmt in ("pipe", "hive_text"):
                os.makedirs(path)
                pcsv.write_csv(tbl, os.path.join(path, "part-0.txt"), pcsv.WriteOptions(
                    include_header=False, delimiter="|" if fmt == "pipe" else "\x01",
                    quoting_style="none"))
            elif fmt == "parquet":
                os.makedirs(path)
                pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
            else:
                day = tbl["ts"].to_numpy().astype("datetime64[D]")
                for d in np.unique(day):
                    part = os.path.join(path, f"dt={d}")
                    os.makedirs(part)
                    pq.write_table(tbl.filter(pa.array(day == d)), os.path.join(part, "part-0.parquet"))
            self.sources[name] = (path, fmt, tbl.schema)
            self.rows[name] = tbl.num_rows
        # late files for the catch-up: fresh keys past the generated range
        rng = np.random.default_rng(self.seed + 7)
        self.late = {}
        for name in ("orders", "events"):
            base = tables[name]
            n = max(1, int(base.num_rows * LATE_SHARE))
            take = base.take(pa.array(rng.integers(0, base.num_rows, n)))
            take = take.set_column(0, TABLES[name][0], pa.array(
                np.arange(base.num_rows, base.num_rows + n, dtype="int64")))
            if name == "events":
                day = take["ts"].to_numpy().astype("datetime64[D]")
                take = take.append_column("dt", pa.array(day, pa.date32()))
            self.late[name] = take
        # expectations, computed by DuckDB over the source files
        con = duckdb.connect()
        self.expect = {}
        for name, (path, fmt, schema) in self.sources.items():
            if fmt in ("pipe", "hive_text"):
                sep = "|" if fmt == "pipe" else "\x01"
                cols = "{" + ", ".join(f"'{f.name}': '{_DUCK_TYPE[f.type]}'" for f in schema) + "}"
                rel = f"read_csv('{path}/*.txt', delim='{sep}', header=false, columns={cols})"
            elif fmt == "parquet":
                rel = f"read_parquet('{path}/*.parquet')"
            else:
                rel = f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)"
            num = [f.name for f in schema if f.type in _NUMERIC]
            sums = ", ".join(f"sum({c})::DOUBLE" for c in num)
            row = con.execute(f"select count(*), {sums} from {rel}").fetchone()
            self.expect[name] = {"count": row[0], "sums": dict(zip(num, row[1:]))}
        con.close()

    def bind(self, spark, ctx) -> None:
        from data_migration_tool_spark.orchestrate import Controller
        from data_migration_tool_spark.orchestrate import controller as C
        from data_migration_tool_spark.translate.transpiler import transpile_ddl

        self.spark, self.ctx, self.tracer = spark, ctx, ctx.tracer
        self.audit = ctx.audit("migrate")
        self.warehouse = ctx.path("warehouse")
        self.landing = ctx.path("landing")
        self.ckpt = ctx.path("ckpt")
        self.staging = ctx.path("staging")
        self.late_dir = ctx.path("late")
        self.ctl = Controller(self.audit)
        self.ctl.register(C.DATA_LOAD_HIVE, self._pipeline)
        self.schema_ddl = {
            name: transpile_ddl(teradata_ddl(name, schema), "teradata").schema_ddl()
            for name, (path, fmt, schema) in self.sources.items() if fmt in ("pipe", "hive_text")
        }
        self.statuses: list[str] = []
        self.drops = 0

    # ---- the registered data-load pipeline --------------------------------
    def _pipeline(self, config: dict):
        from data_migration_tool_spark.orchestrate import TaskResult
        from data_migration_tool_spark.sources import bulk_load as BL

        db, run_id = config["dataset"], config["unique_id"]
        results = []
        for name in config["tables"]:
            path, fmt, _schema = self.sources[name]
            spec = BL.TableLoadSpec(
                database=db, table=name, source_path=path,
                fmt="parquet" if fmt.endswith("parquet") else "csv",
                delimiter={"pipe": "|", "hive_text": "\x01"}.get(fmt),
                schema_ddl=self.schema_ddl.get(name))
            t0 = time.perf_counter()
            try:
                ok = self._migrate_table(db, run_id, name, spec)
            except Exception as e:  # noqa: BLE001 — a raising table is a failed op, recorded
                ok = False
                self._subops.append(OpRecord(f"table:{name}", time.perf_counter() - t0,
                                             self.rows[name], error=f"{type(e).__name__}: {e}"[:300],
                                             info={"table": name}))
            results.append(TaskResult(f"migrate:{name}", ok, dynamic=True))
        return results

    def _migrate_table(self, db: str, run_id: str, name: str, spec) -> bool:
        """Load one table, validate it, audit the results and read the
        verdict back; record the op. Returns whether the table passed."""
        from data_migration_tool_spark.audit import queries as AQ
        from data_migration_tool_spark.operators import validation as V
        from data_migration_tool_spark.sources import bulk_load as BL
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        status = BL.bulk_load(self.spark, [spec], self.warehouse, self.audit,
                              run_id=run_id)[f"{db}.{name}"]
        self.statuses.append(status)
        if status == "SKIP":
            return True
        src = self._read_source(name)
        tgt = self.spark.read.parquet(os.path.join(self.warehouse, db, name))
        num = [f.name for f in self.sources[name][2] if f.type in _NUMERIC]
        col_rows = run_validation(self.tracer, "column", V.column_validation, src, tgt,
                                  V.ValidationSpec(source_table=name, target_table=f"{db}.{name}",
                                                   count_cols=["*"], sum_cols=num))
        row_rows = run_validation(self.tracer, "row", V.row_validation, src, tgt,
                                  V.ValidationSpec(validation_type="row", source_table=name,
                                                   target_table=f"{db}.{name}",
                                                   primary_keys=[TABLES[name][0]], hash_cols=["*"]))
        now = dt.datetime.now()
        self.audit.insert_rows("dmt_dvt_results", [
            {**r.asDict(), "run_id": run_id, "start_time": now} for r in col_rows + row_rows])
        passed = (AQ.dvt_passed_tables(self.audit)
                  .filter((F.col("run_id") == run_id) & (F.col("source_table_name") == name))
                  .count())
        self._subops.append(OpRecord(f"table:{name}", time.perf_counter() - t0, self.rows[name],
                                     info={"table": name},
                                     result={"status": status, "passed": passed,
                                             "column": col_rows, "row": row_rows}))
        self.tracer.count("sources.rows_written", self.rows[name])
        self.tracer.count("validation.rows_compared", 2 * self.rows[name])
        return status == "PASS" and passed == 1

    def _read_source(self, name):
        from data_migration_tool_spark.sources.readers import read_table

        path, fmt, _schema = self.sources[name]
        if fmt in ("pipe", "hive_text"):
            return read_table(self.spark, path, fmt="csv", delimiter="|" if fmt == "pipe" else "\x01",
                              schema_ddl=self.schema_ddl[name])
        return read_table(self.spark, path)

    def _drop(self, config: dict) -> str | None:
        """Land the config and drain it through the streaming watcher."""
        from data_migration_tool_spark.streaming import file_stream

        self.drops += 1
        with open(os.path.join(self.landing, f"cfg_{self.drops}.json"), "w") as fh:
            fh.write(json.dumps(config))
        got: list[str | None] = []
        with self.tracer.span("streaming.watch_config_dir") as sid:
            def dispatch(batch_df, batch_id):
                for r in batch_df.collect():
                    with self.tracer.span("streaming.dispatch", parent=sid):
                        got.append(self.ctl.handle("OBJECT_FINALIZE", json.loads(r["value"])))

            q = file_stream.watch_config_dir(self.spark, self.landing, self.ckpt, dispatch,
                                             available_now=True)
            q.awaitTermination()
        if len(got) != 1:
            raise RuntimeError(f"config drop dispatched {len(got)} runs, expected 1")
        return got[0]

    # ---- ops ---------------------------------------------------------------
    def cover_ops(self) -> list[Op]:
        return [Op("wave", 0, self._wave)]

    def _wave(self) -> SubOps:
        self._subops = SubOps()
        db = f"mw_{self.ctx.tag}"
        config = {"type": "data", "source": "hive", "unique_id": f"{db}-run",
                  "dataset": db, "tables": list(TABLES)}
        status = self._drop(config)
        for rec in self._subops:
            rec.info["drop_status"] = status
        self._subops.append(self._catch_up(db))
        t0 = time.perf_counter()
        n_status = len(self.statuses)
        status2 = self._drop(config)
        self._subops.append(OpRecord("rerun", time.perf_counter() - t0, 0, result={
            "status": status2, "statuses": self.statuses[n_status:]}))
        return self._subops

    def _catch_up(self, db: str) -> OpRecord:
        from data_migration_tool_spark.sources import incremental as INC

        day = dt.datetime(2024, 3, 1)
        paths = {}
        for name, tbl in self.late.items():
            d = os.path.join(self.late_dir, db, name)
            os.makedirs(d)
            paths[name] = os.path.join(d, "late-0.parquet")
            pq.write_table(tbl, paths[name])
        t0 = time.perf_counter()
        self.audit.insert_rows("hive_pubsub_audit", [
            {"subscription_name": "dmt-landing", "message_id": f"{db}-{name}",
             "publish_time": day, "data": json.dumps({"name": p, "bucket": "landing"}),
             "attributes": "{}"} for name, p in paths.items()])
        staged = INC.stage_files(self.audit, self.staging, run_time=day,
                                 known_tables={(db, n) for n in self.late})
        loaded = INC.incremental_append(self.spark, self.audit, self.warehouse)
        counts = {n: self.spark.read.parquet(os.path.join(self.warehouse, db, n)).count()
                  for n in self.late}
        late_rows = sum(t.num_rows for t in self.late.values())
        self.tracer.count("sources.rows_written", late_rows)
        return OpRecord("catch_up", time.perf_counter() - t0, late_rows, result={
            "staged": [r["file_copy_status"] for r in staged], "loaded": loaded, "counts": counts,
            "db": db})

    # ---- checks --------------------------------------------------------------
    def check(self, records) -> None:
        for r in records:
            if r.error is not None:
                continue
            res, problems = r.result, []
            if r.name.startswith("table:"):
                problems = self._check_table(r.info["table"], res)
                if r.info["drop_status"] != "Success":
                    problems.append(f"run status {r.info['drop_status']!r} != 'Success'")
            elif r.name == "catch_up":
                if res["staged"] != ["PASS"] * len(self.late):
                    problems.append(f"staged {res['staged']}")
                want_loaded = {f"{res['db']}.{n}": 1 for n in self.late}
                if res["loaded"] != want_loaded:
                    problems.append(f"loaded {res['loaded']} != {want_loaded}")
                for n, got in res["counts"].items():
                    want = self.rows[n] + self.late[n].num_rows
                    if got != want:
                        problems.append(f"{n} recount {got} != {want}")
            elif r.name == "rerun":
                if res["status"] != "Success" or res["statuses"] != ["SKIP"] * len(TABLES):
                    problems.append(f"rerun {res['status']!r} {res['statuses']}")
            if problems:
                r.mismatch = "; ".join(problems)

    def _check_table(self, name: str, res: dict) -> list[str]:
        exp, problems = self.expect[name], []
        if res["status"] != "PASS" or res["passed"] != 1:
            problems.append(f"load {res['status']}, audit read-back {res['passed']}")
        for row in res["column"]:
            want = exp["count"] if row.aggregation_type == "count" else exp["sums"][row.source_column_name]
            for got in (row.source_agg_value, row.target_agg_value):
                if not _close(float(got), float(want)):
                    problems.append(f"{row.validation_name} {got} != {want}")
            if row.validation_status != "success":
                problems.append(f"{row.validation_name} {row.validation_status}")
        (row,) = res["row"]
        # keys are unique: every source row matches its copy
        if (row.validation_status, int(row.source_agg_value), int(row.target_agg_value)) != (
                "success", exp["count"], exp["count"]):
            problems.append(f"row check {row.validation_status} {row.source_agg_value}/"
                            f"{row.target_agg_value} != {exp['count']}")
        return problems

    def layer_counts(self) -> dict[str, float]:
        files = size = 0
        for root, _dirs, names in os.walk(self.warehouse):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        src = sum(_tree_bytes(p) for p, _f, _s in self.sources.values())
        return {"sources.files_written": files,
                "sources.bytes_written_per_byte_read": size / src,
                "sources.bulk_load.skip_share": self.statuses.count("SKIP") / len(self.statuses)}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n)) for r, _d, ns in os.walk(path) for n in ns)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
