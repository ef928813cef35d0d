"""validate_sweep: a generated DVT spec CSV over drifted targets.

Source tables are a 10x key-offset upsample (``datagen.upsample``, the
method of ``tools/gen_scale_data.py``) of seeded sf0.005 orders, part and
events, plus lineitem for column checks only. Targets are written
before set-up (untimed) with seeded planted drift: updated, deleted and
inserted rows, and ``orders.o_totalprice`` retyped double → decimal(15,2).

The spec CSV uses the reference's 25-column layout with two header rows;
each data row is parsed by ``operators.spec.parse_spec_rows`` and drives
one op: schema, column (grouped, ungrouped, filtered), row (full hash
and random-row) or custom-query validation. Results are appended to
``dmt_dvt_results`` through ``AuditLog.insert_df``.

Two specs ask for min/max on a DATE and a STRING column. At this commit
``column_validation`` casts every min/max to double, which raises
(DATATYPE_MISMATCH / CAST_INVALID_INPUT); those ops are carried on
purpose and reported as known-defect failures.

Op = one spec. Work = source rows compared. Expectations: DuckDB over
the same source and target files (counts, sums, group-wise results,
custom-query results, row-check totals), or known from the drift that
was planted (schema results, random-row bounds).
"""

from __future__ import annotations

import csv
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Op, Workload, run_validation

BASE_SF = 0.005
TINY_SF = 0.001
REPS = 10
DRIFT = 0.005  # share of rows updated, deleted and inserted (each)
RANDOM_ROWS = 200
DEFECT_CLASSES = ("DATATYPE_MISMATCH", "CAST_INVALID_INPUT")
DEFECT = "column_validation casts min/max to double (operators/validation.py _agg_exprs)"

# (validation-type, source/target table, fields) — one spec CSV row each
SPECS = [
    ("schema", "orders", {}),
    ("column", "lineitem", {"count": "*", "sum": "l_quantity,l_extendedprice", "avg": "l_discount"}),
    ("column", "orders", {"count": "*", "sum": "o_totalprice", "grouped-columns": "o_orderstatus"}),
    ("column", "events", {"count": "*", "sum": "value", "filters": "event_type = 'purchase'"}),
    ("column", "lineitem", {"min": "l_commitdate", "max": "l_commitdate"}),  # known defect
    ("column", "lineitem", {"min": "l_returnflag", "max": "l_returnflag"}),  # known defect
    ("row", "orders", {"primary-keys": "o_orderkey", "hash": "*", "exclusion-columns": "o_totalprice"}),
    ("row", "part", {"primary-keys": "p_partkey", "hash": "*", "use-random-row": "Y",
                     "random-row-batch-size": str(RANDOM_ROWS)}),
    ("custom query", "orders", {"sum": "c,s"}),
]
CUSTOM_SQL = {
    "orders": "SELECT o_orderpriority, COUNT(*) AS c, SUM(o_custkey) AS s FROM {t} GROUP BY o_orderpriority",
}
_FIELDS = ["translation-type", "validation-type", "source-table", "target-table",
           "source-query-file", "target-query-file", "filter-status", "primary-keys", "filters",
           "exclusion-columns", "allow-list", "count", "sum", "min", "max", "avg",
           "grouped-columns", "wildcard-include-string-len", "cast-to-bigint", "threshold",
           "hash", "concat", "comparison-fields", "use-random-row", "random-row-batch-size"]


def _drift(tbl: pa.Table, key: str, change: dict, rng: np.random.Generator) -> pa.Table:
    """The target: DRIFT of the rows deleted, DRIFT updated by ``change``
    and DRIFT inserted under fresh keys."""
    n = tbl.num_rows
    k = max(1, int(n * DRIFT))
    pick = rng.permutation(n)
    deleted, updated = pick[:k], pick[k:2 * k]
    keep = np.ones(n, bool)
    keep[deleted] = False
    upd = np.zeros(n, bool)
    upd[updated] = True
    cols = {}
    for name in tbl.column_names:
        col = tbl[name]
        if name in change:
            col = pa.array(np.where(upd, change[name](col.to_numpy(zero_copy_only=False)),
                                    col.to_numpy(zero_copy_only=False)), col.type)
        cols[name] = col
    target = pa.table(cols).filter(pa.array(keep))
    ins = tbl.take(pa.array(pick[2 * k:3 * k]))
    max_key = int(np.max(tbl[key].to_numpy()))
    ins = ins.set_column(ins.schema.get_field_index(key), key,
                         pa.array(np.arange(max_key + 1, max_key + 1 + k, dtype="int64")))
    return pa.concat_tables([target, ins])


class ValidateSweep(Workload):
    name = "validate_sweep"
    unit = "rows"
    # its ops run Spark tasks on every core and slow most when the host is
    # contended; a third cycle averages more of that out of each run
    min_cycles = 3

    def make_inputs(self) -> None:
        base = datagen.make_tables(self.seed, TINY_SF if self.tiny else BASE_SF)
        src = datagen.upsample(base, REPS)
        for t in ("region", "nation", "supplier", "customer"):
            del src[t]
        rng = np.random.default_rng(self.seed + 11)
        li = src["lineitem"]
        ship = li["l_shipdate"].to_numpy().astype("datetime64[D]")
        commit = ship + rng.integers(1, 31, li.num_rows).astype("timedelta64[D]")
        src["lineitem"] = li.append_column("l_commitdate", pa.array(commit, pa.date32()))
        ev = src["events"]
        tgt = {}
        tgt["orders"] = _drift(
            src["orders"], "o_orderkey",
            {"o_orderpriority": lambda a: np.full(len(a), "9-DRIFTED", object)}, rng)
        tot = tgt["orders"]["o_totalprice"]
        tgt["orders"] = tgt["orders"].set_column(
            tgt["orders"].schema.get_field_index("o_totalprice"), "o_totalprice",
            tot.cast(pa.decimal128(15, 2)))
        tgt["part"] = _drift(
            src["part"], "p_partkey", {"p_brand": lambda a: np.full(len(a), "Brand#0", object)}, rng)
        tgt["events"] = _drift(
            ev, "event_id", {"value": lambda a: a + 1.0}, rng)
        tgt["lineitem"] = src["lineitem"]
        self.src_dir = os.path.join(self.work, "src")
        self.tgt_dir = os.path.join(self.work, "tgt")
        datagen.write_tables(src, self.src_dir)
        datagen.write_tables(tgt, self.tgt_dir)
        self.rows = {t: v.num_rows for t, v in src.items()}
        self.filtered_rows = int(np.sum(ev["event_type"].to_numpy(zero_copy_only=False) == "purchase"))
        self.spec_csv, self.query_files = self._spec_csv()
        self.expect = self._expectations()

    def _spec_csv(self) -> tuple[list[str], dict]:
        qdir = os.path.join(self.work, "queries")
        os.makedirs(qdir)
        files = {}
        for t, sql in CUSTOM_SQL.items():
            for side in ("src", "tgt"):
                files[(t, side)] = os.path.join(qdir, f"{side}_{t}.sql")
                with open(files[(t, side)], "w") as fh:
                    fh.write(sql.format(t=f"{side}_{t}"))
        lines = []
        for vtype, table, fields in SPECS:
            row = dict.fromkeys(_FIELDS, "")
            row.update({"translation-type": "data", "validation-type": vtype,
                        "source-table": table, "target-table": f"tgt.{table}"}, **fields)
            if vtype == "custom query":
                row["source-table"] = ""
                row["source-query-file"] = files[(table, "src")]
                row["target-query-file"] = files[(table, "tgt")]
            buf = io.StringIO()
            csv.writer(buf, lineterminator="").writerow([row[f] for f in _FIELDS])
            lines.append(buf.getvalue())
        return lines, files

    def _expectations(self) -> list[dict]:
        import duckdb

        con = duckdb.connect()

        def rel(side, t):
            return f"read_parquet('{self.src_dir if side == 's' else self.tgt_dir}/{t}.parquet')"

        out = []
        for vtype, table, fields in SPECS:
            e: dict = {}
            if vtype == "column" and "min" not in fields:
                where = f"WHERE {fields['filters']}" if "filters" in fields else ""
                group = fields.get("grouped-columns")
                aggs = ["count(*)::DOUBLE"] + [f"sum({c})::DOUBLE" for c in fields["sum"].split(",")]
                names = ["count:*"] + [f"sum:{c}" for c in fields["sum"].split(",")]
                if "avg" in fields:
                    aggs.append(f"avg({fields['avg']})::DOUBLE")
                    names.append(f"avg:{fields['avg']}")
                for side in ("s", "t"):
                    sel = (f"{group}::VARCHAR, " if group else "'-', ") + ", ".join(aggs)
                    tail = f"GROUP BY {group}" if group else ""
                    for r in con.execute(f"SELECT {sel} FROM {rel(side, table)} {where} {tail}").fetchall():
                        for n, v in zip(names, r[1:]):
                            e.setdefault((n, r[0]), {})[side] = v
            elif vtype == "custom query":
                for side, s in (("s", "src"), ("t", "tgt")):
                    sql = CUSTOM_SQL[table].format(t=rel(side, table))
                    cols = fields["sum"].split(",")
                    q = "SELECT " + ", ".join(f"sum({c})::DOUBLE" for c in cols)
                    r = con.execute(f"{q} FROM ({sql})").fetchone()
                    for c, v in zip(cols, r):
                        e.setdefault((f"sum:{c}", "-"), {})[side] = v
            elif vtype == "row" and "use-random-row" not in fields:
                key = fields["primary-keys"]
                excl = fields.get("exclusion-columns")
                desc = con.execute(f"SELECT * FROM {rel('s', table)} LIMIT 0").description
                cols = [d[0] for d in desc if d[0] != excl]
                on = " AND ".join(f"s.{c} IS NOT DISTINCT FROM t.{c}" for c in cols)
                total = con.execute(
                    f"SELECT count(*) FROM {rel('s', table)} s FULL OUTER JOIN {rel('t', table)} t "
                    f"ON s.{key} = t.{key}").fetchone()[0]
                matched = con.execute(
                    f"SELECT count(*) FROM {rel('s', table)} s JOIN {rel('t', table)} t ON {on}").fetchone()[0]
                e = {"total": total, "matched": matched}
            out.append(e)
        con.close()
        return out

    def bind(self, spark, ctx) -> None:
        from data_migration_tool_spark.tables import load_table

        self.spark, self.tracer = spark, ctx.tracer
        self.audit = ctx.audit("dvt")
        self.tag = ctx.tag
        for t in CUSTOM_SQL:
            load_table(spark, self.src_dir, t).createOrReplaceTempView(f"src_{t}")
            load_table(spark, self.tgt_dir, t).createOrReplaceTempView(f"tgt_{t}")

    def cycle(self, k: int) -> list[Op]:
        ops = []
        for i, (vtype, table, fields) in enumerate(SPECS):
            work = self.filtered_rows if "filters" in fields else self.rows[table]
            if vtype == "schema":
                work = 0  # metadata only
            ops.append(Op(f"{vtype}:{table}:{i}", work, self._runner(i, k),
                          info={"i": i, "probe": "min" in fields}))
        return ops

    def _runner(self, i: int, k: int):
        return lambda: self._run_spec(i, k)

    def _run_spec(self, i: int, k: int) -> list:
        from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS
        from data_migration_tool_spark.operators import validation as V
        from data_migration_tool_spark.operators.spec import parse_spec_rows
        from data_migration_tool_spark.tables import load_table

        text = "header 1\nheader 2\n" + self.spec_csv[i]
        (spec,) = parse_spec_rows(text).values()
        table = SPECS[i][1]
        if spec.validation_type == "custom query":
            with open(self.query_files[(table, "src")]) as fh:
                src_sql = fh.read()
            with open(self.query_files[(table, "tgt")]) as fh:
                tgt_sql = fh.read()
            rows = run_validation(self.tracer, "custom_query", V.custom_query_validation,
                                  self.spark, src_sql, tgt_sql, spec)
        else:
            src = load_table(self.spark, self.src_dir, table)
            tgt = load_table(self.spark, self.tgt_dir, table)
            if spec.validation_type == "schema":
                rows = run_validation(self.tracer, "schema", V.schema_validation, self.spark, src, tgt, spec)
            elif spec.validation_type == "row":
                rows = run_validation(self.tracer, "row", V.row_validation, src, tgt, spec)
            else:
                rows = run_validation(self.tracer, "column", V.column_validation, src, tgt, spec)
        schema = KNOWN_SCHEMAS["dmt_dvt_results"]
        data = [{**r.asDict(), "run_id": f"{self.tag}-{k}", "validation_name": r.validation_name}
                for r in rows]
        self.audit.insert_df("dmt_dvt_results", self.spark.createDataFrame(
            [tuple(d.get(f.name) for f in schema.fields) for d in data], schema))
        if not SPECS[i][0] == "schema":
            self.tracer.count("validation.rows_compared", self.rows[table])
        return rows

    def known_defect(self, record) -> str | None:
        if record.info.get("probe") and any(c in record.error for c in DEFECT_CLASSES):
            return DEFECT
        return None

    def check(self, records) -> None:
        for r in records:
            if r.error is None:
                problems = self._check(r.info["i"], r.result)
                if problems:
                    r.mismatch = "; ".join(problems[:3])

    def _check(self, i: int, rows: list) -> list[str]:
        vtype, table, fields = SPECS[i]
        exp, problems = self.expect[i], []
        if vtype == "schema":
            retyped = {"o_totalprice"}
            for r in rows:
                want = "fail" if r.source_column_name in retyped else "success"
                if r.validation_status != want:
                    problems.append(f"{r.validation_name} {r.validation_status} != {want}")
            if len(rows) != len(self._columns(table)):
                problems.append(f"{len(rows)} schema rows")
        elif vtype == "row":
            (r,) = rows
            total, matched = int(r.source_agg_value), int(r.target_agg_value)
            if "use-random-row" in fields:
                # the sample is drawn by the engine; ~1% of keys drifted, so
                # fewer than 10% of a 200-key sample may mismatch
                if total != RANDOM_ROWS or not RANDOM_ROWS * 0.9 <= matched <= RANDOM_ROWS:
                    problems.append(f"random-row {total}/{matched}")
            elif (total, matched) != (exp["total"], exp["matched"]):
                problems.append(f"row {total}/{matched} != {exp['total']}/{exp['matched']}")
            want = "success" if total == matched else "fail"
            if r.validation_status != want:
                problems.append(f"row status {r.validation_status} != {want}")
        elif "min" in fields:
            # only reached once the min/max defect is fixed: lineitem's target is identical
            problems += [f"{r.validation_name} {r.validation_status}" for r in rows
                         if r.validation_status != "success"]
        else:
            thr = float(fields.get("threshold", 0) or 0)
            seen = set()
            for r in rows:
                g = "-"
                if r.group_by_columns:
                    g = next(iter(json.loads(r.group_by_columns).values()))
                key = (r.validation_name, str(g))
                seen.add(key)
                want = exp.get(key)
                if want is None:
                    problems.append(f"unexpected result {key}")
                    continue
                sv, tv = want.get("s"), want.get("t")
                for got, w in ((r.source_agg_value, sv), (r.target_agg_value, tv)):
                    if (got is None) != (w is None) or (got is not None and not _close(float(got), w)):
                        problems.append(f"{key} {got} != {w}")
                if sv is None or tv is None:
                    pct = 0.0 if sv == tv else float("inf")
                else:
                    pct = 0.0 if sv == tv else (abs(tv - sv) / abs(sv) * 100.0 if sv else float("inf"))
                want_status = "success" if pct <= thr + 1e-9 else "fail"
                if r.validation_status != want_status:
                    problems.append(f"{key} {r.validation_status} != {want_status}")
            if seen != set(exp):
                problems.append(f"result keys differ: {sorted(set(exp) - seen)[:3]}")
        return problems

    def _columns(self, table: str) -> list[str]:
        return pq.read_schema(os.path.join(self.src_dir, f"{table}.parquet")).names


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
