"""translate_batch: a seeded dialect-SQL corpus through the controller.

Each cycle maps the corpus's source schemas to a fresh target schema and
drives every file, one ``Controller.handle`` call per file, through
``orchestrate.pipelines.sql_translation_pipeline``: the DDL files first
(``type=ddl``: transpile, then fixpoint execution), then the DML/SELECT
files (``type=dml`` / ``type=sql``: translate, then analyzer dry run).

Dialects: Teradata (SQL and BTEQ mode), Oracle, Redshift. The DML uses
QUALIFY, TOP, DECODE, NVL, CONNECT BY, Oracle ``(+)`` joins and DATEADD.
A fixed share of statements is planted to fail: one unparseable CREATE
per cycle, and two SELECTs on tables that do not exist.

Op = one input file. Work = statements in the file.
Expectation per op, known from how the file was built: the run status
(``Success``, or ``Partial Success`` for a file with a planted failure),
the per-file audit row's status, the statements written to the output
file and, for DDL, each created table's column count.
"""

from __future__ import annotations

import os
import random

from common import Op, Workload

N_CORPORA = 16  # distinct seeded corpora; cycle k uses corpus k % N_CORPORA

_TD_TYPES = ["INTEGER", "BIGINT", "SMALLINT", "BYTEINT", "DECIMAL(12,2)", "DECIMAL(18,4)",
             "VARCHAR(40)", "CHAR(3)", "DATE FORMAT 'YYYY-MM-DD'", "TIMESTAMP(0)", "FLOAT"]
_ORA_TYPES = ["NUMBER(10)", "NUMBER(12,2)", "NUMBER", "VARCHAR2(60)", "CHAR(2)", "DATE",
              "TIMESTAMP", "CLOB"]
_RS_TYPES = ["BIGINT", "INTEGER", "VARCHAR(32)", "DOUBLE PRECISION", "TIMESTAMP", "DATE",
             "BOOLEAN", "DECIMAL(10,3)"]


class _File:
    def __init__(self, name, kind, dialect, statements, bteq=False,
                 planted=0, tables=None, out_statements=None):
        self.name = name
        self.kind = kind  # ddl | dml | sql
        self.dialect = dialect
        self.statements = statements
        self.bteq = bteq
        self.planted = planted  # statements planted to fail
        self.tables = tables or {}  # DDL: table → column count
        self.out_statements = len(statements) if out_statements is None else out_statements

    def text(self) -> str:
        body = ";\n".join(self.statements) + ";\n"
        if self.bteq:
            return f"BEGIN\n{body}EXCEPTION WHEN ERROR;\nEND;\n"
        return body


def _extra_cols(rng: random.Random, types: list[str], prefix: str) -> list[str]:
    return [f"{prefix}{i} {rng.choice(types)}" for i in range(5)]


def build_corpus(rng: random.Random) -> list[_File]:
    """One cycle's files: 4 DDL files, 1 planted-bad DDL file, 4 DML/SQL files.
    File and statement counts are fixed; the seed picks names, column
    types, literals and which tables each statement reads."""
    files: list[_File] = []
    td_tabs, ora_tabs, rs_tabs = [], [], []

    def td_table(i):
        extra = _extra_cols(rng, _TD_TYPES, "x")
        name = f"td_orders_{i}"
        td_tabs.append(name)
        cols = ["id INTEGER NOT NULL", "cust_id INTEGER", "amount DECIMAL(15,2)",
                "status CHAR(1) NOT CASESPECIFIC", "order_dt DATE FORMAT 'YYYY-MM-DD'",
                "note VARCHAR(100) CHARACTER SET LATIN"] + extra
        stmt = (f"CREATE MULTISET TABLE src_td.{name} ,NO FALLBACK ,NO BEFORE JOURNAL (\n  "
                + ",\n  ".join(cols) + "\n) PRIMARY INDEX ( id )")
        return name, stmt, len(cols)

    for fname, n, bteq in (("td_ddl.sql", 3, False),
                           ("td_bteq_ddl.sql", 2, True)):
        stmts, tables = [], {}
        for _ in range(n):
            name, stmt, ncol = td_table(len(td_tabs))
            stmts.append(stmt)
            tables[name] = ncol
        files.append(_File(fname, "ddl", "teradata", stmts, bteq=bteq, tables=tables))

    stmts, tables = [], {}
    for i in range(3):
        name = f"ora_emp_{i}"
        ora_tabs.append(name)
        cols = ["emp_id NUMBER(10) CONSTRAINT emp_nn NOT NULL", "mgr_id NUMBER(10)",
                "ename VARCHAR2(60)", "dept NUMBER(4)", "salary NUMBER(12,2)",
                "hired DATE"] + _extra_cols(rng, _ORA_TYPES, "y")
        stmts.append(f"CREATE TABLE src_ora.{name} (\n  " + ",\n  ".join(cols)
                     + ",\n  CONSTRAINT pk_emp PRIMARY KEY (emp_id)\n)")
        tables[name] = len(cols)
    files.append(_File("ora_ddl.sql", "ddl", "oracle", stmts, tables=tables))

    stmts, tables = [], {}
    for i in range(3):
        name = f"rs_events_{i}"
        rs_tabs.append(name)
        cols = ["id BIGINT NOT NULL", "kind VARCHAR(32) ENCODE lzo", "val DOUBLE PRECISION",
                "ts TIMESTAMP"] + _extra_cols(rng, _RS_TYPES, "z")
        stmts.append(f"CREATE TABLE src_rs.{name} (\n  " + ",\n  ".join(cols)
                     + "\n) DISTSTYLE KEY DISTKEY (id) SORTKEY (ts)")
        tables[name] = len(cols)
    files.append(_File("rs_ddl.sql", "ddl", "redshift", stmts, tables=tables))

    # planted: an unterminated column list fails the transpiler
    files.append(_File("rs_bad_ddl.sql", "ddl", "redshift",
                       ["CREATE TABLE src_rs.rs_broken (id BIGINT, kind VARCHAR(10)"],
                       planted=1, out_statements=0))

    def pick(tabs):
        return rng.choice(tabs)

    n = lambda: rng.randint(1, 500)  # noqa: E731
    td = [
        f"SEL TOP {rng.randint(5, 50)} id, amount FROM src_td.{pick(td_tabs)} "
        f"WHERE status = 'A' ORDER BY amount DESC",
        f"SELECT id, cust_id, amount FROM src_td.{pick(td_tabs)} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY cust_id ORDER BY amount DESC) = 1",
        f"SELECT id, DECODE(status, 'A', 'active', 'C', 'closed', 'other') AS st, "
        f"ZEROIFNULL(amount) AS amt FROM src_td.{pick(td_tabs)} WHERE id > {n()}",
        f"SELECT NVL(note, 'none') AS nt, ADD_MONTHS(order_dt, {rng.randint(1, 12)}) AS due "
        f"FROM src_td.{pick(td_tabs)}",
        f"INSERT INTO src_td.{td_tabs[0]} (id, cust_id, amount) "
        f"SELECT id, cust_id, amount FROM src_td.{pick(td_tabs)} WHERE amount > {n()}",
        f"UPDATE src_td.{pick(td_tabs)} SET amount = amount * 1.1 WHERE status = 'C'",
    ]
    files.append(_File("td_dml.sql", "dml", "teradata", td))
    td_bteq = [
        f"SEL cust_id, SUM(amount) AS total FROM src_td.{pick(td_tabs)} GROUP BY cust_id "
        f"QUALIFY RANK() OVER (ORDER BY SUM(amount) DESC) <= {rng.randint(3, 10)}",
        f"SELECT id, NULLIFZERO(amount) AS amt FROM src_td.{pick(td_tabs)}",
        f"SELECT id FROM src_td.td_missing_{rng.randint(0, 99)} WHERE id = {n()}",  # planted
    ]
    files.append(_File("td_bteq_dml.sql", "dml", "teradata", td_bteq, bteq=True, planted=1))
    ora = [
        f"SELECT a.emp_id, b.ename FROM src_ora.{pick(ora_tabs)} a, src_ora.{pick(ora_tabs)} b "
        f"WHERE a.mgr_id = b.emp_id(+) AND a.salary > {n()}",
        f"SELECT emp_id, NVL(ename, 'n/a') AS nm, DECODE(dept, 10, 'ops', 20, 'eng', 'other') AS d "
        f"FROM src_ora.{pick(ora_tabs)}",
        f"SELECT emp_id, mgr_id, LEVEL FROM src_ora.{pick(ora_tabs)} "
        f"START WITH mgr_id IS NULL CONNECT BY PRIOR emp_id = mgr_id",
        f"SELECT emp_id FROM src_ora.{pick(ora_tabs)} WHERE hired < SYSDATE AND ROWNUM <= {n()}",
        f"SELECT ename FROM src_ora.ora_missing_{rng.randint(0, 99)}",  # planted
    ]
    files.append(_File("ora_dml.sql", "sql", "oracle", ora, planted=1))
    rs = [
        f"SELECT TOP {rng.randint(5, 50)} id, val FROM src_rs.{pick(rs_tabs)} ORDER BY val DESC",
        f"SELECT id, DATEADD(day, {rng.randint(1, 30)}, ts) AS due FROM src_rs.{pick(rs_tabs)}",
        f"SELECT id, NVL(kind, 'none') AS k FROM src_rs.{pick(rs_tabs)} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY kind ORDER BY ts DESC) = 1",
        f"SELECT DATEDIFF(hour, ts, GETDATE()) AS age, LEN(kind) AS l FROM src_rs.{pick(rs_tabs)}",
    ]
    files.append(_File("rs_dml.sql", "dml", "redshift", rs))
    return files


class TranslateBatch(Workload):
    name = "translate_batch"
    unit = "statements"

    def make_inputs(self) -> None:
        self.corpora = []
        root = os.path.join(self.work, "xlate_in")
        for j in range(N_CORPORA):
            files = build_corpus(random.Random(self.seed * 1000 + j))
            for f in files:
                f.in_dir = os.path.join(root, str(j), f.name[:-4])
                os.makedirs(f.in_dir)
                with open(os.path.join(f.in_dir, f.name), "w") as fh:
                    fh.write(f.text())
            self.corpora.append(files)

    def bind(self, spark, ctx) -> None:
        from data_migration_tool_spark.orchestrate import Controller
        from data_migration_tool_spark.orchestrate import controller as C
        from data_migration_tool_spark.orchestrate.pipelines import sql_translation_pipeline

        self.spark = spark
        self.audit = ctx.audit("xlate")
        self.ctl = Controller(self.audit)
        self.ctl.register(C.BATCH_TRANSLATE, sql_translation_pipeline(spark, self.audit))
        self.tag = ctx.tag

    def cycle(self, k: int) -> list[Op]:
        files = self.corpora[k % len(self.corpora)]
        target = f"xl_{self.tag}_{k}"
        ops = []
        for f in files:
            out_dir = os.path.join(self.work, "xlate_out", self.tag, str(k), f.name[:-4])
            os.makedirs(out_dir)
            config = {
                "type": f.kind,
                "source": f.dialect,
                "unique_id": f"{target}:{f.name}",
                "nameMappingList": {"src_td": target, "src_ora": target, "src_rs": target},
                "migrationTask": {"translationConfigDetails": {
                    "sourcePath": f.in_dir, "targetPath": out_dir}},
            }
            if f.bteq:
                config["batchDistribution"] = "bteq"
            ops.append(Op(f"{f.kind}:{f.name}", len(f.statements),
                          self._runner(config), info={"file": f, "out_dir": out_dir,
                                                      "target": target}))
        return ops

    def _runner(self, config):
        return lambda: self.ctl.handle("OBJECT_FINALIZE", config)

    def check(self, records) -> None:
        done = [r for r in records if r.error is None]
        audit_rows = {
            row.unique_id: row.status
            for row in self.audit.table("dmt_translation_results")
            .select("unique_id", "status").collect()
        }
        for r in done:
            f, out_dir, target = r.info["file"], r.info["out_dir"], r.info["target"]
            want = "Partial Success" if f.planted else "Success"
            problems = []
            if r.result != want:
                problems.append(f"status {r.result!r} != {want!r}")
            uid = f"{target}:{f.name}"
            want_row = "fail" if f.planted else "success"
            if audit_rows.get(uid) != want_row:
                problems.append(f"audit row {audit_rows.get(uid)!r} != {want_row!r}")
            with open(os.path.join(out_dir, f.name)) as fh:
                text = fh.read()
            n_out = len([s for s in text.split(";\n") if s.strip()])
            if n_out != f.out_statements:
                problems.append(f"{n_out} output statements != {f.out_statements}")
            for tbl, ncol in f.tables.items():
                qual = f"{target}.{tbl}"
                if not self.spark.catalog.tableExists(qual):
                    problems.append(f"{qual} missing")
                elif len(self.spark.table(qual).schema) != ncol:
                    problems.append(f"{qual} has {len(self.spark.table(qual).schema)} cols != {ncol}")
            if problems:
                r.mismatch = "; ".join(problems)
