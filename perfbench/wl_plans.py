"""Query cover pass: a fixed short list of registry queries.

Not a timed workload (``README.md`` says why query_mix was dropped):
traced runs pass through it once, so the ``plans`` layer holds measured
spans on every workload. Each query runs as
``QUERIES[name].builder(spark, dir)`` (span ``plans.build``) then
``.count()`` (span ``plans.exec``), inside a span ``plans.<name>``, over
seeded sf0.001 tables. Expectation: the row count of the query's DuckDB
oracle SQL over the same files.
"""

from __future__ import annotations

import os

import datagen
from common import Op, Workload

SF = 0.001
# TPC-H shapes (aggregate, join + top-k, pushdown) and one query each of
# the dvt, incremental and orchestrate/audit tags
QUERY_LIST = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "dvt_row_validation",
    "orders_incremental_agg", "transfer_log_run_summary",
]


class QueryCover(Workload):
    name = "query_mix"
    unit = "queries"

    def make_inputs(self) -> None:
        self.dir = os.path.join(self.work, "tables")
        datagen.write_tables(datagen.make_tables(self.seed, SF), self.dir)

    def bind(self, spark, ctx) -> None:
        """Also computes the oracle answers: the oracle SQL lives in the
        package, so it is read once the package is loaded, after set-up."""
        import duckdb

        from data_migration_tool_spark.plans.registry import QUERIES

        self.spark, self.tracer = spark, ctx.tracer
        con = duckdb.connect()
        for f in os.listdir(self.dir):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(self.dir, f)}')")
        self.expect = {q: con.execute(f"SELECT count(*) FROM ({QUERIES[q].oracle})").fetchone()[0]
                       for q in QUERY_LIST}
        con.close()

    def cover_ops(self) -> list[Op]:
        return [Op(f"query:{q}", 1, self._runner(q), info={"query": q}) for q in QUERY_LIST]

    def _runner(self, q: str):
        return lambda: self._run(q)

    def _run(self, q: str) -> int:
        from data_migration_tool_spark.plans.registry import QUERIES

        with self.tracer.span(f"plans.{q}"):
            with self.tracer.span("plans.build"):
                df = QUERIES[q].builder(self.spark, self.dir)
            with self.tracer.span("plans.exec"):
                return df.count()

    def check(self, records) -> None:
        for r in records:
            want = self.expect[r.info["query"]]
            if r.error is None and r.result != want:
                r.mismatch = f"{r.result} rows != {want}"
