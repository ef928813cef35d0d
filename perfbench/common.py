"""Shared pieces of the workloads: the op description, the workload
interface and the per-session context (fresh audit and warehouse roots)."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Op:
    """One closed-loop operation: ``run()`` is timed; its return value is
    kept on the record for the workload's ``check``."""

    name: str
    work: float
    run: Callable[[], object]
    info: dict = field(default_factory=dict)


class SubOps(list):
    """Returned by an op that times its own parts: the harness records
    these ``OpRecord``s in place of the enclosing op."""


class Ctx:
    """Per-session paths. Each instance bound to a session gets its own
    ``tag``, so audit logs, warehouses and catalog schemas never carry
    over between them."""

    def __init__(self, work: str, tag: str, spark, tracer):
        self.work = work
        self.tag = tag
        self.spark = spark
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, "sessions", self.tag, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def audit(self, name: str):
        from data_migration_tool_spark.audit.log import AuditLog

        return AuditLog(self.spark, self.path("dmt_logs", name))


def run_validation(tracer, kind: str, fn: Callable, *args, **kwargs) -> list:
    """Call a ``validation`` operator and collect its result inside one
    span: the operators return lazy DataFrames, so the span must cover
    the collect to hold the validation's work."""
    with tracer.span(f"validation.{kind}_validation"):
        return fn(*args, **kwargs).collect()


class Workload:
    """A workload makes its inputs from the seed, binds to a session,
    yields ops cycle by cycle and checks the records afterwards."""

    name = ""
    unit = ""
    min_cycles = 2  # whole cycles an untraced window runs at least

    def __init__(self, seed: int, work: str, tiny: bool = False):
        self.seed = seed
        self.work = os.path.join(work, self.name + ("_tiny" if tiny else ""))
        self.tiny = tiny
        os.makedirs(self.work, exist_ok=True)

    def make_inputs(self) -> None:
        """Generate inputs (no Spark). Runs before set-up is timed."""

    def bind(self, spark, ctx: Ctx) -> None:
        raise NotImplementedError

    def cycle(self, k: int) -> list[Op]:
        raise NotImplementedError

    def cover_ops(self) -> list[Op]:
        """Untimed ops of a tiny instance that reach every layer and code
        path this workload uses: the end of set-up (and one pass in traced
        runs of the other workload)."""
        return self.cycle(0)

    def check(self, records) -> None:
        """Set ``mismatch`` on records whose output is wrong."""

    def known_defect(self, record) -> str | None:
        """Name the documented package defect a raising op hit, if any."""
        return None

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts this workload measures itself."""
        return {}
