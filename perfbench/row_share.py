"""How much of validate_sweep's op time is per-row work.

    python3 perfbench/row_share.py [--seed N]

Runs validate_sweep's cycle on one session at the benchmark's table size
and on near-empty tables (the generator's minimum: 10 rows per table
before the 10x upsample), one warm cycle then two timed cycles each, and
prints the median cycle time of both and the per-row share,
``1 - near_empty / full``. Not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from statistics import median

import run
from common import Ctx
from tracing import Tracer
import wl_validate


def _cycle_times(spark, work: str, seed: int, base_sf: float) -> list[float]:
    wl_validate.BASE_SF = base_sf
    wl = wl_validate.ValidateSweep(seed, os.path.join(work, f"sf{base_sf}"))
    wl.make_inputs()
    wl.bind(spark, Ctx(work, f"sf{base_sf}".replace(".", "_"), spark, Tracer()))
    times = []
    for k in range(3):
        t0 = time.perf_counter()
        for op in wl.cycle(k):
            try:
                op.run()
            except Exception:  # noqa: BLE001 — the known-defect specs raise; time them all the same
                pass
        times.append(time.perf_counter() - t0)
    return times[1:]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"row_share-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        extra = run._setup_env(work)
        from data_migration_tool_spark.session import get_spark

        spark = get_spark(app_name="perfbench-row-share", extra=extra)
        full_sf = wl_validate.BASE_SF
        full = median(_cycle_times(spark, work, args.seed, full_sf))
        empty = median(_cycle_times(spark, work, args.seed, 1e-9))
        print(f"cycle at sf{full_sf}x{wl_validate.REPS}: {full:.2f} s; near-empty: {empty:.2f} s; "
              f"per-row share {1 - empty / full:.3f}")
    finally:
        if spark is not None:
            run._stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run still works there
    return 0


if __name__ == "__main__":
    sys.exit(main())
