"""Time the interactive catalog queries under both execution profiles
over warehouse tables of growing size: the measurement that places
``plans.registry.SMALL_INPUT_BYTES``.

    python scripts/profile_crossover.py [--sf 0.01,0.03,0.06,0.1,0.2,0.4]
                                        [--passes 5] [--seed 7]

For each scale factor it writes the warehouse tables with the
benchmark's seeded generator (``perfbench/gen.py``; sf0.01 is about
1.7 MB of parquet, sf0.1 about 17 MB) into a temporary directory, builds
each of the twelve ``interactive`` queries once in the caller's session
(full profile: AQE on, one shuffle partition per core) and once in its
small-input clone (``registry.small_profile``: AQE off, one partition),
runs every query once per profile untimed, then runs ``--passes``
passes. A pass executes the twelve queries to the ``noop`` sink in each
profile, the profile that goes first alternating between passes, each
run on a new Dataset over the built plan as the prepared path hands
out. One JSON line per scale factor: the input bytes, per profile the
median pass time, and per query the median of its runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import gen  # noqa: E402  (perfbench's input generator)
from workloads import INTERACTIVE_QUERIES  # noqa: E402

from ravelytics_spark.plans import registry  # noqa: E402
from ravelytics_spark.plans.queries import REGISTRY  # noqa: E402
from ravelytics_spark.session import get_spark  # noqa: E402


def _run(df, name: str) -> float:
    t = time.perf_counter()
    df.alias(name).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def measure(spark, sf: float, passes: int, seed: int) -> dict:
    work = tempfile.mkdtemp(prefix="profile_crossover_")
    try:
        sf_dir = os.path.join(work, "warehouse")
        in_bytes = gen.warehouse_tables(sf_dir, seed, sf)
        sessions = {"full": spark, "small": registry.small_profile(spark)}
        plans = {p: {n: REGISTRY[n].spark.__wrapped__(s, sf_dir) for n in INTERACTIVE_QUERIES}
                 for p, s in sessions.items()}
        for p in sessions:  # code generation and first-touch file reads
            for n in INTERACTIVE_QUERIES:
                _run(plans[p][n], n)
        runs = {p: {n: [] for n in INTERACTIVE_QUERIES} for p in sessions}
        totals = {p: [] for p in sessions}
        for i in range(passes):
            for p in (("full", "small") if i % 2 == 0 else ("small", "full")):
                took = {n: _run(plans[p][n], n) for n in INTERACTIVE_QUERIES}
                for n, t in took.items():
                    runs[p][n].append(t)
                totals[p].append(sum(took.values()))
        return {
            "sf": sf, "input_bytes": in_bytes, "passes": passes,
            "pass_s": {p: round(statistics.median(v), 4) for p, v in totals.items()},
            "query_s": {n: {p: round(statistics.median(runs[p][n]), 4) for p in sessions}
                        for n in INTERACTIVE_QUERIES},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="0.01,0.03,0.06,0.1,0.2,0.4")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for sf in (float(s) for s in args.sf.split(",")):
            print(json.dumps(measure(spark, sf, args.passes, args.seed)), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
