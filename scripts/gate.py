"""One-command correctness gate: every catalog entry through the driver
contract (__spark_entry__) with DuckDB oracle comparison, in a fresh
non-UTC session (the hostile-driver simulation).

    python scripts/gate.py [sf_dir]        # default /root/testdata/sf0.01
    python scripts/gate.py --window 50     # only the first 50 entries of
                                           # the driver's certification-
                                           # priority order — predicts
                                           # exactly which entries the
                                           # next CORRECTNESS window will
                                           # cover

GATE_CORES / GATE_PARTITIONS env vars override the session's core and
shuffle-partition counts (defaults 16/16). Running the gate a second
time with odd values (e.g. GATE_CORES=5 GATE_PARTITIONS=7) proves the
results are insensitive to partition count and task order — the driver
runs its own session shape, and a float aggregation whose value depends
on partition-merge order would pass a same-shape gate but fail there.
An entry whose warehouse tables sum to at most
``plans.registry.SMALL_INPUT_BYTES`` runs in the small-input profile (a
clone of the session with AQE off and one shuffle partition; it shares
the session's local[GATE_CORES] context), which GATE_PARTITIONS does not
reach; at sf0.01 every entry does. So for such an entry the gate checks
two results against the oracle: the prepared call the driver makes, and
a fresh build of the entry in the gate's own session
(``REGISTRY[name].spark.__wrapped__``), at GATE_PARTITIONS with AQE on.
A larger entry runs in the gate's session and is checked once.

GATE_STRICT_ORDER=1 compares rows in RETURNED order (no sort-first):
the harsher standard a verifier that hashes rows positionally would
apply. A sorted-pass/strict-fail entry has a non-total ORDER BY — tie
rows land in either engine's arbitrary order — and is one hostile
verifier away from a hash mismatch; tighten its sort key.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    argv = sys.argv[1:]
    window = None
    only = None
    if "--window" in argv:
        i = argv.index("--window")
        window = int(argv[i + 1])
        del argv[i : i + 2]
    if "--only" in argv:
        # comma-separated entry names: gate just those (r12 optimization
        # loop — verify a touched entry without the full-catalog pass)
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    cores = os.environ.get("GATE_CORES", "16")
    partitions = os.environ.get("GATE_PARTITIONS", "16")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", partitions)
        # PySpark's local default is a 1 GiB driver heap; at sf0.1 the
        # wedge-heavy entries (x103: 41M wedges) OOM the shared JVM and
        # every later entry dies with ConnectionRefused. Size it like
        # ravelytics_spark.session.get_spark does.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from ravelytics_spark.plans.queries import REGISTRY
    from ravelytics_spark.testing import compare, duckdb_connection

    con = duckdb_connection(sf_dir)
    qs, osql = mod.queries(), mod.oracle_sql()
    if only is not None:
        missing = only - set(qs)
        if missing:
            print(f"unknown entries: {sorted(missing)}")
            return 1
        qs = {n: qs[n] for n in qs if n in only}
        osql = {n: osql[n] for n in osql if n in only}
    if window is not None:
        kept = list(qs)[:window]
        qs = {n: qs[n] for n in kept}
        osql = {n: osql[n] for n in kept if n in osql}
        print(f"window mode: first {len(qs)} of the driver order")
        for n in kept:
            print(f"  {n}" + ("" if n in osql else "  (harness, rows-only)"))
    print(f"entry rows: {mod.entry(spark).count()}; {len(qs)} queries, {len(osql)} oracles")

    strict = os.environ.get("GATE_STRICT_ORDER", "") == "1"
    t0 = time.time()
    failures, failed = [], set()
    for name, fn in qs.items():
        try:
            out = fn(spark, sf_dir)
            results = {name: out}
            if out.sparkSession is not spark:  # the small-input profile ran
                results[f"{name} (gate session)"] = REGISTRY[name].spark.__wrapped__(spark, sf_dir)
            for label, df in results.items():
                if name in osql:
                    problems = compare(df, con, osql[name], label, strict_row_order=strict)
                    if problems:
                        failures.append(problems[0])
                        failed.add(name)
                else:
                    assert df.count() >= 0
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
            failed.add(name)
    for f in failures:
        print("FAIL", f[:300])
    print(
        f"GATE: {len(qs) - len(failed)}/{len(qs)} ok "
        f"({len(osql)} oracle-checked) in {time.time() - t0:.0f}s"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
