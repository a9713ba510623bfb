"""Process-parallel test-suite runner: the <30-minute full suite.

pytest-xdist is not installed in this container (and pip installs are
off-limits), so parallelism is per-PROCESS: test modules are bin-packed
across N concurrent pytest workers, each with its own interpreter, its
own Spark session (local[C/N] threads, C = ``session.DEFAULT_CPUS``:
``SPARK_GRAFT_CPUS`` or the usable cores, so the workers together match
the host), and
its own scratch cwd (isolating spark-warehouse/ and any
cwd-relative state like test_bucketing's saveAsTable catalog).

Balancing: modules are assigned longest-processing-time-first using
recorded per-module wall times from ``tests/.module_durations.json``
(refreshed by this script after every full run); unknown modules fall
back to file-size as a weight proxy. LPT keeps the makespan near the
heaviest module, so adding small modules stays ~free.

    python scripts/run_suite.py              # default 4 workers
    SUITE_WORKERS=6 python scripts/run_suite.py
    python scripts/run_suite.py tests/test_a.py tests/test_b.py  # subset

Exit code is nonzero if any worker fails; each worker's tail is
printed under its banner so failures read like a normal pytest run.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ravelytics_spark.session import DEFAULT_CPUS  # noqa: E402

DUR_PATH = os.path.join(REPO, "tests", ".module_durations.json")


def _load_durations() -> dict[str, float]:
    try:
        with open(DUR_PATH) as fh:
            return {k: float(v) for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        return {}


def _weight(path: str, durations: dict[str, float]) -> float:
    name = os.path.basename(path)
    if name in durations:
        return durations[name]
    # unknown module: file size as a crude proxy (≈ test count)
    try:
        return max(1.0, os.path.getsize(path) / 2000.0)
    except OSError:
        return 1.0


def _binpack(files: list[str], n: int, durations) -> list[list[str]]:
    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=lambda p: -_weight(p, durations)):
        load, items = min(bins, key=lambda b: b[0])
        bins.remove((load, items))
        items.append(f)
        bins.append((load + _weight(f, durations), items))
    return [items for _, items in bins if items]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    files = [os.path.abspath(a) for a in args] or sorted(
        glob.glob(os.path.join(REPO, "tests", "test_*.py"))
    )
    n = int(os.environ.get("SUITE_WORKERS", "4"))
    durations = _load_durations()
    groups = _binpack(files, n, durations)
    threads = max(1, DEFAULT_CPUS // max(1, len(groups)))

    procs = []
    t0 = time.time()
    for i, group in enumerate(groups):
        scratch = tempfile.mkdtemp(prefix=f"suite_w{i}_")
        env = dict(os.environ)
        env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
        # worker Spark sessions split the box: local[threads] each
        env["RAVELYTICS_TEST_CPUS"] = str(threads)
        # this is the builder's FULL gate: run every catalog-sweep
        # parametrization (a bare `pytest tests/` runs the driver-facing
        # fast tier — see conftest.tier)
        env.setdefault("RAVELYTICS_FULL", "1")
        out = open(os.path.join(scratch, "out.log"), "w")
        p = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "pytest",
                "-q",
                "-p",
                "no:cacheprovider",
                "--durations=0",
                "--rootdir",
                REPO,
                *group,
            ],
            cwd=scratch,
            env=env,
            stdout=out,
            stderr=subprocess.STDOUT,
        )
        procs.append((p, group, scratch, out))

    rc = 0
    new_durations = dict(durations)
    for i, (p, group, scratch, out) in enumerate(procs):
        p.wait()
        out.close()
        text = open(os.path.join(scratch, "out.log")).read()
        tail = "\n".join(text.strip().splitlines()[-15:])
        print(f"\n===== worker {i} (rc={p.returncode}, {len(group)} modules) =====")
        print(tail)
        if p.returncode != 0:
            rc = p.returncode
        # fold per-module wall times back into the balance file:
        # pytest --durations=0 lines look like "12.34s call  tests/x.py::t".
        # Only 'call' lines count — the session-scoped Spark fixture's
        # startup (tens of seconds) lands on the FIRST test's 'setup'
        # line, so summing setup/teardown attributed it to whichever
        # module a worker happened to run first and skewed the LPT
        # weights across runs (round-11 ADVICE).
        per_mod: dict[str, float] = {}
        for line in text.splitlines():
            parts = line.split()
            if (
                len(parts) >= 3
                and parts[0].endswith("s")
                and parts[1] == "call"
                and "::" in parts[2]
            ):
                try:
                    secs = float(parts[0][:-1])
                except ValueError:
                    continue
                mod = os.path.basename(parts[2].split("::")[0])
                per_mod[mod] = per_mod.get(mod, 0.0) + secs
        new_durations.update(per_mod)

    if rc == 0 and new_durations != durations:
        try:
            with open(DUR_PATH, "w") as fh:
                json.dump(dict(sorted(new_durations.items())), fh, indent=1)
        except OSError:
            pass
    print(f"\nSUITE: rc={rc} wall={time.time() - t0:.0f}s workers={len(groups)}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
