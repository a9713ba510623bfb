"""The catalog contract: the ordered REGISTRY dump of (name, op id,
oracle SQL) that the external driver checks.

A fresh interpreter imports ``ravelytics_spark.plans.queries`` first,
as ``__spark_entry__.py`` does, and hashes one line per entry in
REGISTRY order. No Spark session is needed. Any change to a name, an
op id, an oracle string or the registration order changes the hash; an
intentional catalog change updates the pin below and declares it in
CHANGES.md."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_ENTRIES = 465
N_ORACLE = 444
DUMP_SHA256 = "c9bfb8003db7201c09be1afb025f8cd08f5f7c681d42fcde71aa6a8fb0132305"

_DUMP = """
import hashlib, json
from ravelytics_spark.plans.queries import REGISTRY
dump = "\\n".join(f"{n}\\t{q.op_id}\\t{q.oracle}" for n, q in REGISTRY.items())
names = list(REGISTRY)
print(json.dumps({
    "n": len(names),
    "n_oracle": sum(q.oracle is not None for q in REGISTRY.values()),
    "first": names[0],
    "last": names[-1],
    "sha256": hashlib.sha256(dump.encode()).hexdigest(),
}))
"""


def test_ordered_registry_dump_is_pinned():
    out = subprocess.run(
        [sys.executable, "-c", _DUMP],
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    seen = f"{got['n']} entries, {got['first']} .. {got['last']}"
    assert got["n"] == N_ENTRIES, seen
    assert got["n_oracle"] == N_ORACLE, seen
    assert got["sha256"] == DUMP_SHA256, seen
