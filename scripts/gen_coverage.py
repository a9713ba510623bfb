"""Generate COVERAGE.md: SURVEY §2 operator inventory → catalog entry →
check type. Run: python scripts/gen_coverage.py"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ravelytics_spark.plans.queries import REGISTRY

# SURVEY §2 IDs that are library/orchestration surface (tested in
# tests/, no catalog query applicable).
LIBRARY_OPS = {
    "OP-S1": "sources/rest.py fetch_paginated (tests/test_pipeline_sources.py)",
    "OP-S2": "sources/rest.py enrich_batched (tests/test_pipeline_sources.py)",
    "OP-S9": "sources/binary.py + operators/multimodal.py (tests/test_multimodal.py)",
    "OP-S10": "sources/kafka.py ensure_topic (injected admin client; tests/test_pipeline_sources.py)",
    "OP-P5": "pipeline.py SkipStep / rest.py empty-input guards (tests)",
    "OP-T3": "streaming/pipeline.py dedupe_within_watermark + dup-injection test",
    "OP-T4": "streaming Trigger.AvailableNow + pipeline.py runner (tests)",
    "OP-T5": "pipeline.py skip semantics (tests/test_pipeline_sources.py)",
    "OP-D3": "excluded from hashed outputs (nondeterministic); literal-injected in tests",
    "OP-A6": "functions/cleansing.py empty_string_array (covered by views tests)",
}


def main() -> None:
    lines = [
        "# COVERAGE — SURVEY §2 operator inventory → implementation\n",
        "Generated by `scripts/gen_coverage.py` from the live query",
        "catalog. Check types: **oracle** = DuckDB hash-match at sf0.01;",
        "**harness** = rows/schema check + pytest; **library** = exercised",
        "by unit/golden/property tests in `tests/`.\n",
        "| catalog entry | SURVEY ops | check | what |",
        "|---|---|---|---|",
    ]
    for name, query in sorted(REGISTRY.items()):
        check = "oracle" if query.oracle else "harness"
        doc = " ".join(query.doc.split())
        if len(doc) > 110:
            doc = doc[:107] + "..."
        lines.append(f"| `{name}` | {query.op_id} | {check} | {doc} |")

    lines += ["", "## Library-surface operators (no catalog query)", ""]
    lines += [f"- **{op}** — {where}" for op, where in sorted(LIBRARY_OPS.items())]

    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    lines += [
        "",
        f"**Totals:** {len(REGISTRY)} catalog entries ({n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} harness), {len(LIBRARY_OPS)} library-surface ops.",
        "",
    ]

    # Certification-window arithmetic, computed live from
    # __spark_entry__'s priority order so it cannot disagree with what
    # the driver will actually verify.
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_entry_for_coverage", os.path.join(repo, "__spark_entry__.py")
    )
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)
    names = entry_mod._ordered_names()
    certified, seen = entry_mod._correctness_records()
    window = names[:50]
    t0 = [
        n for n in window
        if REGISTRY[n].oracle is not None and n not in certified
    ]
    t1a = [
        n for n in window if REGISTRY[n].oracle is None and n not in seen
    ]
    t1b = [n for n in window if REGISTRY[n].oracle is None and n in seen]
    lines += [
        "## Certification window (next driver round)",
        "",
        "Auto-computed from `__spark_entry__._ordered_names()` — the",
        "first 50 catalog entries in certification-priority order, i.e.",
        "exactly what the driver's bounded CORRECTNESS window will",
        "verify next round. Tier arithmetic:",
        "",
        f"- **{len(t0)} uncertified oracle entries** (hash-check):",
        f"  {', '.join(f'`{n}`' for n in t0) if t0 else '(none)'}",
        f"- **{len(t1a)} never-driver-recorded harness entries**"
        " (rows-only check):",
        f"  {', '.join(f'`{n}`' for n in t1a) if t1a else '(none)'}",
        f"- **{len(t1b)} harness re-runs** (stalest records first"
        + (
            f", r{min(seen[n] for n in t1b):02d}-"
            f"r{max(seen[n] for n in t1b):02d}"
            if t1b
            else ""
        )
        + "):",
        f"  {', '.join(f'`{n}`' for n in t1b) if t1b else '(none)'}",
        "",
        f"Backlog beyond the window: "
        f"{sum(1 for n in names if REGISTRY[n].oracle is not None and n not in certified) - len(t0)}"
        " uncertified oracle entries, "
        f"{sum(1 for n in names if REGISTRY[n].oracle is None and n not in seen) - len(t1a)}"
        " never-recorded harness entries.",
        "",
    ]
    # Predicted FOLLOWING window, so this doc does not read as
    # current-round-only after the driver consumes the window above.
    # Assumption: every tier-0 entry above certifies and every listed
    # harness re-run gets a fresh record.
    harness_all = [n for n in names if REGISTRY[n].oracle is None]
    slots_left = max(0, 50 - len(harness_all))
    lines += [
        "### Predicted window one round later",
        "",
        "Assuming the window above certifies in full: all",
        f"{len(harness_all)} harness entries re-run",
        "(the ones rotated out of this round's tail are then the",
        f"stalest, so they lead), and the remaining ~{slots_left}",
        "slots fall to tier 3 — already-certified oracle entries",
        "re-verified in registration order. Regenerate this file after",
        "the CORRECTNESS drop for exact contents.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(REGISTRY)} entries")


if __name__ == "__main__":
    main()
