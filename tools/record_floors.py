#!/usr/bin/env python
"""Record per-query comparison floors: run ``bench.py`` N times on an
idle box (each invocation is itself min-of-SPARK_GRAFT_REPS per
query), take the min per query and per arm across invocations, and
write a ``BASELINE_LOCAL_r{N}.json``-shaped artifact.

This institutionalizes the floors protocol the round-5/6 verdicts
asked for (one floor file per bench surface, recorded AFTER the
round's final query definitions, so driver-to-floor ratios compare a
query against ITS OWN definition, never a faster predecessor's).

Usage: python tools/record_floors.py OUT.json [invocations=3] [--comment "..."]
"""

from __future__ import annotations

import json
import subprocess
import sys
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_json_line(stdout: str) -> dict:
    """bench.py's contract is ONE JSON line, but Spark/log4j can leak
    trailing noise onto stdout — scan from the end for the last line
    that parses to a bench-shaped dict instead of dying on whatever
    happens to be last (round-7 ADVICE)."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(obj, dict) and "queries" in obj:
            return obj
    raise SystemExit(
        "no bench-shaped JSON line found on bench.py stdout; last lines:\n"
        + "\n".join(stdout.strip().splitlines()[-5:])
    )


def main() -> None:
    out_path = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else 3
    comment = ""
    if "--comment" in sys.argv:
        comment = sys.argv[sys.argv.index("--comment") + 1]

    runs = []
    for i in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, check=True,
        )
        run = _last_json_line(proc.stdout)
        runs.append(run)
        print(f"run {i + 1}/{n}: total {run['value']}s", flush=True)

    # A floor file must time ONE set of definitions: if the query or
    # arm key sets differ across invocations, someone changed the
    # registry mid-recording — fail loudly instead of emitting a file
    # that needs a footnote.
    for kind in ("queries", "arms"):
        keysets = [frozenset(r.get(kind, {})) for r in runs]
        if len(set(keysets)) > 1:
            diff = frozenset.union(*keysets) - frozenset.intersection(*keysets)
            raise SystemExit(
                f"{kind} keys differ across invocations (registry changed "
                f"mid-recording?): {sorted(diff)} — re-record from scratch"
            )

    floors = {
        q: min(r["queries"][q] for r in runs) for q in runs[0]["queries"]
    }
    arms = {}
    if "arms" in runs[0]:
        arms = {
            a: min(r["arms"][a] for r in runs) for a in runs[0]["arms"]
        }
    artifact = {
        "comment": comment,
        "sf": runs[0]["sf"],
        "unit": "sec",
        "runs": runs,
        "floors": floors,
        "floor_total": round(sum(floors.values()), 3),
        "arms": arms,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"wrote {out_path}: floor_total {artifact['floor_total']}s")


if __name__ == "__main__":
    main()
