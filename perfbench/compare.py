"""Compare two benchmark result files.

    python3 perfbench/compare.py A.json B.json

A and B are records written by ``perfbench/run.py`` to
``.perfbench_work/results/``. Every count metric (unit ``count`` or
``B``: jobs, stages, discovery jobs, shuffle and Python bytes, ...) is
diffed exactly; timings are listed side by side. When both runs come from
the same source tree, workload and seed, a count that differs is flagged
NON-DETERMINISTIC: it must not be used as the basis of a claim. Exits 1
if any count is flagged, else 0.
"""

from __future__ import annotations

import json
import sys

COUNT_UNITS = ("count", "B")


def same_run_inputs(a: dict, b: dict) -> bool:
    """Same code (source digest), workload and seed."""
    pa, pb = a["provenance"], b["provenance"]
    return (pa["source_sha256"] == pb["source_sha256"]
            and a["workload"] == b["workload"] and a["seed"] == b["seed"])


def compare(a: dict, b: dict) -> tuple[list[tuple], list[tuple], bool]:
    """(count rows, timing rows, any count flagged). A count row is
    (name, unit, a, b, status) with status ``same``, ``CHANGED`` or
    ``NON-DETERMINISTIC``; a timing row is (name, unit, a, b, b/a)."""
    repeat = same_run_inputs(a, b)
    counts, timings, flagged = [], [], False
    ma, mb = a["metrics"], b["metrics"]
    for name in ma:
        if name not in mb:
            continue
        unit, va, vb = ma[name]["unit"], ma[name]["value"], mb[name]["value"]
        if unit in COUNT_UNITS:
            if va == vb:
                status = "same"
            elif repeat:
                status, flagged = "NON-DETERMINISTIC", True
            else:
                status = "CHANGED"
            counts.append((name, unit, va, vb, status))
        else:
            timings.append((name, unit, va, vb, vb / va if va else float("nan")))
    return counts, timings, flagged


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        a = json.load(f)
    with open(argv[1]) as f:
        b = json.load(f)
    for tag, r in (("A", a), ("B", b)):
        p = r["provenance"]
        print(f"{tag}: {r['workload']} seed={r['seed']} trace={r['trace']} "
              f"commit={p.get('commit')} source={p['source_sha256'][:12]} "
              f"nproc={p['nproc']} SPARK_GRAFT_CPUS={p['SPARK_GRAFT_CPUS']} "
              f"calibration={p['calibration']}")
    counts, timings, flagged = compare(a, b)
    print("\ncounts (exact)")
    for name, unit, va, vb, status in counts:
        print(f"  {name:40s} {va:>16g} {vb:>16g} {unit:6s} {status}")
    print("\ntimings (B/A)")
    for name, unit, va, vb, ratio in timings:
        print(f"  {name:40s} {va:>16.4f} {vb:>16.4f} {unit:6s} {ratio:.3f}")
    if flagged:
        print("\nNON-DETERMINISTIC counts: same code, workload and seed gave different "
              "values; do not use them as a claim basis.")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
