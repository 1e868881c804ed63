#!/usr/bin/env python3
"""Expected Exercise-2 answers from the independent Python oracle.

The oracle is `parse_positions` + `run_fsm` of `tools/gen_taxi_fixtures.py`
(a re-implementation of the reference reducer that shares no code with the
Scala engine), imported unchanged. Daily revenue sums the 2-dp rounded trip
revenues exactly, as that script does for its golden files.

Run: python3 perfbench/oracle.py --selftest
  checks that this path reproduces the committed golden daily/total files.
"""
import os
import sys
from collections import defaultdict
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAXI = os.path.join(ROOT, "src", "test", "resources", "taxi")


def _fixtures():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import gen_taxi_fixtures
    finally:
        sys.path.pop(0)
    return gen_taxi_fixtures


def expected(seg_lines):
    """{"daily": {date: "cents-exact decimal string"}, "total": str, "trips": n}"""
    fx = _fixtures()
    trips = fx.run_fsm(fx.parse_positions(seg_lines))
    daily = defaultdict(Decimal)
    for t in trips:
        daily[t[9]] += Decimal(f"{t[8]:.2f}")
    total = sum(daily.values(), Decimal(0))
    return {"daily": {d: str(daily[d]) for d in sorted(daily)}, "total": str(total),
            "trips": len(trips)}


def selftest():
    """The oracle path must reproduce the committed golden files."""
    with open(os.path.join(TAXI, "segments.txt")) as f:
        got = expected(f.read().splitlines())
    with open(os.path.join(TAXI, "golden_q2_daily.txt")) as f:
        daily = dict(l.split("\t") for l in f.read().splitlines() if l)
    with open(os.path.join(TAXI, "golden_q2_total.txt")) as f:
        total = f.read().strip()
    ok = got["daily"] == daily and got["total"] == total
    print(f"oracle selftest: {'ok' if ok else 'MISMATCH'} "
          f"(daily {len(got['daily'])} days, total {got['total']} vs golden {total})")
    return ok


if __name__ == "__main__":
    sys.exit(0 if selftest() else 1)
