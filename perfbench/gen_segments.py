#!/usr/bin/env python3
"""Seeded generator of GPS segment input for the Exercise-2 workload.

Writes `segments.txt` in the reference's 9-field quoted CSV format
(taxi, ts1, lat1, long1, status1, ts2, lat2, long2, status2 - one row per
pair of consecutive positions of one taxi) and `manifest.json` describing
what was generated. The same (seed, size) always gives byte-identical
output.

Shape of the clean stream. The reference's input is the San Francisco
cabspotting trace (Piorkowski, Sarafijanovic-Djukic and Grossglauser,
CRAWDAD dataset epfl/mobility, v. 2009-02-24): 536 taxis over the 24 days
from 2008-05-17, about 11.2 M GPS points, i.e. ~870 points per taxi-day, so
a taxi is on the road most of most days. From that trace:
  - TAXIS = 536 taxis and a WINDOW_DAYS = 24-day window from 2008-05-17;
    the fleet (ids 1-536) is the same for every seed, so the exchange's
    hash partitioning by taxi splits it the same way each time;
  - per-taxi depth is rows / TAXIS: every taxi-day gets about the same share
    of the requested rows (+-20 %), so at a few hundred thousand rows a
    taxi-day is a ~25-point slice of a shift, not a whole one.
Assumptions, not taken from the trace:
  - a taxi works a given day with probability ACTIVE_DAY = 0.9;
  - points are 40-90 s apart, and a shift alternates empty cruising
    (status E, 7-15 points) with a fare (status M, 4-10 points), which makes
    about 55 % of the rows E-E (report.pdf p.2 gives 55 %);
  - AIRPORT_SHARE = 0.055 of fares start at SFO (the taxi cruises empty to
    the airport rank first). report.pdf p.3's $23.28 M airport revenue over
    11.10 M trips is $2.10 per trip, about 1 trip in 18 at the reference's
    $3.50 + $1.71/km if an airport trip runs ~20 km.
`manifest.json` records each taxi's depth (clean rows) and working days.

Dirty cases, at the rates in `RATES` (per clean row):
  - arity     : a row truncated to 5 fields or with a 10th field;
  - null_half : one half replaced by 'NULL',NULL,NULL,'NULL';
  - bbox      : one half moved out of the bounding box;
  - ocean     : one half moved into the Pacific (inside the box, west of
                the coast line);
  - status    : a status replaced by an unknown code ('X');
  - duplicate : an exact copy of a row;
and inside the clean stream (per M point):
  - speed     : a point teleported ~167 km (speed > 180 km/h, skipped);
  - gap       : a pause of more than 210 s inside a fare (splits the trip);
  - tie       : a second position at the same second, other coordinates.

Run: python3 perfbench/gen_segments.py <seed> <rows> <out_dir>
"""
import json
import os
import random
import sys
from datetime import datetime, timezone

SFO = (37.62131, -122.37896)
DAY0 = 1210982400  # 2008-05-17 00:00:00 UTC
WINDOW_DAYS = 24
TAXIS = 536
ACTIVE_DAY = 0.9
AIRPORT_SHARE = 0.055
RATES = {
    "arity": 0.002, "null_half": 0.004, "bbox": 0.002, "ocean": 0.002,
    "status": 0.003, "duplicate": 0.01,
    "speed": 0.01, "gap": 0.03, "tie": 0.01,
}


def day_str(d):
    return datetime.fromtimestamp(DAY0 + d * 86400, tz=timezone.utc).strftime("%Y-%m-%d")


def clamp(lat, lon):
    return min(max(lat, 37.30), 38.00), min(max(lon, -122.50), -121.90)


def shift(rng, day, n, counts):
    """A slice of about n points of one taxi's shift on one day: a list of
    (tsS, latS, lonS, status)."""
    ds = day_str(day)
    skip = rng.randint(0, 24)  # start the slice at a random point of the cycle
    sec = rng.randint(0, max(0, 86400 - 200 * (n + skip)))  # and end it on the same day
    lat, lon = rng.uniform(37.70, 37.80), rng.uniform(-122.47, -122.39)
    pts = []

    def emit(la, lo, st):
        if sec >= 86400:  # a rare run of long gaps: cut the slice at midnight
            return
        h, rem = divmod(sec, 3600)
        pts.append((f"{ds} {h:02d}:{rem // 60:02d}:{rem % 60:02d}", f"{la:.5f}", f"{lo:.5f}", st))

    while len(pts) < n + skip and sec < 86400:
        airport = rng.random() < AIRPORT_SHARE
        cruise = rng.randint(7, 15)
        for i in range(cruise):
            if airport and i == cruise - 1:  # empty legs are not speed-checked
                lat, lon = SFO[0] + rng.uniform(-0.004, 0.004), SFO[1] + rng.uniform(-0.004, 0.004)
            emit(lat, lon, "E")
            sec += rng.randint(40, 90)
            if not (airport and i == cruise - 1):
                lat, lon = clamp(lat + rng.uniform(-0.003, 0.003), lon + rng.uniform(-0.003, 0.003))
        for _ in range(rng.randint(4, 10)):
            if rng.random() < RATES["speed"]:
                emit(lat + 1.5, lon, "M")  # ~167 km jump: skipped by the speed check
                counts["speed"] += 1
            else:
                emit(lat, lon, "M")
            if rng.random() < RATES["tie"]:
                emit(lat + 0.002, lon + 0.001, "M")
                counts["tie"] += 1
            sec += rng.randint(40, 90)
            if rng.random() < RATES["gap"]:
                sec += rng.randint(240, 900)
                counts["gap"] += 1
            lat, lon = clamp(lat + rng.uniform(-0.005, 0.005), lon + rng.uniform(-0.005, 0.005))
    return pts[skip:skip + n]


def half(p):
    return f"'{p[0]}',{p[1]},{p[2]},'{p[3]}'"


NULL_HALF = "'NULL',NULL,NULL,'NULL'"


def dirty(rng, taxi, a, b, kind):
    """One dirty row built from the clean segment (a, b)."""
    if kind == "arity":
        return f"{taxi},{half(a)}" if rng.random() < 0.5 else f"{taxi},{half(a)},{half(b)},extra"
    if kind == "null_half":
        return f"{taxi},{NULL_HALF},{half(b)}" if rng.random() < 0.5 else f"{taxi},{half(a)},{NULL_HALF}"
    if kind == "bbox":
        return f"{taxi},{half(a)},'{b[0]}',35.00000,{b[2]},'{b[3]}'"
    if kind == "ocean":
        return f"{taxi},{half(a)},'{b[0]}',37.50000,-123.50000,'{b[3]}'"
    if kind == "status":
        return f"{taxi},'{a[0]}',{a[1]},{a[2]},'X',{half(b)}"
    raise ValueError(kind)


def generate(seed, rows):
    """Return (lines, manifest) for about `rows` clean segment rows."""
    rng = random.Random(seed)
    counts = {k: 0 for k in RATES}
    lines, taxis, days = [], {}, set()
    dirty_kinds = ["arity", "null_half", "bbox", "ocean", "status"]
    work = {t: [d for d in range(WINDOW_DAYS) if rng.random() < ACTIVE_DAY] or [rng.randrange(WINDOW_DAYS)]
            for t in range(1, TAXIS + 1)}
    per_day = rows / sum(len(v) for v in work.values())
    ee = clean = 0
    for taxi, work_days in work.items():
        depth = 0
        for day in work_days:
            days.add(day)
            pts = shift(rng, day, max(2, round(per_day * rng.uniform(0.8, 1.2))) + 1, counts)
            for a, b in zip(pts, pts[1:]):
                line = f"{taxi},{half(a)},{half(b)}"
                lines.append(line)
                clean += 1
                depth += 1
                ee += a[3] == "E" and b[3] == "E"
                for kind in dirty_kinds:
                    if rng.random() < RATES[kind]:
                        lines.append(dirty(rng, taxi, a, b, kind))
                        counts[kind] += 1
                if rng.random() < RATES["duplicate"]:
                    lines.append(line)
                    counts["duplicate"] += 1
        taxis[taxi] = [depth, len(work_days)]
    rng.shuffle(lines)
    depths = sorted(v[0] for v in taxis.values())
    n_days = sorted(v[1] for v in taxis.values())
    manifest = {
        "seed": seed, "rows_requested": rows, "lines": len(lines), "clean_rows": clean,
        "ee_share": round(ee / max(clean, 1), 4), "taxis_n": len(taxis),
        "depth": {"min": depths[0], "median": depths[len(depths) // 2],
                  "p99": depths[int(len(depths) * 0.99)], "max": depths[-1]},
        "days_per_taxi": {"min": n_days[0], "median": n_days[len(n_days) // 2], "max": n_days[-1]},
        "days": [day_str(d) for d in sorted(days)],
        "rates": RATES, "counts": counts,
        "taxis": {str(k): v for k, v in taxis.items()},
    }
    return lines, manifest


def write(seed, rows, out_dir):
    lines, manifest = generate(seed, rows)
    os.makedirs(out_dir, exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(os.path.join(out_dir, "segments.txt"), "wb") as f:
        f.write(data)
    manifest["bytes"] = len(data)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = write(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in m.items() if k != "taxis"}, sort_keys=True))
