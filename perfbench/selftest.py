"""Self-tests and digest recording for the benchmark (driven by run.py).

`run`: the oracle path reproduces the committed golden files, the segment
generator is deterministic, and every check fails when its expected value is
wrong (a cent off in one day's revenue; one ledger digest altered).

`record`: runs the ledger rows through graft.Verify, checks every output
with tools/check_oracle.py, and only then writes the rows' digests to
expected_digests.tsv.
"""
import os
import re
import subprocess
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _say(ok, what):
    print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}")
    return ok


def run(cp, run_workload):
    import gen_segments
    import oracle
    d = os.path.join(BUILD, "selftest")
    os.makedirs(d, exist_ok=True)
    results = [_say(oracle.selftest(), "oracle reproduces golden_q2_daily/total")]
    a, b = gen_segments.generate(7, 5000), gen_segments.generate(7, 5000)
    results.append(_say(a == b and a[0] != gen_segments.generate(8, 5000)[0],
                        "generator: same seed same input, other seed other input"))

    small = dict(seconds=1, rows=20000)
    r = run_workload("ex2_revenue", 3, trace=False, cp=cp, **small)
    results.append(_say(r["correct"] and r["failed"] == 0, "ex2_revenue passes its oracle check"))
    from run import ex2_inputs
    exp = os.path.join(ex2_inputs(3, 20000)[0], "expected.tsv")
    lines = open(exp).read().splitlines()
    day, value = lines[0].split("\t")
    lines[0] = f"{day}\t{Decimal(value) + Decimal('0.01')}"
    bad = os.path.join(d, "expected_bad.tsv")
    with open(bad, "w") as f:
        f.write("\n".join(lines) + "\n")
    r = run_workload("ex2_revenue", 3, trace=False, cp=cp, expected=bad, **small)
    results.append(_say(not r["correct"] and r["failed"] > 0, "a daily revenue one cent off fails ex2"))

    digests = os.path.join(HERE, "expected_digests.tsv")
    rows = [l for l in open(digests).read().splitlines()]
    i = next(i for i, l in enumerate(rows) if l.startswith("q3_filter_agg\t"))
    n, s = rows[i].split("\t")[1].split(":")
    rows[i] = f"q3_filter_agg\t{n}:{int(s) + 1}"
    bad = os.path.join(d, "digests_bad.tsv")
    with open(bad, "w") as f:
        f.write("\n".join(rows) + "\n")
    r = run_workload("ledger", 3, seconds=1, trace=False, cp=cp, digests=bad)
    results.append(_say(not r["correct"] and r["failed"] > 0, "an altered ledger digest fails ledger"))
    print(f"selftest: {sum(results)}/{len(results)} ok")
    return 0 if all(results) else 1


def record(cp, run_jvm, names, data, digests_path):
    out = os.path.join(BUILD, "record")
    subprocess.run(["rm", "-rf", out], check=True)
    code, stdout = run_jvm(cp, ["--record", out, "--rows", ",".join(names), "--sf", data], raw=True)
    got = dict(l.split("\t") for l in stdout.splitlines() if "\t" in l)
    if code != 0 or sorted(got) != sorted(names):
        print(f"record: JVM exited {code}; digests for {sorted(got)}", file=sys.stderr)
        return 1
    chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data, out],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    print(chk.stdout)
    passed = {n for n in names if re.search(rf"^\s+{re.escape(n)}: OK\b", chk.stdout, re.M)}
    if passed != set(names):
        print(f"record: oracle check did not pass for {sorted(set(names) - passed)}", file=sys.stderr)
        return 1
    with open(digests_path, "w") as f:
        f.write("# row\tdigest (rows:sum of per-row xxhash64), recorded by `run.py --record`\n"
                "# from outputs that pass tools/check_oracle.py on perfbench/data/sf0.01\n")
        f.writelines(f"{n}\t{got[n]}\n" for n in sorted(names))
    print(f"record: {len(names)} digests written to {os.path.relpath(digests_path, ROOT)}")
    return 0
