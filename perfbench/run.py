#!/usr/bin/env python3
"""The repository's benchmark: one command per workload, run from the root
of a checkout.

  python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest      oracle, generator and check self-tests
  python3 perfbench/run.py --record        re-record expected ledger digests

Workloads (see perfbench/METRICS.md for why each exists and what moves what):
  ex2_revenue    the paper's Exercise 2 on seeded segments (gen_segments.py):
                 readSegments -> reconstructTrips -> dailyRevenue, then
                 totalRevenue over the daily rows read back; checked to the
                 cent against the Python oracle (oracle.py)
  ledger         SparkEntry rows (short relational, ckpt multi-pass and a
                 stateful streaming row) on the bundled sf0.01 tables, in an
                 order set by the seed; each result checked by its digest

Each run builds the program if its classes are stale (build.py), makes the
inputs for the seed (cached under .bench_build/inputs), starts one JVM on
local[nproc] through graft.BenchHarness.session, and:
  - sets up: JVM start, one cold session start, input check and three
    untimed warm passes, then measures the heap left live after them;
  - with --trace 0, repeats timed passes for --seconds (at least three) and
    reports the median pass;
  - with --trace 1, alternates four untraced and four traced passes
    (listeners registered only for the traced ones), reports the per-layer
    metrics of the last traced pass and the tracing overhead (median traced
    over median untraced pass), and writes the spans to .bench_build/trace/.
The last line of standard output is one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "expected_digests.tsv")

EX2_ROWS = 300_000
# short relational rows, an eager-barrier (ckpt) multi-pass row, and a
# stateful streaming row (state-store commits every micro-batch)
LEDGER_ROWS = ["q3_filter_agg", "q22_skew_join", "q40_percentiles", "x104_snm_multipass",
               "x73_stream_funnel"]
WORKLOADS = ["ex2_revenue", "ledger"]
DEADLINE_S = 170  # one workload's run (inputs + JVM) ends within this
T0 = time.time()
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def require_checkout():
    """The benchmark builds the program from the checkout's sources."""
    for p in ("src/main/scala", "tools/gen_taxi_fixtures.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, p)):
            log(f"not a checkout of the program: {p} is missing")
            sys.exit(2)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ inputs

def ex2_inputs(seed, rows=EX2_ROWS):
    """Segments + oracle answers for the seed, generated once and cached."""
    sys.path.insert(0, HERE)
    import gen_segments
    import oracle
    h = hashlib.sha1()
    for p in (gen_segments.__file__, oracle.__file__, os.path.join(ROOT, "tools", "gen_taxi_fixtures.py")):
        with open(p, "rb") as f:
            h.update(f.read())
    d = os.path.join(BUILD, "inputs", f"ex2-s{seed}-r{rows}-{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(d, "expected.tsv")):
        t0 = time.time()
        tmp = d + f".tmp{os.getpid()}"
        gen_segments.write(seed, rows, tmp)
        with open(os.path.join(tmp, "segments.txt")) as f:
            exp = oracle.expected(f.read().splitlines())
        with open(os.path.join(tmp, "expected.tsv"), "w") as f:
            f.writelines(f"{k}\t{v}\n" for k, v in exp["daily"].items())
            f.write(f"TOTAL\t{exp['total']}\n")
        subprocess.run(["rm", "-rf", d], check=True)
        os.rename(tmp, d)
        log(f"ex2 inputs for seed {seed}: generated in {time.time() - t0:.1f} s")
    with open(os.path.join(d, "manifest.json")) as f:
        manifest = json.load(f)
    return d, manifest


def data_manifest():
    """The bundled tables, checked against their recorded sizes and hashes."""
    rows, size = 0, 0
    with open(os.path.join(DATA, "MANIFEST.tsv")) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, n, b, sha = line.split()
            p = os.path.join(DATA, name)
            with open(p, "rb") as g:
                if hashlib.sha1(g.read()).hexdigest() != sha:
                    log(f"bundled table {name} does not match MANIFEST.tsv")
                    sys.exit(2)
            rows, size = rows + int(n), size + int(b)
    return rows, size


# --------------------------------------------------------------------- jvm

def java_cmd(cp, tmp, args):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # A fixed, pre-touched heap, so peak RSS does not depend on when G1
    # grows it: it moves only with off-heap memory (buffers, metaspace,
    # threads). The heap the program holds is measured as live_heap_mb.
    opts += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}/derby",
             f"-Dgraft.stream.scratch={tmp}/stream",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    return ["java"] + opts + ["-cp", cp, "graftbench.Main", "--root", ROOT] + args


def run_jvm(cp, args, raw=False):
    """Run graftbench.Main; return its result object, or with `raw` its
    (exit code, stdout)."""
    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    subprocess.run(["rm", "-rf", tmp], check=True)
    for sub in ("spark", "stream", "warehouse", "derby"):
        os.makedirs(os.path.join(tmp, sub))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=f"{tmp}/spark")
    spawn_ms = int(time.time() * 1000)
    p = subprocess.Popen(java_cmd(cp, tmp, args + ["--spawn-ms", str(spawn_ms)]), cwd=ROOT, env=env,
                         stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=max(10.0, T0 + DEADLINE_S - time.time()))
    except subprocess.TimeoutExpired:
        log(f"JVM stopped: the run reached its {DEADLINE_S} s limit")
        sys.exit(1)
    finally:
        # Also on SIGTERM/SIGINT (see main): never leave the JVM behind.
        if p.poll() is None:
            p.kill()
        p.wait()
        subprocess.run(["rm", "-rf", tmp])
    if raw:
        return p.returncode, out
    result = None
    for line in out.splitlines():
        if line.startswith("BENCH-JVM "):
            result = json.loads(line[len("BENCH-JVM "):])
        else:
            print(line, file=sys.stderr)
    if p.returncode != 0 or result is None:
        log(f"JVM exited with {p.returncode}" + ("" if result else ", no result"))
        sys.exit(1)
    return result


def source_digest():
    h = hashlib.sha1()
    for d in ("src/main/scala", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, d))):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for name in sorted(files):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


# ---------------------------------------------------------------- workloads

def run_workload(workload, seed, seconds, trace, cp, digests=DIGESTS, expected=None,
                 rows=EX2_ROWS):
    """Run one workload once; return the contract's result object."""
    global T0
    T0 = time.time()
    if workload == "ex2_revenue":
        d, manifest = ex2_inputs(seed, rows)
        args = ["--segments", os.path.join(d, "segments.txt"),
                "--expected", expected or os.path.join(d, "expected.tsv")]
        input_rows, input_bytes = manifest["lines"], manifest["bytes"]
    elif workload == "ledger":
        input_rows, input_bytes = data_manifest()
        args = ["--rows", ",".join(LEDGER_ROWS), "--sf", DATA, "--digests", digests]
    else:
        log(f"unknown workload {workload}; known: {', '.join(WORKLOADS)}")
        sys.exit(2)
    spans = os.path.join(BUILD, "trace", f"{workload}-s{seed}.spans.json")
    r = run_jvm(cp, args + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", "1" if trace else "0",
                            "--spans", spans if trace else ""])
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(r, f)
    stamp = {"workload": workload, "seed": seed, "nproc": nproc(), "jvm": r["jvm"],
             "cores": r["cores"], "shuffle_partitions": r["shuffle_partitions"],
             "commit": git_commit(), "source_sha1": source_digest(),
             "input_rows": input_rows, "input_bytes": input_bytes, "ops": r["ops"]}
    print("stamp " + json.dumps(stamp, sort_keys=True))
    spec = bench_spec()
    attempted, failed = r["attempted"], r["failed"]
    if trace:
        got = r["trace"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print(f"spans written to {os.path.relpath(spans, ROOT)}; tracing overhead "
              f"{got['trace.overhead_frac'] * 100:+.1f} % against a noise floor of "
              f"{got['trace.noise_frac'] * 100:.1f} % (untraced passes, max - min over median); "
              f"passes {', '.join(f'{x:.3f}' for x in r['pass_s'])} s")
    else:
        wall = statistics.median(r["pass_s"])
        values = {
            "setup_s": r["boot_s"] + r["session_s"] + r["warm_s"],
            "wall_s": wall,
            "peak_rss_mb": r["peak_rss_mb"],
            "live_heap_mb": r["live_heap_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        report = {k: (v["value"], v["unit"]) for k, v in metrics.items()}
        report["ops_failed_frac"] = (failed / attempted, "ratio")
        report["passes"] = (len(r["pass_s"]), "count")
        if workload == "ex2_revenue":
            report["segments_per_s"] = (input_rows / wall, "1/s")
        print("report " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in sorted(report.items())))
        print(f"setup split: boot {r['boot_s']:.3f} s, session start {r['session_s']:.3f} s, "
              f"warm passes {', '.join(f'{x:.3f}' for x in r['warm_pass_s'])} s; "
              f"passes {', '.join(f'{x:.3f}' for x in r['pass_s'])} s")
        print("ops (first warm pass / median timed): " + ", ".join(
            f"{k} {v:.3f}/{statistics.median(p[k] for p in r['op_s']):.3f} s"
            for k, v in r["warm_op_s"].items()))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    require_checkout()
    sys.path.insert(0, HERE)
    import build
    cp = build.build()
    if a.selftest:
        import selftest
        sys.exit(selftest.run(cp, run_workload))
    if a.record:
        import selftest
        sys.exit(selftest.record(cp, run_jvm, LEDGER_ROWS, DATA, DIGESTS))
    if a.workload == "all":
        out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            r = run_workload(w, a.seed, a.seconds, a.trace, cp)
            print(f"{w} " + json.dumps(r, sort_keys=True))
            out["correct"] &= r["correct"]
            out["attempted"] += r["attempted"]
            out["failed"] += r["failed"]
            out["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    else:
        out = run_workload(a.workload, a.seed, a.seconds, a.trace, cp)
    print(json.dumps(out, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
