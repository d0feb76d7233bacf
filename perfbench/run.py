#!/usr/bin/env python3
"""graft benchmark: one run of one workload, timed from outside the program.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run reads the
tables under perfbench/data/ (graft's seed-42 test data at sf 0.01),
draws the lakehouse workload's changes from --seed, starts one fresh
JVM that opens a `GraftSession.local` session and runs the workload's
passes (see
perfbench/README.md), checks the outputs against computations made
apart from the program, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run's spans go to .bench_build/traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")

# the input tables: graft's read-only seed-42 test data at sf 0.01, copied
DATA = os.path.join(HERE, "data", "sf0.01")

# heap and JVM flags (Spark cores: perfbench.Main), the same for every
# workload and run
HEAP = "2g"
# the heap at its full size from the start (-Xms = -Xmx) and a fixed young
# generation: the heap never resizes on GC-timing heuristics, so peak RSS
# repeats within about 2 % instead of 7-10 %
YOUNG = "256m"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# name -> harness workload, the warm passes run but left uncounted while
# the JIT compiles most, and the warm passes the statistics count after
# them. Every run makes exactly these passes, so every run covers the
# same passes. Every pass lengthens all of the benchmark's repeated
# runs, which must end within 3,420 s: switchback leaves out its first
# warm pass, whose CPU time is about twice a later pass's; the lakehouse
# pass is twice as long, so it counts its first two. Counting two more
# switchback passes and one more lakehouse pass spread the warm metrics
# no less between runs (the JIT keeps improving through every pass).
WORKLOADS = {
    "switchback-sf0.01": dict(kind="switchback", settle=1, warm=3),
    "lakehouse-daily": dict(kind="lakehouse", settle=0, warm=2),
}
# the lakehouse workload lands this many consecutive days, all inside
# both switchback tests' date ranges (2024-01-10 .. 2024-01-25)
LAND_DAYS = 2

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """Spark's install directory: $SPARK_HOME, else the one whose bin/
    holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME", 2)
    return home


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return files


def build():
    """Compile the program and the harness unless the last build is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout", 2)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "sbt", "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                               env=dict(os.environ, SPARK_HOME=spark_home()))
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not run to its end: {e}", 3)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def lakehouse_params(seed, data_dir, run_dir):
    """The lakehouse workload's seeded inputs: the landed days, the
    re-landed day, the MERGE change set and the DELETE range."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed + 1_000_003)
    orders = pq.read_table(f"{data_dir}/orders.parquet").to_pandas()
    n = len(orders)
    keys = rng.permutation(n)
    dels, upds = np.sort(keys[: n // 50]), np.sort(keys[n // 50: n // 50 + n // 20])
    ins = n + np.arange(n // 50)
    up = orders.iloc[upds]
    ins_cust = rng.integers(0, 1500, len(ins))
    ins_price = np.round(rng.uniform(1000, 500000, len(ins)), 2)
    # a deleted row carries NULL image columns, as the MERGE contract states
    changes = pa.table({
        "o_orderkey": np.concatenate([dels, upds, ins]).astype(np.int64),
        "op": ["D"] * len(dels) + ["U"] * len(upds) + ["I"] * len(ins),
        "o_custkey": np.concatenate([orders.o_custkey.values[dels], up.o_custkey.values,
                                     ins_cust]).astype(np.int64),
        "o_orderstatus": [None] * len(dels) + ["U"] * len(upds) + ["N"] * len(ins),
        "o_totalprice": pa.array([None] * len(dels)
                                 + list(np.round(up.o_totalprice.values + 100.0, 2))
                                 + list(ins_price), pa.float64()),
    })
    path = os.path.join(run_dir, "changes.parquet")
    pq.write_table(changes, path)
    # wider than any file of the merged table (four files over the key
    # range), so the DELETE always rewrites two or three files and runs
    # the same jobs whatever the seed
    width = n // 2
    lo = int(rng.integers(0, n - width))
    first = 10 + int(rng.integers(0, 26 - 10 - LAND_DAYS + 1))
    land = [f"2024-01-{first + k:02d}" for k in range(LAND_DAYS)]
    params = {
        "land_days": land, "reland_day": land[int(rng.integers(0, LAND_DAYS))],
        "changes": path, "delete_lo": lo, "delete_hi": lo + width - 1,
    }
    with open(os.path.join(run_dir, "params.txt"), "w") as f:
        f.writelines(f"{k}={','.join(v) if isinstance(v, list) else v}\n"
                     for k, v in params.items())
    return params


def run_harness(wl, run_dir, data_dir, trace, deadline):
    """Run the JVM; return its `PB` records and the time it was launched."""
    out_dir = os.path.join(run_dir, "out")
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(out_dir)
    os.makedirs(work_dir)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work_dir}", f"-Dspark.sql.warehouse.dir={work_dir}/warehouse",
        f"-Djava.io.tmpdir={work_dir}",
        "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
        "--workload", wl["kind"], "--data", data_dir,
        "--work", work_dir, "--out", out_dir,
        "--warm-passes", str(wl["settle"] + wl["warm"]),
        "--trace", str(trace), "--params", os.path.join(run_dir, "params.txt")])
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not end in time", 4)
        except BaseException:  # interrupted or terminated: take the JVM along
            proc.kill()
            proc.wait()
            raise
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {proc.returncode}:\n{tail}", 5)
    return [json.loads(line[3:]) for line in stdout.splitlines()
            if line.startswith("PB ")], launched


def main():
    # a terminated run ends its JVM too (run_harness kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted, but a run always makes its workload's fixed passes, which
    # take longer than 12 s: a run that measured more passes when the
    # program got faster would compare different JIT progress and peak RSS
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build()
    started = time.time()
    wl = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        sys.path.insert(0, HERE)
        import checks
        params = (lakehouse_params(a.seed, DATA, run_dir)
                  if wl["kind"] == "lakehouse" else None)
        records, launched = run_harness(wl, run_dir, DATA, a.trace, started + RUN_TIMEOUT_S)
        setup = next(r for r in records if r["kind"] == "setup")
        end = next(r for r in records if r["kind"] == "end")
        passes = [r for r in records if r["kind"] == "pass"]
        cold, warm = passes[0], passes[1 + wl["settle"]:]
        if len(warm) != wl["warm"]:
            fail(f"{len(warm)} counted warm passes ran, not {wl['warm']}", 6)
        problems = checks.check(wl["kind"], DATA, os.path.join(run_dir, "out"),
                                params, cold["facts"])
        hashes = {p["hash"] for p in passes}
        if len(hashes) != 1:
            problems.append(f"pass outputs differ between passes: {sorted(hashes)}")
        problems += [f"pass {p['i']} left cached blocks or changed the session conf"
                     for p in passes if not p["hygiene"]]
        for msg in problems:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        print("steal_ticks cold=%d warm=%s  cold wall_s=%.3f cpu_s=%.2f  warm wall_s=%s cpu_s=%s"
              "  (the first %d warm passes are not counted)" % (
                  cold["steal_ticks"], [p["steal_ticks"] for p in passes[1:]], cold["wall_s"],
                  cold["cpu_s"], [round(p["wall_s"], 3) for p in passes[1:]],
                  [round(p["cpu_s"], 2) for p in passes[1:]], wl["settle"]))
        # each step's fastest warm time, summed: steal bursts and background
        # JIT compiles only ever add to a step, and one clean run of each
        # step is enough
        warm_pass = sum(min(p["steps"][k] for p in warm) for k in warm[0]["steps"])
        print(f"warm_pass_s={warm_pass:.3f} (traced={a.trace})")
        print("fastest warm step_s " + json.dumps(
            {k: round(min(p["steps"][k] for p in warm), 3) for k in warm[0]["steps"]}))
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            spans = os.path.join(run_dir, "out", "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
            names = list(warm[0]["layers"])
            metrics = {k: {"value": statistics.median(p["layers"][k] for p in warm),
                           "unit": unit_of(k)} for k in names}
        else:
            metrics = {
                "setup_s": {"value": setup["first_action_ms"] / 1000.0 - launched, "unit": "s"},
                "cold_pass_s": {"value": cold["wall_s"], "unit": "s"},
                "warm_pass_s": {"value": warm_pass, "unit": "s"},
                "warm_cpu_s": {"value": min(p["cpu_s"] for p in warm), "unit": "s"},
                "peak_rss_mb": {"value": end["peak_rss_kb"] / 1024.0, "unit": "MB"},
            }
        result = {
            "correct": not problems,
            "attempted": sum(p["attempted"] for p in passes),
            "failed": sum(p["failed"] for p in passes),
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
