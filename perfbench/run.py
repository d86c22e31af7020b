#!/usr/bin/env python3
"""Benchmark entry point for the SmartSPIM conversion engine and its query inventory.

    python3 perfbench/run.py --workload <stack_v2|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/scala) against the Spark
jars into .bench_build/; later runs reuse that build while the sources are
unchanged. Everything the run writes stays under .bench_build/ and .bench_work/.

Workloads (closed loop, one client, Spark local[nproc] in one JVM, -Xmx2g):
  stack_v2   one seeded light-sheet stack, 128 16-bit PNG slices of 512x640, through
             SmartSpimJob.runJob to OME-Zarr v2 (4 levels, 128^3 chunks, blosc-zstd-3
             byte-shuffle); each pass then reads level 0 back three times and reads
             every chunk of every level once, in a seeded order, through the zarr
             DataSource
  query_mix  13 light queries of graft.SparkEntry.queries covering all 12 modules, in a
             seeded order, over perfbench/data/sf0.01; after the passes, three times,
             a companion job: three small TIFF stacks pooled into one zarr v3
             sharding_indexed (2x2x2) conversion, and its level-0 read-backs

A run repeats passes for --seconds seconds and at least twice, so that every
operation of a pass has two timed executions. Throughputs and mix_pass_s are
medians over the run's operations. query_p50_s/query_p90_s are Harrell-Davis
quantiles (Beta-weighted means of all order statistics, steadier than a single order
statistic) over the pass's distinct operations, each counted once with its fastest
timed execution (min-of-N, as graft.Bench reports): the 13 queries on query_mix
(listed on the "query_best_s" line), the store's chunks on stack_v2. Sample counts
are printed on the "samples" line. setup_s is the median of three in-process set-ups
(session start, planner install, warm-up job); an untimed warm pass follows them.

Output checks run outside the timed region: every voxel of every level against the
generator and an independent floor-mean, OME-NGFF metadata, derivatives copy, and for
query_mix each query result against perfbench/golden/query_digests.json (DuckDB-oracle
digests; rows + column names + value hash as in scripts/local_check.py).

The last stdout line is one JSON object: correct, attempted, failed, metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer ones (both
as listed in BENCHMARK.json). Lines starting with "perfbench:" before it record run
hygiene (nproc, -Xmx, calibration spin, CPU steal), fixture generation time, sample
counts and error_rate (failed / attempted; the ok_rate metric is 1 - error_rate).

The traced run measures half its time untraced and half with a SparkListener, a
streaming-progress listener and an in-memory span recorder (written at the end to
.bench_work/spans-<workload>-s<seed>.jsonl, and summarised in a span table with self
times). It then calls each imaging layer on its own with an action after it (decode,
rechunk, each pyramid level, each level write) and times single-thread kernels on the
workload's own data. trace.overhead_frac is the traced over the untraced median
operation time, minus 1 (negative when below the run's noise). trace.accounted_frac is
the staged layers' total over the untraced runJob median on stack_v2 (expected within
0.75-1.25), and the query spans over the traced mix passes on query_mix. Byte counts derived from array sizes have the unit B-computed.

Test-only options: --scale tiny (small inputs), --inject corrupt-chunk|wrong-query
(fault injection; the run must then report failures).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
GOLDEN = os.path.join(HERE, "golden", "query_digests.json")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DEADLINE_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: error: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    for home in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    die("no Spark installation with a Scala compiler (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        die("src/main/scala not found: run from the root of a source checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build(jars):
    """Compile engine + harness once per source state; returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn",
         "-d", tmp, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s")
    return classes


def canon(df):
    """Value hash of a result: columns sorted by name, rows sorted, cells
    stringified as in scripts/local_check.py."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    rows = sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def digest(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return {"rows": len(df), "cols": sorted(df.columns), "md5": canon(df)}


def check_queries(checks):
    """Failed executions: every timed execution of a query whose result
    does not match its golden digest."""
    golden = json.load(open(GOLDEN))
    failed, problems = 0, []
    for c in checks:
        got = digest(c["dir"])
        want = {k: golden[c["name"]][k] for k in ("rows", "cols", "md5")}
        if got != want:
            failed += max(1, c["execs"])
            problems.append(f"{c['name']}: got {got} want {want}")
    return failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["stack_v2", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject", choices=["none", "corrupt-chunk", "wrong-query"],
                    default="none")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        die("BENCHMARK.json not found")
    spec = json.load(open(spec_file))
    jars = spark_jars()
    classes = build(jars)
    t_start = time.time()  # a first-run build does not count against the deadline

    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    result = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                      os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--result", result,
              "--sf", SF_DIR, "--golden", GOLDEN, "--scale", a.scale, "--inject", a.inject])
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness exceeded {DEADLINE_S}s (log: {log})")
    for line in out.splitlines():
        if line.startswith("perfbench:"):
            print(line)
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness failed with exit code {p.returncode} (log: {log})")

    r = json.load(open(result))
    attempted, failed = r["attempted"], r["failed"]
    problems = list(r["problems"])
    if r["query_checks"]:
        qf, qp = check_queries(r["query_checks"])
        failed += qf
        problems += qp
    metrics = r["metrics"]
    if a.trace == 0:
        metrics["ok_rate"]["value"] = 1.0 - failed / max(1, attempted)
    for msg in problems:
        print(f"perfbench: failure: {msg}")
    print(f"perfbench: error_rate={failed / max(1, attempted):.6f} "
          f"({failed} of {attempted} operations failed or wrong)")

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    final = {}
    for m in want:
        got = metrics.get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            die(f"metric {m['name']} missing or with unit {got and got['unit']} "
                f"(BENCHMARK.json says {m['unit']})", 3)
        final[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(f"perfbench: run_s={time.time() - t_start:.2f}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": final}))


if __name__ == "__main__":
    try:
        main()
        code = 0
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: pyarrow's C++ thread pool can abort the
    # process at exit ("terminate called without an active exception")
    # after the result has been printed
    os._exit(code)
