#!/usr/bin/env python3
"""Pipeline benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. When a source is newer than the last build,
it builds the program and the benchmark harness (perfbench/build.sbt) and
then writes the silver layer that gold_refresh starts from
(Pipeline.runBronze + runSilver over the fixtures). For silver_refresh it
writes the seeded inputs. It then runs the harness in one JVM with
local[nproc] Spark. Everything the run writes lands under
.bench_build/perfbench/ in the repository root. The last line of standard
output is the JSON result.
"""
import argparse
import collections
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.001")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PREPARED = os.path.join(WORK, "prepared")
BUILD_TIMEOUT_S = 700
PREPARE_TIMEOUT_S = 150
RUN_TIMEOUT_S = 170

# Workloads that ingest the seeded inputs; gold_refresh starts from the
# silver layer written at build time.
SEEDED_INPUTS = {"silver_refresh"}

# The key each table is upserted on in bronze (Pipeline.runBronze).
KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"], "customer": ["c_custkey"],
    "supplier": ["s_suppkey"], "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}

# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(code)


def java_cmd(spark_home, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed JIT and GC thread sets: the harness subtracts their CPU time
    # from the process's, which needs them to live as long as the JVM
    # (no hsperfdata file: the run writes only under WORK)
    cmd = [java, "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:-UseDynamicNumberOfGCThreads", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
                  "graft.perfbench.Main", "--work", WORK] + args


def newest_source_mtime():
    newest = 0.0
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project"), FIXTURES]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names
                         if n.endswith((".scala", ".java", ".sbt", ".properties", ".parquet")))
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(spark_home):
    """Compile, then write the prepared silver layer; both redone when a
    source is newer than the stamp."""
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    if r.returncode != 0:
        fail("build failed (sbt exit %d)" % r.returncode)
    shutil.rmtree(PREPARED, ignore_errors=True)
    print("[perfbench] writing the prepared silver layer", file=sys.stderr)
    try:
        r = subprocess.run(java_cmd(spark_home, ["--prepare", PREPARED, "--fixtures", FIXTURES]),
                           cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=PREPARE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("preparing the silver layer exceeded %d s" % PREPARE_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(PREPARED):
        fail("preparing the silver layer failed (exit %d)" % r.returncode)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write("built\n")


def permutation(keys, rnd):
    """A seeded shuffle of row indices in which rows of equal key keep
    their relative order: the shuffle picks which positions a key's rows
    take, the input order which row goes where."""
    same_key = collections.defaultdict(collections.deque)
    for i, k in enumerate(keys):
        same_key[k].append(i)
    order = list(range(len(keys)))
    rnd.shuffle(order)
    return [same_key[keys[i]].popleft() for i in order]


def write_inputs(seed, out):
    """The fixtures with every table's rows permuted by `seed`, written as
    the fixtures are: one snappy parquet file, one row group per table.

    Rows sharing a bronze key keep their fixture order. In the fixture's
    lineitem, 1,401 of the 6,000 rows repeat the (l_orderkey,
    l_linenumber) key of another row with other values, and the bronze
    upsert keeps one row per key, picked by input order: a free
    permutation changes which row survives and with it the content of
    every table built on lineitem (silver.inventory held 1,807 rows for
    one seed and 1,809 for another). With same-key rows in order the
    content is the same for every seed, so the outputs can be pinned.
    Returns the bytes written."""
    import pyarrow.parquet as pq
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name in sorted(KEYS):
        table = pq.read_table(os.path.join(FIXTURES, name + ".parquet"))
        cols = [table.column(k).to_pylist() for k in KEYS[name]]
        order = permutation(list(zip(*cols)), random.Random("%d/%s" % (seed, name)))
        pq.write_table(table.take(order), os.path.join(out, name + ".parquet"),
                       compression="snappy", row_group_size=max(1, table.num_rows))
    return sum(os.path.getsize(os.path.join(out, n)) for n in os.listdir(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail("no program sources at %s: run from the repository root" % PROGRAM_SRC)
    if not os.path.isdir(FIXTURES):
        fail("no input fixtures at %s" % FIXTURES)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    build(spark_home)

    extra = ["--fixtures", FIXTURES, "--prepared", PREPARED]
    if args.workload in SEEDED_INPUTS:
        # set-up starts here: the harness adds this cost to its own
        inputs = os.path.join(WORK, "input")
        w0, c0 = time.monotonic(), time.process_time()
        n = write_inputs(args.seed, inputs)
        extra += ["--input", inputs, "--input-bytes", str(n),
                  "--input-wall-s", repr(time.monotonic() - w0),
                  "--input-cpu-s", repr(time.process_time() - c0)]
    cmd = java_cmd(spark_home, ["--workload", args.workload, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace)] + extra)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 3)
    lines = r.stdout.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    if r.returncode != 0 or not results:
        sys.stdout.write(r.stdout)
        fail("harness exited %d without a result" % r.returncode, 1)
    for l in lines:
        if l not in results:
            print(l)
    print(results[-1])


if __name__ == "__main__":
    main()
