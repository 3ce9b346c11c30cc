#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload olap_sf001 --seed 1 --seconds 16 --trace 0

Run from the repository root. The script
  1. builds the program and the benchmark's JVM side from source with sbt
     (skipped when the sources are unchanged since the last build);
  2. makes the workload's inputs: the batch workloads read the tables
     committed under perfbench/data/sf0.01; the trade log is generated
     from --seed (tradegen.py);
  3. runs the workload in one JVM (perfbench.Main), which sets up,
     measures for --seconds and dumps the outputs to check;
  4. checks those outputs (DuckDB oracle SQL for batch queries; the
     JVM itself compares streamed bars against the batch pipeline);
  5. writes the full per-layer and per-query detail to
     .bench_build/perfbench/results/ and prints the summary line last:
     {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
     with every end_to_end metric of BENCHMARK.json (--trace 0) or every
     per_layer metric (--trace 1).
All files it writes stay under .bench_build/ in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# tools/local_verify.py holds the oracle comparison rules
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import tradegen  # noqa: E402

WORKLOADS = ("olap_sf001", "corpus_x10", "trade_stream")
# The batch workloads read the project's TPC-H-style testdata at scale
# factor 0.01 (data seed 42), a copy of which is committed here; --seed
# permutes their query order. The trade log is generated from --seed.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
# trade_stream: a 4000-line backlog drained in 2 batches, then an open
# loop at 100 lines/s for three quarters of --seconds. The log layout
# (logs, trades per line) is tradegen's.
STREAM = {"backlog_lines": 4000, "drain_batches": 2, "lines_per_s": 100.0}
SUMMARY_MAX_BYTES = 1900
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 175


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, HERE).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, base):
    """Compile ../src/main plus the JVM side; returns the classes dir."""
    srcs = [p for p in glob.glob(os.path.join(root, "src/main/**/*"), recursive=True) if os.path.isfile(p)]
    srcs += [p for p in glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) if os.path.isfile(p)]
    srcs += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    stamp = os.path.join(base, "build.stamp")
    classes = os.path.join(base, "target/scala-2.13/classes")
    digest = sha(srcs)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                           stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0:
        die(f"build failed, see {base}/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def make_inputs(workload, seed, seconds, work):
    """The JVM's --data dir: the committed tables (read only), or for the
    stream a trade log generated from the seed plus its stream.json."""
    if workload != "trade_stream":
        return DATA_DIR
    data = os.path.join(work, "data")
    tradegen.backlog(os.path.join(data, "log"), seed, STREAM["backlog_lines"])
    with open(os.path.join(data, "stream.json"), "w") as f:
        json.dump(dict(STREAM, logs=tradegen.LOGS, per_line=tradegen.PER_LINE,
                       live_seconds=seconds * 0.75), f)
    return data


def spark_home():
    """$SPARK_HOME, else the first PATH entry `<home>/bin` whose
    `<home>/jars` exists (a pip wrapper script has no jars beside it)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("Spark not found: set SPARK_HOME")


def run_jvm(root, classes, args, work, timeout):
    cp = f"{classes}:{root}/src/main/resources:{spark_home()}/jars/*"
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


# ---------------------------------------------------------------- checks

def compare(con, out_dir, oracle):
    """'' when the Spark output in out_dir matches; else why not. Without
    oracle SQL only a non-empty result is required. The comparison rules
    (sorted columns, sorted rows, exact values) are tools/local_verify.py's."""
    import pyarrow.parquet as pq
    from local_verify import rows_of
    tbl = pq.read_table(out_dir)
    if not oracle:
        return "" if tbl.num_rows > 0 else "empty result"
    scols = tbl.column_names
    srows, sc = rows_of(scols, [[r[c] for c in scols] for r in tbl.to_pylist()])
    res = con.sql(oracle)
    orows, oc = rows_of(res.columns, res.fetchall())
    sc, oc = [c.lower() for c in sc], [c.lower() for c in oc]
    if sc != oc:
        return f"columns {sc} != {oc}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    bad = sum(1 for a, b in zip(srows, orows) if a != b)
    return f"{bad}/{len(srows)} rows differ" if bad else ""


def check_batch(result, data_dir):
    import duckdb
    from local_verify import TABLES
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        if os.path.isdir(path):  # a Spark-written replica table
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for c in result["checks"]:
        result["attempted"] += 1
        try:
            why = compare(con, c["dir"], c["oracle"])
        except Exception as e:  # an oracle or read error is a failed check
            why = f"check error: {str(e)[:200]}"
        if why:
            result["failed"] += 1
            result["failures"].append(f"{c['name']}: {why}")


# --------------------------------------------------------------- summary

def summary(result, spec, trace):
    """The last stdout line: every metric of the run's kind. The workload
    must report each one; it reports 0 itself for a layer it does not have."""
    kind = "per_layer" if trace else "end_to_end"
    got = result[kind]
    missing = [m["name"] for m in spec[kind] if m["name"] not in got]
    if missing:
        die(f"workload reported no {', '.join(missing)}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    return json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                       "failed": result["failed"], "metrics": metrics}, separators=(",", ":"))


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "BENCHMARK.json"))
            and os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        die("run from the repository root: BENCHMARK.json and src/main/scala/graft are needed")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = build(root, base)
    t_built = time.time()
    work = os.path.join(base, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = make_inputs(a.workload, a.seed, a.seconds, work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--data", data, "--work", work,
            "--replica", os.path.join(base, "replica"), "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--gen", f"{sys.executable} {os.path.join(HERE, 'tradegen.py')}"]
    budget = DEADLINE_S - (time.time() - t_built)
    rc = run_jvm(root, classes, args, work, budget)
    if rc != 0 or not os.path.exists(out):
        die(f"workload JVM exited with {rc}, see {work}/jvm.log")
    result = json.load(open(out))
    if a.workload != "trade_stream":
        check_batch(result, result["provenance"]["check_data_dir"])
    result["failed_frac"] = result["failed"] / max(1, result["attempted"])
    if a.workload == "trade_stream":
        inputs = ("trade log written by tradegen.py from the seed", glob.glob(os.path.join(data, "log", "*")))
    else:
        inputs = ("testdata sf0.01, data seed 42 (perfbench/data/sf0.01)", glob.glob(os.path.join(data, "*.parquet")))
    result["provenance"].update({
        "seed": str(a.seed), "cores": str(os.cpu_count()), "local": "local[4]",
        "inputs": inputs[0], "inputs_sha256": sha(inputs[1]),
        "tradegen_py_sha256": sha([tradegen.__file__]),
        "build_sha256": open(os.path.join(base, "build.stamp")).read()})
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(result, f)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(base, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    if result["failed"] == 0:
        shutil.rmtree(work, ignore_errors=True)
    line = summary(result, spec, a.trace)
    if not a.trace and len(line.encode()) > SUMMARY_MAX_BYTES:
        die(f"summary line is {len(line.encode())} bytes, over {SUMMARY_MAX_BYTES}")
    print(line)


if __name__ == "__main__":
    main()
