#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source into .bench_build/ with
the Scala compiler that ships in Spark's jars (no sbt), runs one workload
in a fresh JVM inside .perfbench/work-<pid>/ (deleted at exit, so sink
ops' target/tmp and spark-warehouse writes never land in the checkout)
on inputs prepared from the testdata bundled in perfbench/data/, checks
every op's result against its DuckDB oracle, prints every metric by name
with its unit, and prints one JSON result object as the last line. The
full run record (and, with --trace 1, the span file) stays in
.perfbench/out/. A run measures each workload's fixed number of warm
passes; --seconds is recorded but does not change that count.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
STATE_DIR = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(BENCH_DIR, "data")
SCALA_VERSION = "2.13.17"
JVM_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# the end-to-end metrics of the result line; peak_rss_mb and
# ops_failed_frac are printed beside them (see README.md)
E2E_UNITS = {"pass_s": "s", "cpu_s": "s", "cold_pass_s": "s", "setup_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        fail("no Spark jars found: set SPARK_HOME")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    if not prog:
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a checkout")
    if not bench:
        fail(f"no benchmark sources under {os.path.join(BENCH_DIR, 'src')}")
    return prog + bench


def build():
    """Compiles program + benchmark sources unless the stamped build matches."""
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{j}-{SCALA_VERSION}.jar")
                for j in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            fail(f"missing {j}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        os.path.join(jars, "*"), "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return classes


def run_jvm(classes, main, args, work, log_path):
    """Runs a benchmark main in `work`, waits for it, and returns its exit code."""
    cmd = (["java"] + JAVA_OPENS +
           ["-Xmx1g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
            main] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def load_check_frame():
    """tools/check.py's comparison rules: columns sorted by name, rows sorted
    the way pandas sorts them, cells hashed dtype-sensitively."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame


def expected_frames(inputs):
    """DuckDB's result, as tools/check.py's frame(), of a query over the
    tables in `inputs`. The result for the same SQL over byte-identical
    tables is kept in .perfbench/oracle/ and reused by later runs."""
    import duckdb
    frame = load_check_frame()
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(inputs, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    tables = h.hexdigest()
    cache = os.path.join(STATE_DIR, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None

    def expected(sql):
        nonlocal con
        path = os.path.join(cache, hashlib.sha256(f"{tables}\0{sql}".encode()).hexdigest())
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        cols, rows = frame(con.sql(sql).df())
        with open(path + ".tmp", "w") as f:
            json.dump([cols, rows], f)
        os.replace(path + ".tmp", path)
        return cols, rows
    return expected


def oracle_check(record, inputs, verify):
    """Compares each op's cold-pass result with DuckDB running the op's
    oracle SQL over the same inputs. Returns {query: None | reason}."""
    import pyarrow.parquet as pq
    frame = load_check_frame()
    expected = expected_frames(inputs)
    verdicts = {}
    for op in record["ops"]:
        name, sql = op["query"], op["oracle_sql"]
        files = glob.glob(os.path.join(verify, name, "*.parquet"))
        try:
            if sql is None:
                raise ValueError("no oracle SQL in SparkEntry.oracleSql")
            if not files:
                raise ValueError("no result written")
            got_cols, got = frame(pq.read_table(files).to_pandas())
            exp_cols, exp = expected(sql)
            if got_cols != exp_cols:
                raise ValueError(f"columns {got_cols} != {exp_cols}")
            if len(got) != len(exp):
                raise ValueError(f"rowcount {len(got)} != {len(exp)}")
            if got != exp:
                i = next(i for i, (a, b) in enumerate(zip(got, exp)) if a != b)
                raise ValueError(f"value diff at sorted row {i}: spark={got[i]} duckdb={exp[i]}")
            verdicts[name] = None
        except Exception as e:  # every failure is reported by op name
            verdicts[name] = f"oracle: {type(e).__name__}: {e}"
    return verdicts


def count_failures(ops, verdicts):
    """Op executions attempted and failed. An execution that threw or
    returned other than the verified row count failed; an op whose result
    the oracle rejects failed in every pass, since every pass returned it."""
    attempted = sum(op["attempted"] for op in ops)
    failed = sum(op["attempted"] if verdicts[op["query"]] else op["failed"] for op in ops)
    return attempted, failed


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    if not os.path.isdir(DATA_DIR):
        fail(f"no input tables under {DATA_DIR}")
    out_dir = os.path.join(STATE_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    base = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        t0 = time.time()
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", DATA_DIR]
        code = run_jvm(classes, "perfbench.Main", args + ["--out", base + ".json"],
                       work, base + ".log")
        if code != 0:
            with open(base + ".log") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {code}; log: {base}.log")
        with open(base + ".json") as f:
            record = json.load(f)
        t1 = time.time()
        verdicts = oracle_check(record, os.path.join(work, "inputs"),
                                os.path.join(work, "verify"))
        record["host"]["jvm_wall_s"], record["host"]["oracle_wall_s"] = t1 - t0, time.time() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = count_failures(record["ops"], verdicts)
    for op in record["ops"]:
        op["oracle"] = verdicts[op["query"]] or "PASS"
    record["attempted"], record["failed"] = attempted, failed
    record["metrics"]["ops_failed_frac"] = failed / attempted
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)

    h = record["host"]
    print(f"workload {a.workload}: seed {a.seed}, closed loop with 1 client, "
          f"local[{h['nproc']}], shuffle partitions {h['nproc']}, heap {h['heap_mb']:.0f} MiB")
    print(f"loadavg before: {h['loadavg_before']}  after: {h['loadavg_after']}  "
          f"CPU time stolen by the hypervisor during the JVM: {h['steal_s']:.2f} s")
    print(f"benchmark JVM {h['jvm_wall_s']:.1f} s (result writes for the oracle "
          f"{record['verify_write_s']:.1f} s), oracle check {h['oracle_wall_s']:.1f} s")
    for t in record["inputs"]:
        print(f"input {t['table']:<10} {t['rows']:>8} rows {t['bytes'] / 2**20:8.3f} MiB")
    print("setup_s split: " + ", ".join(f"{k} {v:.3f}" for k, v in record["setup_split"].items()))
    print("warm pass_s: " + ", ".join(f"{s:.3f}" for s in record["warm_pass_s"]))
    if record["traced_pass_s"]:
        print("traced pass_s: " + ", ".join(f"{s:.3f}" for s in record["traced_pass_s"]))
        shape = record["traced_pass_shape"]
        print("traced pass shuffle write MiB: " + ", ".join(
            f"{s:.2f}" for s in shape["pass.shuffle_write_mb"]) +
            "; task s / wall s: " + ", ".join(f"{s:.2f}" for s in shape["pass.task_s_per_wall_s"]))
    for op in record["ops"]:
        errs = "; ".join(op["errors"])
        print(f"op {op['query']:<28} {op['layer']:<17} rows {op['verified_rows']}  "
              f"cold {op['cold_s'] or 0:.3f} s  warm {op['warm_median_s']:.3f} s  "
              f"oracle {op['oracle']}" + (f"  errors: {errs}" if errs else ""))
    for name, unit in list(E2E_UNITS.items()) + [("peak_rss_mb", "MiB"),
                                                 ("ops_failed_frac", "fraction")]:
        print(f"{name} {record['metrics'][name]:.6g} {unit}")
    if a.trace:
        for name, value in record["per_layer"].items():
            print(f"{name} {value:.6g} {layer_unit(name)}")
        tc = record["trace_check"]
        print(f"trace check: {tc['jobs']} jobs, {tc['jobs_with_other_group']} under another "
              f"job group, {tc['jobs_started_outside_window']} started outside their window")
    bad = [op for op in record["ops"] if op["failed"] or op["oracle"] != "PASS"]
    for op in bad:
        print(f"FAILED op {op['query']}: " + "; ".join(
            op["errors"] + ([op["oracle"]] if op["oracle"] != "PASS" else [])))
    print(f"record: {base}.json" + (f"  spans: {base}-spans.json" if a.trace else ""))

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MiB"
    if last in ("task_skew", "read_amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
