#!/usr/bin/env python3
"""graft's benchmark: one seeded workload run, end to end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the repo root. The first run builds the program and the
harness into .bench_build (see build.py). A run generates its inputs
from the seed inside a scratch directory under .bench_build, runs the
workload in one JVM at local[nproc], checks the outputs (the JVM's
gates, plus a DuckDB oracle compare of the registry entries a workload
serves), deletes the scratch directory, and prints two lines: a diagnostics object, then the
result object {"correct", "attempted", "failed", "metrics"}. Traced runs
also leave their spans in .bench_build/traces. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

WORKLOADS = ("ingest_daily", "dedup_stream")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def run_jvm(classes, jars, work, args, log_path, timeout):
    """Runs perfbench.Main in its own process group and waits for it;
    on timeout the whole group is killed and waited for."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-XX:+UseG1GC",
           "-Duser.timezone=UTC", "-Duser.language=en", "-Duser.country=US",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a class-data archive of the classes a run loads, written by the first
    # run of a build and mapped by every later one: it shortens start-up
    # and warm-up, which are the larger part of a run's wall time
    cds = classes + ".jsa"
    dump = None
    if os.path.exists(cds):
        cmd.append("-XX:SharedArchiveFile=" + cds)
    else:
        dump = "%s.tmp%d" % (cds, os.getpid())
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    cmd += ["-cp", os.path.join(classes, build.JAR) + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            if dump and os.path.exists(dump):
                if rc == 0 and not os.path.exists(cds):
                    os.rename(dump, cds)
                else:
                    os.remove(dump)
        return rc


def _frame(rel):
    """A result as (sorted column names, sorted rows of cell reprs)."""
    df = rel.df()
    df = df.reindex(sorted(df.columns, key=str.lower), axis=1)
    rows = sorted(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                        for v in row) for row in df.itertuples(index=False))
    return [c.lower() for c in df.columns], rows


def oracle_gates(spec_path):
    """Compares each served registry entry's Spark result with its DuckDB
    oracle over the same tables: same columns, same rows, cell for cell
    after sorting. Returns {"<entry>.oracle": bool}."""
    import duckdb
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for name in os.listdir(spec["tables"]):
        if name.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (
                name[:-len(".parquet")], os.path.join(spec["tables"], name)))
    gates = {}
    for name, sql in sorted(spec["sql"].items()):
        try:
            ok = _frame(con.sql(sql)) == _frame(con.sql("SELECT * FROM read_parquet('%s')" % (
                os.path.join(spec["results"], name, "*.parquet"))))
        except duckdb.Error as e:
            print("perfbench: oracle compare of %s failed: %s" % (name, e), file=sys.stderr)
            ok = False
        gates[name + ".oracle"] = ok
    con.close()
    return gates


def log_tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def one_run(root, a, timeout_s):
    spec_path = os.path.join(root, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    t_start = time.time()
    classes, jars = build.build(root)
    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", "1" if a.trace else "0", "--work", work, "--out", out]
        if a.trace:
            args += ["--trace-out", os.path.join(base, "traces", "%s-s%d-%d.json" % (
                a.workload, a.seed, int(time.time())))]
        if a.plant_defect:
            args.append("--plant-defect")
        log = os.path.join(base, "runs", "%s-%d-%d.log" % (a.workload, a.seed, os.getpid()))
        rc = run_jvm(classes, jars, work, args, log, timeout_s)
        if rc != 0 or not os.path.exists(out):
            fail("workload JVM %s\n%s" % ("timed out" if rc is None else "exited %s" % rc,
                                          log_tail(log)))
        os.remove(log)
        with open(out) as f:
            res = json.load(f)
        attempted, failed = int(res["attempted"]), int(res["failed"])
        gates = dict(res["gates"])
        oracle = os.path.join(work, "oracle.json")
        if os.path.exists(oracle):
            # a wrong result fails every measured execution of its entry
            og = oracle_gates(oracle)
            gates.update(og)
            failed += sum(not ok for ok in og.values()) * int(res["diagnostics"]["units"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {}
    for m in names:
        # a layer the workload does not exercise did no work
        v = res["metrics"].get(m["name"], 0.0 if a.trace else None)
        if v is None or not isinstance(v, (int, float)) or not math.isfinite(v):
            fail("metric %s missing or not finite: %r" % (m["name"], v))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    diag = dict(res["diagnostics"])
    diag.update({"workload": a.workload, "seed": a.seed, "trace": int(a.trace),
                 "gates": gates, "run_s": round(time.time() - t_start, 3)})
    result = {"correct": attempted > 0 and failed == 0 and all(gates.values()),
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return diag, result


def selfcheck(root):
    """Checks the benchmark itself: the same seed generates identical
    inputs, another seed different ones, and a planted defect (one
    target row dropped before the reconciliation) is caught."""
    classes, jars = build.build(root)
    base = os.path.join(root, build.BUILD_DIR, "runs")
    digests = []
    for i, seed in enumerate((11, 11, 12)):
        work = os.path.join(base, "selfcheck-gen%d-%d" % (i, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            out = os.path.join(work, "digest.json")
            log = os.path.join(work, "jvm.log")
            rc = run_jvm(classes, jars, work, ["--workload", "gen", "--seed", str(seed),
                                               "--work", work, "--out", out], log, JVM_TIMEOUT_S)
            if rc != 0:
                fail("input generation failed\n" + log_tail(log))
            with open(out) as f:
                digests.append(json.load(f))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    same = digests[0] == digests[1]
    differ = all(digests[0][k] != digests[2][k] for k in digests[0])
    print("same seed, identical inputs: %s" % same)
    print("other seed, different inputs: %s" % differ)
    a = argparse.Namespace(workload="ingest_daily", seed=11, seconds=1.0, trace=False,
                           plant_defect=True)
    diag, res = one_run(root, a, JVM_TIMEOUT_S)
    caught = (not res["correct"]) and res["failed"] > 0 and not diag["gates"].get("report.feed103.pass", True)
    print("planted defect (one target row dropped) caught: %s  failed=%d gates=%s" % (
        caught, res["failed"], {k: v for k, v in diag["gates"].items() if not v}))
    sys.exit(0 if same and differ and caught else 1)


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-defect", action="store_true",
                   help="drop one target row before the reconciliation (ingest_daily)")
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args()
    root = os.getcwd()
    try:
        if a.selfcheck:
            selfcheck(root)
        if not a.workload:
            fail("--workload is required")
        diag, result = one_run(root, a, JVM_TIMEOUT_S)
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        fail(str(e))
    print(json.dumps({"diagnostics": diag}, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
