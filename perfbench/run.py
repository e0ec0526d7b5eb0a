"""Benchmark runner for the blueetl-on-Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program from source when its sources changed (perfbench/build.py),
then runs one workload in a fresh JVM launched with exactly the `javaOptions`
of build.sbt (add-opens, UI off, UTC, the sort shuffle writer, `-Xmx` from
SPARK_DRIVER_MEM), at `local[<cores>]` with one shuffle partition per core.

Workloads (sizes and reasons in perfbench/workloads.json):
  campaign_cold   first analysis of a fresh seeded campaign: extraction,
                  features and cache writes from an empty cache directory
  campaign_warm   re-opening that campaign's cache, in full and narrowed
                  to half the simulations: cache reads only
  operator_suite  training-data operators over the fixed sf tables, with
                  their memo state cleared and reused

The last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The full record of the run (sizes, fingerprint, every iteration,
every check) is written to .bench_work/records/, and a traced run also
writes its spans there. --self-test shows every correctness check failing
on a perturbed output and exits non-zero if one does not.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
# the fixed sf tables (TESTDATA.md), read-only
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
WORKLOADS = ("campaign", "operator_suite")
JVM_TIMEOUT_S = 160


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def run_jvm(stamp, args, work, deadline):
    """Run perfbench.Main; every process it starts is stopped before return."""
    opts = list(stamp["java_options"])
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        opts = [o for o in opts if not o.startswith("-Xmx")] + [f"-Xmx{mem}"]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # keep the JVM's temporary files and Spark's block files in the checkout
    cmd = ["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(stamp["classpath"]),
                             "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM timed out; log: {log.name}", 3)
    finally:
        log.close()
    if code != 0:
        with open(log.name) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {code}; log: {log.name}", 3)


def oracle(sf_dir, verify_dir, queries):
    """Run the DuckDB oracle over Verify output; returns (passed, failed)."""
    env = dict(os.environ, GRAFT_CHECK_ONLY=",".join(queries))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir, verify_dir],
                       cwd=ROOT, env=env, capture_output=True, text=True, timeout=120)
    m = re.search(r"== (\d+) pass, (\d+) fail ==", p.stdout)
    if not m:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        return 0, 1
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            sys.stderr.write(f"perfbench: oracle {line}\n")
    return int(m.group(1)), int(m.group(2))


def cpu_ticks():
    """Host CPU ticks from /proc/stat (user .. steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def src_main_lines():
    n = 0
    for d, _, files in os.walk(os.path.join(ROOT, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += fh.read().count(b"\n")
    return n


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")
    try:
        stamp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    name = "self_test" if a.self_test else a.workload
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{name}-seed{a.seed}-trace{a.trace}.json")
    args = ["--work", work, "--record", record, "--sf-dir", SF_DIR]
    if a.self_test:
        args += ["--self-test", "1"]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--commit", commit(), "--src-lines", str(src_main_lines())]
    # a build may use the first run's longer allowance; the run itself
    # keeps to its own budget
    ticks0 = cpu_ticks()
    run_jvm(stamp, args, work, time.time() + JVM_TIMEOUT_S)
    ticks1 = cpu_ticks()
    with open(record) as f:
        rec = json.load(f)
    if ticks0 and ticks1 and "fingerprint" in rec:
        # the share of CPU time the hypervisor gave to others during the
        # run: a high value flags a contended host, as host.load1 does
        d = [b - a for a, b in zip(ticks0, ticks1)]
        rec["fingerprint"]["host.steal_ratio"] = d[7] / max(1, sum(d))
        with open(record, "w") as f:
            json.dump(rec, f, indent=1)

    if a.self_test:
        ok_dir, bad_dir = rec["oracle_dirs"]
        q = [rec["oracle_query"]]
        clean = oracle(SF_DIR, ok_dir, q)
        bad = oracle(SF_DIR, bad_dir, q)
        rec["self_test"].append({"check": "duckdb_oracle", "perturbation": "one result row dropped",
                                 "passes_clean": clean[1] == 0 and clean[0] > 0, "trips": bad[1] > 0})
        rec["ok"] = all(c["passes_clean"] and c["trips"] for c in rec["self_test"])
        with open(record, "w") as f:
            json.dump(rec, f, indent=1)
        for c in rec["self_test"]:
            print(f"{c['check']:24s} {c['perturbation']:36s} clean={'pass' if c['passes_clean'] else 'FAIL'}"
                  f" perturbed={'fails' if c['trips'] else 'PASSES'}")
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"self_test_ok": rec["ok"], "cases": len(rec["self_test"])}))
        sys.exit(0 if rec["ok"] else 1)

    if a.workload == "operator_suite":
        passed, failed = oracle(SF_DIR, os.path.join(work, "verify"), rec["sizes"]["queries"])
        rec["checks"].append({"name": "duckdb_oracle", "failure": None if failed == 0 else
                              f"{failed} of {passed + failed} queries differ from the oracle"})
        rec["attempted"] += 1
        rec["failed"] += 1 if failed else 0
        rec["correct"] = rec["failed"] == 0
        with open(record, "w") as f:
            json.dump(rec, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    metrics = rec["per_layer"] if a.trace else rec["end_to_end"]
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
