"""Converter benchmark: one workload, one seed, one JSON line of metrics.

    python3 convbench/run.py --workload dump_ingest --seed 1 --seconds 12 --trace 0

Builds the program from source (`build.py`), generates the seed's inputs
(`gen.py`, cached), drives the workload in one JVM through the program's
public functions (`scala/Main.scala`), checks every output independently
(`check.py`) and prints, as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones.  All files a run writes stay under
`.bench_build/` and the run's own directory there is removed at the end.
The exit code is non-zero if a check fails or the program cannot be run.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dump_ingest", "corpus_dedup")

# Warm-up operations on the full input before the timed ones. The JIT keeps
# speeding an operation up for about five of them on a 4-core host; timing
# from the first one put the median on that slope, where it moved by 15-20%
# from run to run.
WARM_OPS = 5

# Nominal seconds of one timed operation on a 4-core host.  The operation
# count of a run is a fixed function of --seconds, so every run of a given
# length attempts the same operations, whatever the host's speed.
NOMINAL_OP_S = 3.0

# Read-back queries: the same SQL runs in Spark on the written ORC and in
# DuckDB on the source data.
QUERIES = [
    {"name": "pricing_summary", "sql":
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS price, "
        "sum(CAST(l_discount AS DECIMAL(18,4))) AS disc, "
        "sum(CAST(l_extendedprice * (1 - l_tax) AS DECIMAL(18,4))) AS net "
        "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"},
    {"name": "priority_revenue", "sql":
        "SELECT o_orderpriority, count(*) AS n, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev, count(o_clerk) AS clerks "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1997-01-01' "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"},
]
DEDUP = {"k": 32, "bands": 8, "shingle": gen.SHINGLE, "threshold": 0.7}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def input_for(workload, d):
    """Plan entry of a generated input set."""
    with open(os.path.join(d, "DONE")) as f:
        m = dict(json.load(f)["main"])
    if workload == "dump_ingest":
        m["path"] = os.path.join(d, "bench.sql")
        m["truth"] = os.path.join(d, "bench_truth")
        m["input_bytes"] = os.path.getsize(m["path"])
    else:
        m["path"] = os.path.join(d, "bench.parquet")
        with open(os.path.join(d, "bench_planted.json")) as f:
            m["planted"] = json.load(f)
        m["near_j"] = m["planted"]["near_j"]
    return m


def run_jvm(classes, plan_path, run_dir, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, GRAFT_LOG_FILE=os.path.join(run_dir, "data_to_orc.log"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"), TZ="UTC")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}", *opens,
           "-cp", f"{classes}{os.pathsep}{jars}", "convbench.Main", plan_path]
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=run_dir, env=env)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.err")) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(f"benchmark JVM failed ({code}):\n{tail}\n")
        return None
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def check_ops(workload, ops, main, full, chk):
    """Check every operation's outputs; `full` operations (those of a traced
    run) also read back, publish and change. Returns (attempted, failed)."""
    attempted = failed = 0
    for i, op in enumerate(ops):
        what = f"{workload} op{i}"
        if workload == "dump_ingest":
            truth = lambda t: os.path.join(main["truth"], f"{t}.parquet")  # noqa: E731
            attempted += 1
            failed += chk.conversion(op, truth, sorted(main["rows"]), what)
            if full:
                # read-back queries, publish, script steps
                attempted += len(QUERIES) + 1 + len(main["script"])
                failed += chk.read_back(op, QUERIES, what)
                failed += chk.churn(op, truth("orders"), main["script"], what)
        else:
            # dedup pipeline and survivors' write, then the read-back
            attempted += 2 + full
            failed += chk.dedup(op, main["path"], main["planted"], DEDUP["threshold"],
                                DEDUP["shingle"], what)
    return attempted, failed


def by_kind(ops, key):
    """Mean over read (or commit) kinds of each kind's median seconds. An
    operation mixes kinds of very different cost; a figure per kind,
    averaged over the kinds, does not jump from one kind to another between
    runs the way a median over all of them would."""
    kinds = {}
    for op in ops:
        for kind, s in op[key]:
            kinds.setdefault(kind, []).append(s)
    return statistics.mean(statistics.median(v) for v in kinds.values())


def end_to_end(setup_s, ops):
    """End-to-end metrics: the run's one cold set-up, then throughput and
    output size as medians over its operations."""
    med = statistics.median
    return {
        "setup_s": setup_s,
        "rows_per_s": ops[0]["source_rows"] / med(op["seconds"] for op in ops),
        "out_bytes_per_row": med(op["out_bytes"] / max(1, op["out_rows"]) for op in ops),
    }


def main():
    ap = argparse.ArgumentParser(description="converter benchmark, one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = load_spec()

    t0 = time.time()
    classes = build.build()
    t_build = time.time()
    d = gen.generate(a.workload, a.seed)
    t_gen = time.time()
    main_input = input_for(a.workload, d)
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # a traced run makes every operation twice (traced and untraced), and
        # each with its reads and commits, so it keeps to two of each and a
        # shorter warm-up to end within the run time limit
        n_ops = 2 if a.trace else max(2, round(a.seconds / NOMINAL_OP_S))
        jvm_plan = {
            "workload": a.workload, "trace": bool(a.trace), "ops": n_ops,
            "warmOps": 2 if a.trace else WARM_OPS, "runDir": run_dir, "cores": cores(),
            "main": {k: v for k, v in main_input.items() if k != "planted"},
            "queries": QUERIES, "dedup": DEDUP}
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(jvm_plan, f)
        res = run_jvm(classes, plan_path, run_dir, timeout=160)
        t_jvm = time.time()
        if res is None:
            attempted = n_ops * (2 if a.trace else 1)
            print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted,
                              "metrics": {}}))
            return 1
        chk = check.Checker(os.path.join(run_dir, "duckdb-tmp"))
        attempted, failed = check_ops(a.workload, res["ops"], main_input, a.trace, chk)
        if a.trace:
            at, fl = check_ops(a.workload, res["traced_ops"], main_input, True, chk)
            attempted, failed = attempted + at, failed + fl
        for msg in chk.failures:
            sys.stderr.write(f"check failed: {msg}\n")
        sys.stderr.write(f"build {t_build - t0:.1f} s, inputs {t_gen - t_build:.1f} s, "
                         f"jvm {t_jvm - t_gen:.1f} s, checks {time.time() - t_jvm:.1f} s\n")
        if a.trace:
            layers = dict(res["layers"])
            untraced, traced = res["ops"], res["traced_ops"]
            layers["read_s"] = by_kind(untraced, "read_s")
            layers["commit_s"] = by_kind(untraced, "commit_s")
            # how far tracing moved the figures (traced and untraced
            # operations alternate within this run)
            layers["trace.rows_per_s_pct"] = 100.0 * (
                statistics.median(op["seconds"] for op in untraced)
                / statistics.median(op["seconds"] for op in traced) - 1.0)
            for k in ("read_s", "commit_s"):
                layers[f"trace.{k}_pct"] = 100.0 * (by_kind(traced, k) / layers[k] - 1.0)
            names = [m["name"] for m in spec["per_layer"]]
            values = {n: layers.get(n, 0.0) for n in names}
        else:
            e2e = end_to_end(res["setup_s"], res["ops"])
            names = [m["name"] for m in spec["end_to_end"]]
            values = {n: e2e[n] for n in names}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
