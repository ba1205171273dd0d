"""Detector application benchmark: build, generate, run, check, report.

Usage (from the checkout root):

  python3 appbench/run.py --workload sparse_network --seed 1 --seconds 10 \
      --trace 0 [--cores N]

Builds the program and the harness offline (appbench/build.py), generates
the workload's corpus from the seed (appbench/gen.py), runs the JVM harness
(appbench/harness/AppBench.scala) on `local[N]` with N = min(2, CPUs),
checks every output against the generator's expectation (appbench/check.py)
and prints one JSON object as the last stdout line: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Scratch files live
under .bench_build/appbench/work and are removed at the end.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def log(msg):
    print(f"appbench: {msg}", file=sys.stderr, flush=True)


def read_sink(path):
    import pyarrow.parquet as pq
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)):
        return [], 0
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    t = pq.read_table(path, columns=["uuid", "msg"])
    return list(zip(t.column("uuid").to_pylist(),
                    t.column("msg").to_pylist())), len(files)


def read_tsv(path, dag=False):
    rows = []
    with open(path) as f:
        for line in f:
            tok = line.rstrip("\n").split("\t")
            if dag:
                rows.append((int(tok[0]), int(tok[1]), int(tok[2]),
                             int(tok[3]), tok[4] == "true"))
            else:
                rows.append((int(tok[0]), tok[1]))
    return rows


def tail(samples):
    """Highest percentile with ten samples beyond it, and its value; None
    with ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None
    return 100 * (n - 10) // n, sorted(samples)[n - 11]


def run_jvm(classes, work, args, cores, budget_s):
    jars = build.spark_jars(os.getcwd())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness",
                                                         "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "appbench.AppBench", "--work", work, "--seconds", str(args.seconds),
            "--cores", str(cores), "--trace", str(args.trace)]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        t0 = time.time()
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness did not finish within {budget_s:.0f} s")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness exited with {proc.returncode}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return t0, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] cores (default min(2, CPUs))")
    args = ap.parse_args()
    root = os.getcwd()
    cores = args.cores or min(2, len(os.sched_getaffinity(0)))

    t_build = time.time()
    classes = build.build(root)
    build_s = time.time() - t_build

    work = os.path.join(build.build_dir(root), "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_gen = time.time()
        gen.generate(args.workload, args.seed, work,
                     gen.rounds_for(args.seconds))
        log(f"generated in {time.time() - t_gen:.1f} s")
        with open(os.path.join(work, "expect.json")) as f:
            expect = json.load(f)
        budget = RUN_LIMIT_S - (time.time() - T_START - build_s)
        t_jvm, res = run_jvm(classes, work, args, cores, budget)
        log(f"harness ran {time.time() - t_jvm:.1f} s")
        result = evaluate(args, expect, res, t_jvm, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def evaluate(args, expect, res, t_jvm, work):
    rounds = res["rounds"]
    ops = check.delivered_ops(expect, rounds)
    sink = os.path.join(work, "q", "p5_run" if args.trace else "timed", "out")
    mqtt, mqtt_files = read_sink(os.path.join(sink, "mqtt"))
    ascii_rows, ascii_files = read_sink(os.path.join(sink, "ascii"))
    mqtt, ascii_rows = check.drop_sentinel(expect, mqtt, ascii_rows)
    failed, errors = check.check_stream(ops, mqtt, ascii_rows)
    errors += check.check_invariants(mqtt, ascii_rows)
    errors += check.check_dag(
        check.delivered_ops(expect, gen.DAG_ROUNDS),
        read_tsv(os.path.join(work, "detector_dag.tsv"), dag=True),
        read_tsv(os.path.join(work, "detector_dag_mqtt.tsv")),
        read_tsv(os.path.join(work, "detector_dag_ascii.tsv")))
    if res["cluster.late_rows"] != 0:
        errors.append(f"{res['cluster.late_rows']} rows dropped as late under "
                      "in-order delivery")
    ramp = 0 if args.trace else gen.RAMP_ROUNDS
    want = check.expected_counts(expect, ramp + 1, rounds)
    if args.trace:
        for stage in ("source", "parse", "gate"):
            got = res.get(f"p4_cluster.rows.{stage}")
            if got != want[stage]:
                errors.append(f"{stage} rows {got} != expected {want[stage]}")
    for e in errors:
        log("CHECK FAILED: " + e)

    timed_lines = want["source"]
    ended = "replay" if args.trace else \
        "input" if rounds == expect["rounds"] else "time"
    steps_ms = [s / 1e6 for s in res.get("steps_ns", [])]
    t = tail(steps_ms)
    print(f"appbench: workload={args.workload} seed={args.seed} "
          f"local[{res['cores']}] shuffle.partitions={res['shuffle_partitions']} "
          f"rounds={rounds} steps={len(steps_ms)} "
          f"steps_ms={[round(x) for x in steps_ms]} "
          f"batch_tail={'n/a' if t is None else f'p{t[0]}={t[1]:.3f}ms'} "
          f"window_ended_by={ended} ops={len(ops)} failed={len(failed)}")

    def m(v, unit):
        return {"value": v, "unit": unit}

    if not args.trace:
        metrics = {
            "setup_s": m(res["setup_done_ms"] / 1000.0 - t_jvm, "s"),
            "events_per_s": m(timed_lines / (res["wall_ns"] / 1e9), "events/s"),
            "batch_p50_ms": m(statistics.median(steps_ms), "ms"),
            "dag_s": m(res["dag_ns"] / 1e9, "s"),
        }
    else:
        def ms(key):
            return res[key] / 1e6
        p4 = "p4_cluster."
        metrics = {
            "parse.rows_in": m(res[p4 + "rows.source"], "count"),
            "parse.rows_out": m(res[p4 + "rows.parse"], "count"),
            "parse.self_ms": m(ms("p2_parse_ns") - ms("p1_source_ns"), "ms"),
            "gate.rows_out": m(res[p4 + "rows.gate"], "count"),
            "gate.self_ms": m(ms("p3_gate_ns") - ms("p2_parse_ns"), "ms"),
            "gate.update_ms": m(res["gate.update_ms"], "ms"),
            "gate.commit_ms": m(res["gate.commit_ms"], "ms"),
            "gate.state_rows": m(res["gate.state_rows"], "count"),
            "gate.state_bytes": m(res["gate.state_bytes"], "bytes"),
            "cluster.clusters_out": m(res[p4 + "rows.cluster"], "count"),
            "cluster.self_ms": m(ms("p4_cluster_ns") - ms("p3_gate_ns"), "ms"),
            "cluster.update_ms": m(res["cluster.update_ms"], "ms"),
            "cluster.commit_ms": m(res["cluster.commit_ms"], "ms"),
            "cluster.state_rows_peak": m(res["cluster.state_rows_peak"], "count"),
            "cluster.state_bytes_peak": m(res["cluster.state_bytes_peak"],
                                          "bytes"),
            "cluster.late_rows": m(res["cluster.late_rows"], "count"),
            "sink.mqtt_rows": m(len(mqtt), "count"),
            "sink.ascii_rows": m(len(ascii_rows), "count"),
            "sink.files": m(mqtt_files + ascii_files, "count"),
            "sink.self_ms": m(ms("p5_run_ns") - ms("p4_plain_ns"), "ms"),
            "microbatch.batches": m(res["microbatch.batches"], "count"),
            "microbatch.nodata_batches": m(res["microbatch.nodata_batches"],
                                           "count"),
            "microbatch.planning_ms": m(res["microbatch.planning_ms"], "ms"),
            "microbatch.offsets_ms": m(res["microbatch.offsets_ms"], "ms"),
            "microbatch.log_ms": m(res["microbatch.log_ms"], "ms"),
            "microbatch.exec_ms": m(res["microbatch.exec_ms"], "ms"),
            "dag.jobs": m(res["dag.jobs"], "count"),
            "dag.tasks": m(res["dag.tasks"], "count"),
            "dag.executor_run_ms": m(res["dag.executor_run_ms"], "ms"),
            "dag.shuffle_bytes": m(res["dag.shuffle_bytes"], "bytes"),
            "jvm.gc_ms": m(res["gc_ms"], "ms"),
            "trace.overhead_pct": m(100.0 * (res["p4_cluster_ns"] /
                                             res["p4_plain_ns"] - 1), "%"),
        }
        print(f"appbench: traced replays of {rounds} rounds (ms): " + " ".join(
            f"{k[:-3]}={ms(k):.1f}" for k in sorted(res) if k.endswith("_ns")
            and k.startswith("p")))
    return {"correct": not errors, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, gen.GenError, RuntimeError, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)
