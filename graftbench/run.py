#!/usr/bin/env python3
"""Seeded end-to-end benchmark for graft.

    python3 graftbench/run.py --workload corpus_curate --seed 1 --seconds 30 --trace 0

Builds graft and the benchmark from source (cached; see build.py), runs one
workload in one JVM at local[nproc], checks every output against a reference
computed outside the timed phase, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones; a traced run also leaves its span dump and per-layer table in
``<build dir>/trace/<workload>-<seed>.json``. A run measures one pass of a
fixed amount of work, sized for ``--seconds 30``; ``--seconds`` does not
change it. ``--record FILE`` appends the result line (with workload and
seed) to FILE, the input of layerdiff.py.
Run from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("corpus_curate", "stream_dml")
DEADLINE_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    classes = build.build()
    started = time.time()  # the first run in a checkout also compiles

    work = os.path.join(build.target_dir(), "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.jvm_opens()
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(a.trace), "--dir", work])
    log_path = os.path.join(build.target_dir(), "runs", f"{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = p.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError(f"workload did not finish in {DEADLINE_S} s (log: {log_path})")
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or len(lines) < 2:
            raise RuntimeError(f"benchmark JVM exited {p.returncode} (log: {log_path})")
        info = json.loads(lines[-2])
        res = json.loads(lines[-1])
        values = res["metrics"]
        metrics = {}
        for m in declared:
            v = values.get(m["name"])
            if v is None:
                raise RuntimeError(f"metric {m['name']} was not measured (log: {log_path})")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if a.trace:
            trace = os.path.join(build.target_dir(), "trace")
            os.makedirs(trace, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(trace, f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    final = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
             "failed": int(res["failed"]), "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(dict(final, workload=a.workload, seed=a.seed, trace=a.trace)) + "\n")
    print(json.dumps(info))
    print(json.dumps(final))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - any failure means no result
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(1)
