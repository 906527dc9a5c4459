"""Benchmark entry point.

    python3 perfbench/run.py --workload kinerja_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` into a scratch directory inside the checkout, launches one
fresh Python + JVM process (``worker.py``) with pinned settings in a
session of its own, waits for it and then for every process left in
that session, and prints two lines: a
report (launch settings, input sizes, per-pass and per-op detail) and,
last, the result ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

PACKAGE = "sql_interface_to_xml_database_for_spatial_operations_spark"
WORK = ".perfbench_work"  # scratch root inside the checkout (git-ignored)
TIMEOUT_S = 170


def launch_env(root: str, work: str) -> dict[str, str]:
    """The pinned settings of every run; all of them go into the report."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        {
            # nproc without OMP_NUM_THREADS, which nproc would honour
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": root,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (in clock ticks)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The worker starts a session; the
    JVM and the Python daemons it forks stay in it (the daemons take
    process groups of their own), also after the worker has exited."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, _ppid, _pgrp, session = f.read().rsplit(")", 1)[1].split()[:4]
        except (OSError, ValueError):
            continue  # exited meanwhile
        if int(session) == sid and state != "Z":
            pids.append(int(name))
    return pids


def stop_session(sid: int) -> None:
    """Terminate every process left in the worker's session and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while session_pids(sid):
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        else:
            return
    raise RuntimeError(f"processes of session {sid} did not exit")


def validate(metrics: dict, spec: list[dict]) -> dict:
    """Every metric of ``spec`` with its unit, as a number; nothing else."""
    out = {}
    for m in spec:
        v = metrics.get(m["name"])
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise ValueError(f"metric {m['name']} missing or not a number: {v!r}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, PACKAGE, "engine.py")):
        print(f"no {PACKAGE} package under {root}: run from the root of a checkout", file=sys.stderr)
        return 1

    work = os.path.join(root, WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        load_start = os.getloadavg()
        cpu_start = cpu_times()
        env = launch_env(root, work)
        # inputs are generated before the worker starts: not part of set-up
        sizes = {}
        if a.workload == "kinerja_docs":
            world = gen.kinerja_world(a.seed)
            with open(os.path.join(inputs, "kinerja.json"), "w") as f:
                json.dump(gen.write_kinerja(world, inputs), f)
            sizes = {"points": len(world.points), "districts": len(world.districts), "pairs": len(world.points) * len(world.districts)}
        else:
            gen.write_pipeline(a.seed, os.path.join(inputs, "pipeline"))
            sizes = {"features_per_op": gen.INGEST_FEATURES, "pipeline_vectors": gen.PIPELINE_VECTORS, "pipeline_dim": gen.PIPELINE_DIM}
        result_path = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--result", result_path,
        ]  # fmt: skip
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc.pid)
        cpu = [b - a for a, b in zip(cpu_start, cpu_times())]
        if rc != 0:
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        metrics = validate(res["metrics"], bench["per_layer" if a.trace else "end_to_end"])
        report = res["report"]
        report["input_sizes"] = sizes
        report["launch"] = {
            k: env[k]
            for k in (
                "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH",
                "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "JDK_JAVA_OPTIONS",
            )
        }  # fmt: skip
        report["launch"].update({"cwd": work, "nproc": len(os.sched_getaffinity(0)), "loadavg_start": load_start})
        # CPU time the hypervisor gave to others while this run wanted it
        report["launch"]["steal_share"] = cpu[7] / max(1, sum(cpu))
        report["launch"]["busy_share"] = 1 - (cpu[3] + cpu[4]) / max(1, sum(cpu))
        report["launch"] = {k: (os.path.relpath(v, root) if isinstance(v, str) and v.startswith(root) else v) for k, v in report["launch"].items()}
        print(json.dumps({"report": report}))
        print(
            json.dumps(
                {
                    "correct": res["failed"] == 0,
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
