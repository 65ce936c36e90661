"""Benchmark entry point: one workload run from a seed.

    python3 perfbench/run.py --workload lakehouse_dml --seed 0 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed and
their expected results computed with DuckDB before anything is timed;
the workload then runs in a child interpreter with its own JVM
(``local[1]``), one closed-loop client. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (which also
writes a span file under ``.perfbench_spans/``). Everything the run
writes under ``.perfbench_work/`` is deleted when it ends.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "census_asc5_data_pipeline_spark"
DEADLINE_S = 170.0  # the whole run, inputs and teardown included
DRIVER_MEM = "2g"
# Spark task threads (local[1]). The inputs are a few hundred KB, so a
# second task thread adds no speed; it only competes with the JVM's
# compiler and GC threads, the driver interpreter and the Python workers
# for the host's few CPUs. On a 4-CPU host local[1] ran both workloads
# at least as fast as local[2] and local[4].
TASK_THREADS = 1


def _child_env(work: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(TASK_THREADS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's, the JVMs' and Python's scratch files inside the run's
    # directory (UsePerfData would write under /tmp/hsperfdata_<user>)
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        "spark.ui.showConsoleProgress=false",
        # heap committed up front: peak RSS and GC pacing no longer depend
        # on when the collector decides to grow the heap
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    )
    return env


def _group_alive(pgid: int) -> bool:
    """True while any non-zombie process is left in the group."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait ``grace_s`` for the child's processes (its JVM, Python
    workers) to exit, then terminate what is left and wait for it."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + wait_s
        while _group_alive(pgid):
            if time.monotonic() >= end:
                break
            time.sleep(0.05)
        else:
            return


def run(args: argparse.Namespace, work: str, started: float) -> dict:
    import report
    import workloads
    from spans import write_spans

    wl = workloads.WORKLOADS[args.workload]
    t_prep = time.monotonic()
    spec = wl.prepare(args.seed, work)
    t_child = time.monotonic()
    spec.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
    )
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "raw.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), spec_path, out_path],
        env=_child_env(work, bool(args.trace)),
        stdout=sys.stderr,
        stderr=sys.stderr,
        start_new_session=True,
    )
    code = None
    try:
        code = child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        pass
    finally:
        _stop_group(child.pid, grace_s=10.0 if code is not None else 0.0)
        child.wait()
    t_done = time.monotonic()
    if code != 0:
        raise RuntimeError(f"workload child exited with {code}")
    with open(out_path) as fh:
        raw = json.load(fh)
    metrics, detail = report.end_to_end(raw)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        params=spec["params"],
        input=spec["input"],
    )
    detail["phases_s"] = {
        "prepare": t_child - t_prep,
        "child": t_done - t_child,
        **raw["phases_s"],
    }
    if args.trace:
        layers, spans = report.per_layer(
            raw, report.event_log_path(work, raw["app_id"])
        )
        span_file = os.path.join(
            ROOT, ".perfbench_spans", f"{args.workload}-seed{args.seed}.jsonl"
        )
        write_spans(span_file, spans)
        detail["span_file"] = os.path.relpath(span_file, ROOT)
        detail["end_to_end"] = metrics
        units, values = report.PER_LAYER_UNITS, layers
    else:
        units, values = report.END_TO_END_UNITS, metrics
    return {
        "detail": detail,
        "result": {
            "correct": detail["failed"] == 0,
            "attempted": detail["attempted"],
            "failed": detail["failed"],
            "metrics": {
                k: {"value": values[k], "unit": unit} for k, unit in units.items()
            },
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    # a terminated run still stops its child and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run(args, work, started)
    except Exception:  # noqa: BLE001 — reported, no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
