"""One workload run in its own interpreter and JVM: set-up, a warm-up
pass, timed passes, post-run checks. Writes raw observations (op
outcomes, spans, set-up samples, peak memory) as JSON for the parent
to turn into metrics.

Usage (from run.py): python3 perfbench/child.py <spec.json> <out.json>
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# extra set-ups after the cold one; setup_s is their median
SETUP_SAMPLES = 3


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    kb = _vm_hwm_kb(os.getpid())
    jvm = _jvm_pid(spark)
    if jvm is not None:
        kb += _vm_hwm_kb(jvm)
    return kb / 1024.0


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    t0 = time.perf_counter()
    from census_asc5_data_pipeline_spark.session import get_spark

    import workloads
    from harness import Ctx
    from spans import Recorder

    wl = workloads.WORKLOADS[spec["workload"]]
    ti = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    wl.warm(spark, spec)
    t2 = time.perf_counter()
    setups = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        a = time.perf_counter()
        spark = get_spark("perfbench")
        wl.warm(spark, spec)
        setups.append(time.perf_counter() - a)

    rec = Recorder(spark.sparkContext if spec["trace"] else None)
    ctx = Ctx(spark, rec, spec)
    passes = []

    def one_pass(idx: int) -> None:
        ctx.pass_idx = idx
        with rec.span("pass", layer="pass", pass_idx=idx) as s:
            wl.run_pass(ctx)
        passes.append({"pass": idx, "span": s["id"]})

    one_pass(0)  # warm-up: JIT, codegen and caches settle; not timed
    # closed loop over whole passes: at least one, and another only
    # while it should still end within the measuring window
    start = time.perf_counter()
    idx = 1
    while True:
        t = time.perf_counter()
        one_pass(idx)
        idx += 1
        now = time.perf_counter()
        if now - start + (now - t) > spec["seconds"]:
            break
    measured_s = time.perf_counter() - start
    ctx.pass_idx = -1  # post-run checks count as attempts, not timings
    t3 = time.perf_counter()
    wl.finish(ctx)
    t4 = time.perf_counter()
    rss = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    t5 = time.perf_counter()
    out = {
        "cold": {"import_s": ti - t0, "get_spark_s": t1 - ti, "warm_s": t2 - t1},
        "setups": setups,
        "passes": passes,
        "measured_s": measured_s,
        "phases_s": {"finish": t4 - t3, "stop": t5 - t4},
        "ops": ctx.ops,
        "facts": ctx.facts,
        "spans": rec.spans,
        "peak_rss_mb": rss,
        "app_id": app_id,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    main(sys.argv[1], sys.argv[2])
