"""Turn one child run's raw observations into the benchmark's metrics.

End-to-end metrics come from the timed passes only (pass 0 is the
warm-up). Per-layer metrics need the traced run's spans and Spark event
log; each is a per-pass total, reported as the median over timed
passes, on the same footing as ``pass_s``.
"""

from __future__ import annotations

import math
import os
from statistics import median

from harness import COMMIT, READ
from spans import (
    CLOCK_SLACK_S,
    attribute_jobs,
    parse_event_log,
    self_times,
    spark_counters,
    subtree_jobs,
)

# gated in BENCHMARK.json
END_TO_END_UNITS = {
    "setup_s": "s",
    "bytes_stored_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def timing(values: list[float]) -> dict:
    """Median, mean, and the highest whole percentile that leaves at
    least ten samples beyond it (None when the sample is too small),
    with the sample count."""
    n = len(values)
    level = math.floor(100 * (1 - 10 / n)) / 100
    tail = None
    if level > 0.5:
        xs = sorted(values)
        tail = xs[math.ceil(level * n) - 1]
    return {
        "p50": median(values),
        "mean": sum(values) / n,
        "tail": tail,
        "tail_level": level if tail is not None else None,
        "n": n,
    }


def end_to_end(raw: dict) -> tuple[dict, dict]:
    """(metrics, detail): the gated metrics and what backs them."""
    timed = [o for o in raw["ops"] if o["pass"] >= 1]
    per_pass: dict[int, float] = {}
    for o in timed:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["latency_s"]

    def lat(kind=None):
        return [o["latency_s"] for o in timed if kind in (None, o["kind"])]

    ops, commits, reads = timing(lat()), timing(lat(COMMIT)), timing(lat(READ))
    facts = [f for f in raw["facts"] if f["pass"] >= 1]
    metrics = {
        "setup_s": median(raw["setups"]),
        "bytes_stored_per_input_byte": median(
            [f["stored_bytes"] / f["user_bytes"] for f in facts]
        ),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    failed = [o for o in raw["ops"] if not o["ok"]]
    # printed, not gated: on a shared 4-CPU host the same pass ran up to
    # 1.8 times as long in the host's slow periods, which last minutes,
    # so the spread of these times over ten runs exceeds any allowed bound
    ungated = {
        "pass_s": median(list(per_pass.values())),
        "op_p50_s": ops["p50"],
        "op_tail_s": ops["tail"],
        "commit_p50_s": commits["p50"],
        "commit_mean_s": commits["mean"],
        "commit_tail_s": commits["tail"],
        "read_p50_s": reads["p50"],
        "read_mean_s": reads["mean"],
        "failed_op_ratio": len(failed) / len(raw["ops"]),
    }
    detail = {
        "ungated": {
            k: {"value": v, "unit": "ratio" if k == "failed_op_ratio" else "s"}
            for k, v in ungated.items()
        },
        "timed_passes": len(per_pass),
        "measured_s": raw["measured_s"],
        "ops": ops,
        "commits": commits,
        "reads": reads,
        "setup_samples_s": raw["setups"],
        "cold": raw["cold"],
        "attempted": len(raw["ops"]),
        "failed": len(failed),
        "failures": [
            {"pass": o["pass"], "op": o["name"], "error": o["error"]} for o in failed[:5]
        ],
        "per_op_p50_s": {
            name: median([o["latency_s"] for o in timed if o["name"] == name])
            for name in dict.fromkeys(o["name"] for o in timed)
        },
    }
    return metrics, detail


# --------------------------------------------------------------- per layer

FAMILIES = ("dedup", "similarity", "text", "graph")
# (layer, phase) of a ctx.call span -> the metric prefix it adds to
SPAN_METRICS = {
    ("catalog", "read_table"): "catalog.read_table",
    ("plans", "construct"): "plans.construct",
    ("queries", "construct"): "queries.construct",
    ("queries", "exec"): "queries.exec",
    **{
        (f"operators.{fam}", ph): f"operators.{fam}.{ph}"
        for fam in FAMILIES
        for ph in ("construct", "exec")
    },
    ("sources", "write"): "sources.write",
    ("delta_io", "write"): "delta_io.write",
    ("delta_io", "read"): "delta_io.read",
    ("delta_io", "optimize"): "delta_io.optimize",
    ("iceberg_io", "write"): "iceberg_io.write",
    ("iceberg_io", "read"): "iceberg_io.read",
    ("iceberg_io", "rewrite"): "iceberg_io.rewrite",
    ("merge", "merge_into"): "merge.merge_into",
    ("merge", "update_where"): "merge.update_where",
    ("streaming", "drain"): "streaming.drain",
}
# spans that each commit one table version, per table layer
COMMITS = {
    "delta_io": ("delta_io.write", "delta_io.optimize"),
    "iceberg_io": ("iceberg_io.write", "iceberg_io.rewrite"),
}
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "job_union_s",
    "driver_gap_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)

PER_LAYER_UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "session.first_pass_s": "s",
    "catalog.read_table_s": "s",
    "catalog.input_bytes": "bytes",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.exec_s": "s",
    **{
        f"operators.{fam}.{m}": unit
        for fam in FAMILIES
        for m, unit in (("construct_s", "s"), ("construct_jobs", "count"), ("exec_s", "s"))
    },
    "sources.write_s": "s",
    "delta_io.write_s": "s",
    "delta_io.read_s": "s",
    "delta_io.optimize_s": "s",
    "delta_io.jobs_per_commit": "count",
    "delta_io.log_files": "count",
    "delta_io.bytes_written": "bytes",
    "iceberg_io.write_s": "s",
    "iceberg_io.read_s": "s",
    "iceberg_io.rewrite_s": "s",
    "iceberg_io.jobs_per_commit": "count",
    "iceberg_io.metadata_bytes": "bytes",
    "merge.merge_into_s": "s",
    "merge.update_where_s": "s",
    "merge.jobs_per_statement": "count",
    "merge.acted_rows": "count",
    "merge.rows_rewritten_per_acted_row": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    **{
        f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count")
        for k in SPARK_COUNTERS
    },
    "spark.union_over_wall_ops": "count",
}


def event_log_path(work: str, app_id: str) -> str:
    return os.path.join(work, "eventlog", app_id)


def _pass_layers(ops: list[dict], subtree: dict, descendants) -> dict:
    """Per-layer totals of one pass from its op spans."""
    secs: dict[str, float] = {}
    jobs: dict[str, int] = {}
    calls: dict[str, int] = {}
    for op in ops:
        for s in descendants(op["id"]):
            key = SPAN_METRICS.get((s["layer"], s.get("phase")))
            if key is not None:
                secs[key] = secs.get(key, 0.0) + (s["t1"] - s["t0"])
                jobs[key] = jobs.get(key, 0) + s["spark"]["jobs"]
                calls[key] = calls.get(key, 0) + 1
    out: dict[str, float] = {f"{k}_s": v for k, v in secs.items()}
    out.update({f"{k}_jobs": v for k, v in jobs.items()})

    def per_call(keys) -> float:
        n = sum(calls.get(k, 0) for k in keys)
        return sum(jobs.get(k, 0) for k in keys) / n if n else 0.0

    for layer, keys in COMMITS.items():
        out[f"{layer}.jobs_per_commit"] = per_call(keys)
    out["merge.jobs_per_statement"] = per_call(("merge.merge_into", "merge.update_where"))
    # spark counters over the jobs the pass's ops caused (not the
    # harness's result checks between ops)
    op_jobs = [j for op in ops for j in subtree[op["id"]]]
    sc = spark_counters(op_jobs, sum(op["t1"] - op["t0"] for op in ops))
    out.update({f"spark.{k}": sc[k] for k in SPARK_COUNTERS})
    out["catalog.input_bytes"] = sc["input_bytes"]
    return out


def per_layer(raw: dict, log_path: str) -> tuple[dict, list[dict]]:
    """(metrics, spans annotated with their spark counters and self
    time)."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    subtree = subtree_jobs(spans, attribute_jobs(spans, parse_event_log(log_path)))
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def descendants(sid: int):
        for c in children.get(sid, []):
            yield by_id[c]
            yield from descendants(c)

    flagged = 0
    selfs = self_times(spans)
    for s in spans:
        wall = s["t1"] - s["t0"]
        s["spark"] = spark_counters(subtree[s["id"]], wall)
        s["self_s"] = selfs[s["id"]]
        if s["layer"] == "op" and s["spark"]["job_union_s"] > wall + CLOCK_SLACK_S:
            s["union_exceeds_wall"] = True
            flagged += 1

    passes = [by_id[p["span"]] for p in raw["passes"]]
    per_pass = [
        _pass_layers(
            [c for c in descendants(p["id"]) if c["layer"] == "op"], subtree, descendants
        )
        for p in passes
        if p["pass_idx"] >= 1
    ]
    per_pass += [f for f in raw["facts"] if f["pass"] >= 1]
    metrics = {}
    for key in PER_LAYER_UNITS:
        vals = [pp[key] for pp in per_pass if key in pp]
        metrics[key] = median(vals) if vals else 0.0
    metrics["session.get_spark_s"] = raw["cold"]["get_spark_s"]
    metrics["session.warm_s"] = raw["cold"]["warm_s"]
    metrics["session.first_pass_s"] = passes[0]["t1"] - passes[0]["t0"]
    metrics["spark.union_over_wall_ops"] = flagged
    return metrics, spans
