"""The closed-loop op runner the workloads drive, and result checking.

One client runs the workload's fixed op sequence ("a pass") and sends
its next op only after the previous result has materialized. An op's
latency runs from the call into the first layer until its result is
in driver memory (or, for a write, until the call acknowledges).
Result checks happen after the op's span closes, outside its latency.
"""

from __future__ import annotations

import os
import traceback
from collections.abc import Callable
from typing import Any

# Import the package before tools.oracle_check: that module puts a
# fixed path at the head of sys.path, which must not decide where the
# package under test is imported from.
import census_asc5_data_pipeline_spark  # noqa: F401
from tools.oracle_check import arrow_rows, normalize, value_hash

from spans import Recorder

# op kinds: what the op does for the user, which picks the end-to-end
# latency metric it feeds besides op_p50_s; a CHECK only verifies
READ, COMMIT, COMPUTE, CHECK = "read", "commit", "compute", "check"


def expected_of(tbl) -> dict:
    """Expectation record of a DuckDB result fetched through Arrow, the
    materialization path tools/oracle_check.py uses."""
    names = tbl.column_names
    return {
        "cols": sorted(names),
        "rows": tbl.num_rows,
        "hash": value_hash(normalize(arrow_rows(tbl), names)),
    }


def matches(expected: dict, cols: list[str], rows: list[tuple]) -> bool:
    return (
        sorted(cols) == expected["cols"]
        and len(rows) == expected["rows"]
        and value_hash(normalize(rows, cols)) == expected["hash"]
    )


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


class Ctx:
    """State of one run: the session, the span recorder and every op
    outcome."""

    def __init__(self, spark, rec: Recorder, spec: dict):
        self.spark = spark
        self.rec = rec
        self.spec = spec
        self.pass_idx = -1
        self.ops: list[dict] = []
        self.facts: list[dict] = []  # per-pass layer facts (bytes, counts)
        self.state: dict = {}  # what a workload's passes leave for finish()

    def path(self, *parts: str) -> str:
        return os.path.join(self.spec["work"], *parts)

    def call(self, layer: str, phase: str, fn: Callable[[], Any]) -> Any:
        """One call into a layer's public function, as a child span of
        the current op."""
        with self.rec.span(f"{layer}.{phase}", layer=layer, phase=phase):
            return fn()

    def op(
        self,
        name: str,
        kind: str,
        fn: Callable[[], Any],
        check: Callable[[Any], bool],
    ) -> None:
        """Run one op; a raise or a failed check counts it failed."""
        result, error = None, None
        with self.rec.span(name, layer="op", kind=kind, pass_idx=self.pass_idx) as s:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 — counted, run continues
                error = traceback.format_exc(limit=3)
        ok = False
        if error is None:
            try:
                ok = bool(check(result))
            except Exception:  # noqa: BLE001
                error = traceback.format_exc(limit=3)
        self.ops.append(
            {
                "pass": self.pass_idx,
                "name": name,
                "kind": kind,
                "latency_s": s["t1"] - s["t0"],
                "ok": ok,
                "error": error or (None if ok else "wrong result"),
            }
        )
