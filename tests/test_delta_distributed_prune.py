"""Distributed Delta metadata plane (r14 — r13 verdict #1): above
``_SPARK_PRUNE_THRESHOLD`` checkpoint actions, read-time pruning
evaluates IN SPARK over the checkpoint parquet (mapInPandas running
the same ``delta_stats.add_survives`` evaluator in executors) instead
of the driver-side Python loop; the JSON tail overlays driver-side.
These tests pin PRUNE-SET EQUALITY between the two paths on the same
logs, plus end-to-end row equality through ``read_delta``."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources import delta_stats as ds

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture()
def force_spark_path(monkeypatch):
    monkeypatch.setattr(d, "_SPARK_PRUNE_THRESHOLD", 0)


def _driver_prune(spark, path, pred, pf=None, version=None):
    """The reference: _replay + skip_files exactly as read_delta's
    driver path does it."""
    _p, meta, adds, _tx = d._replay(spark, path, version)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = list(meta.get("partitionColumns") or [])
    physical_of = d._column_mapping(meta)
    live = list(adds.values())
    if pf:
        live = [
            a
            for a in live
            if all(
                (a.get("partitionValues") or {}).get(
                    physical_of[k] if physical_of else k
                )
                == v
                for k, v in pf.items()
            )
        ]
    if pred:
        atoms = ds.parse_skip_predicate(pred)
        if atoms is not None:
            live = ds.skip_files(
                live, atoms, schema, pcols, physical_of
            )
    return sorted(a["path"] for a in live)


def _spark_prune(spark, path, pred, pf=None, version=None):
    res = d._replay_pruned_spark(spark, path, version, pf, pred)
    assert res is not None, "distributed path did not engage"
    return sorted(a["path"] for a in res[2])


@pytest.fixture()
def ckpt_table(spark, tmp_path):
    """8-file table, checkpoint, then a tail that removes one file
    (DELETE) and adds two more — the overlay shape."""
    path = str(tmp_path / "t")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    d.write_delta(orders.repartition(8, "o_orderkey"), path)
    d.create_checkpoint(spark, path)
    d.delete_delta_where(
        spark, path, "o_orderkey % 1000 = 7", mode="cow"
    )
    d.write_delta(
        orders.limit(100).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
        ),
        path,
    )
    return path, orders


PREDS = [
    "o_orderkey = 1",
    "o_orderkey > 10000000",
    "o_orderkey < 0",
    "o_totalprice BETWEEN 1000.5 AND 2000.5",
    "o_orderstatus = 'F' AND o_orderkey <= 500",
    "o_orderpriority IS NOT NULL",
    "o_orderkey IN (1, 2, 10000001)",
]


@pytest.mark.parametrize("pred", PREDS)
def test_prune_set_equality(spark, ckpt_table, force_spark_path, pred):
    path, _ = ckpt_table
    assert _spark_prune(spark, path, pred) == _driver_prune(
        spark, path, pred
    )


@pytest.mark.parametrize("pred", PREDS[:3])
def test_read_rows_identical(spark, ckpt_table, force_spark_path, pred):
    path, _ = ckpt_table
    got = d.read_delta(spark, path, predicate=pred)
    d._SPARK_PRUNE_THRESHOLD = 1 << 60  # force driver path
    try:
        want = d.read_delta(spark, path, predicate=pred)
    finally:
        d._SPARK_PRUNE_THRESHOLD = 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_partitioned_table_and_filter(spark, tmp_path, force_spark_path):
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(400)], "k long, g int, v string"
    )
    d.write_delta(df.repartition(4, "g"), path, partition_by=["g"])
    d.create_checkpoint(spark, path)
    d.write_delta(
        spark.createDataFrame([(1000, 9, "new")], "k long, g int, v string"),
        path,
        partition_by=["g"],
    )
    for pf, pred in [
        ({"g": "2"}, None),
        ({"g": "9"}, None),
        ({"g": "2"}, "k >= 100"),
        (None, "g = 3 AND k < 50"),
    ]:
        assert _spark_prune(spark, path, pred, pf) == _driver_prune(
            spark, path, pred, pf
        ), (pf, pred)
    got = d.read_delta(
        spark, path, partition_filter={"g": "2"}, predicate="k >= 100"
    )
    assert got.count() == 75
    assert set(r.g for r in got.collect()) == {2}


def test_column_mapped_table(spark, tmp_path, force_spark_path):
    path = str(tmp_path / "cm")
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(100)], "k long, s string"
    )
    d.write_delta(
        df.coalesce(2),
        path,
        configuration={"delta.columnMapping.mode": "name"},
    )
    d.create_checkpoint(spark, path)
    pred = "k <= 10"
    assert _spark_prune(spark, path, pred) == _driver_prune(
        spark, path, pred
    )
    assert d.read_delta(spark, path, predicate=pred).count() == 11


def test_dv_adds_round_trip(spark, tmp_path, force_spark_path):
    """DV descriptors must survive the executor mask's Arrow round
    trip — the surviving adds still anti-join their deleted rows."""
    path = str(tmp_path / "dv")
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(200)], "k long, g int"
    )
    d.write_delta(df.coalesce(2), path)
    d.delete_delta_where(spark, path, "k < 20", mode="dv")
    d.create_checkpoint(spark, path)
    got = d.read_delta(spark, path, predicate="k <= 100")
    assert sorted(r.k for r in got.collect()) == list(range(20, 101))


def test_v2_checkpoint_sidecars(spark, tmp_path, force_spark_path):
    path = str(tmp_path / "v2")
    df = spark.createDataFrame(
        [(i, f"x{i}") for i in range(300)], "k long, v string"
    )
    d.write_delta(df.repartition(3), path)
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    cat = {"t": ("delta", path)}
    dml_sql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('delta.checkpointPolicy'='v2')",
        cat,
    )
    d.create_checkpoint(spark, path)
    d.write_delta(
        spark.createDataFrame([(9999, "tail")], "k long, v string"), path
    )
    pred = "k >= 9999"
    assert _spark_prune(spark, path, pred) == _driver_prune(
        spark, path, pred
    )
    assert d.read_delta(spark, path, predicate=pred).count() == 1


def test_time_travel_between_ckpt_and_head(
    spark, tmp_path, force_spark_path
):
    path = str(tmp_path / "tt")
    for lo in (0, 100, 200):
        d.write_delta(
            spark.createDataFrame(
                [(i,) for i in range(lo, lo + 100)], "k long"
            ).coalesce(1),
            path,
        )
    d.create_checkpoint(spark, path, version=1)
    pred = "k >= 150"
    for v in (1, 2):
        assert _spark_prune(
            spark, path, pred, version=v
        ) == _driver_prune(spark, path, pred, version=v)
    assert (
        d.read_delta(spark, path, version=1, predicate=pred).count() == 50
    )


def test_below_threshold_falls_back(spark, ckpt_table):
    """With the production threshold the small table must NOT engage
    the Spark path (None), and read_delta still answers."""
    path, _ = ckpt_table
    assert d._SPARK_PRUNE_THRESHOLD > 0
    assert (
        d._replay_pruned_spark(spark, path, None, None, "o_orderkey = 1")
        is None
    )
    assert d.read_delta(spark, path, predicate="o_orderkey = 1").count() >= 1


def test_unparseable_predicate_falls_back(
    spark, ckpt_table, force_spark_path
):
    path, _ = ckpt_table
    # OR is beyond the interval evaluator: nothing prunes, so the
    # distributed path declines and the driver path stays exact
    assert (
        d._replay_pruned_spark(
            spark, path, None, None, "o_orderkey = 1 OR o_orderkey = 2"
        )
        is None
    )
    got = d.read_delta(
        spark, path, predicate="o_orderkey = 1 OR o_orderkey = 2"
    )
    assert got.count() >= 2


def _twin_tables(spark, tmp_path, n=300):
    """Two identical checkpointed tables for path-parity DML runs."""
    paths = []
    for tag in ("a", "b"):
        p = str(tmp_path / f"twin_{tag}")
        df = spark.createDataFrame(
            [(i, i % 5, float(i)) for i in range(n)],
            "k long, g int, v double",
        )
        d.write_delta(df.repartition(6, "k"), p)
        d.create_checkpoint(spark, p)
        d.write_delta(
            spark.createDataFrame(
                [(n + 1, 9, -1.0)], "k long, g int, v double"
            ),
            p,
        )
        paths.append(p)
    return paths


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_dml_candidates_via_spark_plane_match_driver(
    spark, tmp_path, mode
):
    """DELETE/UPDATE candidate pruning through the distributed plane
    produces byte-identical tables vs the driver path (r14)."""
    from census_asc5_data_pipeline_spark.sources.merge import (
        update_where,
    )

    a, b = _twin_tables(spark, tmp_path)
    orig = d._SPARK_PRUNE_THRESHOLD
    try:
        d._SPARK_PRUNE_THRESHOLD = 0  # plane engages on `a`
        d.delete_delta_where(spark, a, "k BETWEEN 40 AND 60", mode=mode)
        update_where(
            spark, "delta", a, "k >= 250", {"v": "v + 1000"}, mode=mode
        )
        d._SPARK_PRUNE_THRESHOLD = 1 << 60  # driver path on `b`
        d.delete_delta_where(spark, b, "k BETWEEN 40 AND 60", mode=mode)
        update_where(
            spark, "delta", b, "k >= 250", {"v": "v + 1000"}, mode=mode
        )
    finally:
        d._SPARK_PRUNE_THRESHOLD = orig
    got = sorted(map(tuple, d.read_delta(spark, a).collect()))
    want = sorted(map(tuple, d.read_delta(spark, b).collect()))
    assert got == want


@pytest.mark.parametrize("verb", ["DELETE", "UPDATE", "MERGE", "OPTIMIZE"])
def test_dml_concurrency_abort_still_fires(
    spark, tmp_path, force_spark_path, verb
):
    """The commit-time re-check now fetches only the planned adds —
    a concurrent change to one of them must still abort every DML
    verb, leaving the racer's commit as the table head."""
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into,
        update_where,
    )

    path = str(tmp_path / "race")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    d.write_delta(df.coalesce(2), path)
    d.create_checkpoint(spark, path)
    src = spark.createDataFrame([(1, -1.0), (2, -2.0)], "k long, v double")
    dml = {
        "DELETE": lambda: d.delete_delta_where(
            spark, path, "k <= 10", mode="cow"
        ),
        "UPDATE": lambda: update_where(
            spark, "delta", path, "k <= 10", {"v": "v + 1"}
        ),
        "MERGE": lambda: merge_into(
            spark, "delta", path, src, "t.k = s.k",
            matched=[("update", None, {"v": "s.v"})],
        ),
        "OPTIMIZE": lambda: d.optimize_delta(
            spark, path, target_file_bytes=1 << 30
        ),
    }[verb]

    # simulate a concurrent writer landing between planning and
    # commit: monkey-wrap _put_if_absent_commit to sneak a commit in
    real_put = d._put_if_absent_commit
    state = {"raced": False}

    def racing_put(p, v, lines):
        if not state["raced"] and any("remove" in a for a in lines):
            state["raced"] = True
            d.delete_delta_where(spark, path, "k = 1", mode="cow")
        return real_put(p, v, lines)

    d._put_if_absent_commit = racing_put
    try:
        with pytest.raises(ValueError, match="concurrent"):
            dml()
    finally:
        d._put_if_absent_commit = real_put
    assert state["raced"]
    got = sorted(map(tuple, d.read_delta(spark, path).collect()))
    assert got == [(i, float(i)) for i in range(100) if i != 1]
    assert d.describe_history(spark, path).first()["operation"] == "DELETE"


def test_optimize_and_vacuum_via_plane_match_driver(spark, tmp_path):
    """r14: OPTIMIZE planning and vacuum's live-set walk ride the
    plane — twin tables compact/reclaim byte-identically either way."""
    import time as _time

    paths = []
    for tag in ("pa", "pb"):
        p = str(tmp_path / tag)
        for lo in (0, 60, 120, 180):
            d.write_delta(
                spark.createDataFrame(
                    [(i, i % 3) for i in range(lo, lo + 60)],
                    "k long, g int",
                ).repartition(3),
                p,
                partition_by=["g"],
            )
        d.create_checkpoint(spark, p)
        d.delete_delta_where(spark, p, "k < 5", mode="dv")
        paths.append(p)
    a, b = paths
    orig = d._SPARK_PRUNE_THRESHOLD
    try:
        d._SPARK_PRUNE_THRESHOLD = 0
        ra = d.optimize_delta(spark, a, target_file_bytes=1 << 30)
        d._SPARK_PRUNE_THRESHOLD = 1 << 60
        rb = d.optimize_delta(spark, b, target_file_bytes=1 << 30)
    finally:
        d._SPARK_PRUNE_THRESHOLD = orig
    assert ra["partitions_compacted"] == rb["partitions_compacted"] > 0
    assert ra["files_before"] == rb["files_before"]
    assert ra["files_after"] == rb["files_after"]
    assert sorted(map(tuple, d.read_delta(spark, a).collect())) == sorted(
        map(tuple, d.read_delta(spark, b).collect())
    )
    # vacuum over the plane: same survivors, same reclaim
    _time.sleep(1.1)
    try:
        d._SPARK_PRUNE_THRESHOLD = 0
        va = d.vacuum_delta(spark, a, keep_versions=1)
        d._SPARK_PRUNE_THRESHOLD = 1 << 60
        vb = d.vacuum_delta(spark, b, keep_versions=1)
    finally:
        d._SPARK_PRUNE_THRESHOLD = orig
    assert va["data_files_removed"] == vb["data_files_removed"]
    assert sorted(map(tuple, d.read_delta(spark, a).collect())) == sorted(
        map(tuple, d.read_delta(spark, b).collect())
    )
