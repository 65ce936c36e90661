"""Concurrent writers on one table, both formats: every acknowledged
commit must be durable and visible, and a writer that raised must
leave nothing committed. Delta publishes ``_delta_log/<N>.json`` and
Iceberg ``metadata/v<N>.metadata.json`` put-if-absent through one
commit loop per format (``delta_io._commit``,
``iceberg_io._commit_metadata``)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
from census_asc5_data_pipeline_spark.sources import merge as m

SCHEMA = "k long, v double"


def _rows(spark, ks):
    return spark.createDataFrame([(k, float(k)) for k in ks], SCHEMA)


def _write(fmt, df, path):
    if fmt == "delta":
        return d.write_delta(df, path)
    return ice.write_iceberg(df, path)


def _keys(spark, fmt, path):
    read = d.read_delta if fmt == "delta" else ice.read_iceberg
    return sorted(r.k for r in read(spark, path).select("k").collect())


def _history(fmt, path):
    """(operation of every committed version, every data/delete file
    any committed version references)."""
    ops, files = [], set()
    if fmt == "delta":
        for v in d.delta_versions(path):
            with open(d._commit_file(path, v)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ops.append(a["commitInfo"]["operation"])
                    if "add" in a:
                        files.add(d._data_file_path(path, a["add"]["path"]))
        return ops, files
    _v, meta = ice._current_metadata(path)
    for s in meta["snapshots"]:
        ops.append(s["summary"]["operation"])
        data_fs, delete_fs = ice._snapshot_files(path, meta, s["snapshot-id"])
        files |= {ice._local(f["file_path"]) for f in data_fs + delete_fs}
    return ops, files


def _run(*jobs):
    """Run each job in its own thread; re-raise anything unexpected."""
    errors: list[BaseException] = []

    def guard(job):
        try:
            job()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(j,)) for j in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "writer hung"
    if errors:
        raise errors[0]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_append_append_loses_nothing(spark, tmp_path, fmt):
    """2 threads x 15 one-row appends: every acknowledged append is
    read back (an overwritten metadata version used to drop half)."""
    path = str(tmp_path / fmt)
    _write(fmt, _rows(spark, [0]), path)
    acked: list[int] = []

    def writer(base):
        for i in range(15):
            k = base + i
            _write(fmt, _rows(spark, [k]).coalesce(1), path)
            acked.append(k)

    _run(lambda: writer(1000), lambda: writer(2000))
    assert len(acked) == 30
    assert _keys(spark, fmt, path) == sorted([0] + acked)
    ops, files = _history(fmt, path)
    assert len(ops) == 31
    assert all(os.path.exists(f) for f in files)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_append_delete_commits_or_aborts_cleanly(spark, tmp_path, fmt):
    """Appends race three DELETEs over disjoint seed ranges. Each
    DELETE either commits or raises "concurrent"; the table ends as
    seed - committed deletes + every append, and no version references
    a file of a DELETE that raised."""
    path = str(tmp_path / fmt)
    _write(fmt, _rows(spark, range(30)).repartition(3), path)
    acked: list[int] = []
    deleted: list[int] = []
    raised: list[str] = []

    def appender():
        for i in range(8):
            _write(fmt, _rows(spark, [100 + i]).coalesce(1), path)
            acked.append(100 + i)

    def deleter():
        for lo in (0, 10, 20):
            pred = f"k >= {lo} AND k < {lo + 5}"
            try:
                if fmt == "delta":
                    d.delete_delta_where(spark, path, pred, mode="cow")
                else:
                    ice.delete_iceberg_positions(spark, path, pred)
            except ValueError as e:
                assert "concurrent" in str(e), e
                raised.append(pred)
                continue
            deleted.extend(range(lo, lo + 5))

    _run(appender, deleter)
    want = sorted(set(range(30)) - set(deleted)) + acked
    assert _keys(spark, fmt, path) == sorted(want)
    ops, files = _history(fmt, path)
    n_delete_ops = sum(op.lower() == "delete" for op in ops)
    assert n_delete_ops == 3 - len(raised)
    assert all(os.path.exists(f) for f in files)


def _ice_table(spark, path, format_version=None):
    df = _rows(spark, range(40)).repartition(2)
    ice.write_iceberg(df, path, format_version=format_version)
    ice.write_iceberg(_rows(spark, range(40, 60)).coalesce(1), path)


@pytest.mark.parametrize(
    "verb", ["rewrite", "positions", "positions_dv", "merge"]
)
def test_iceberg_dml_race_aborts(spark, tmp_path, monkeypatch, verb):
    """A racing append that lands between a DML's plan and its publish
    makes the DML abort without committing (no check-then-act
    pre-check left: the base version is pinned inside the commit
    loop), and the racer's rows stay."""
    path = str(tmp_path / verb)
    _ice_table(spark, path, 3 if verb == "positions_dv" else None)
    real = ice._commit_metadata
    raced: list[int] = []

    def racing(p, build, base_v=None):
        if base_v is not None and not raced:
            raced.append(1)
            ice.write_iceberg(_rows(spark, [999]).coalesce(1), path)
        return real(p, build, base_v=base_v)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    with pytest.raises(ValueError, match="concurrent"):
        if verb == "rewrite":
            ice.rewrite_data_files(spark, path, target_file_bytes=1 << 30)
        elif verb == "merge":
            m.merge_into(
                spark,
                "iceberg",
                path,
                _rows(spark, [1, 2, 500]),
                "t.k = s.k",
                matched=[("update", None, {"v": "s.v + 1"})],
                not_matched={"k": "s.k", "v": "s.v"},
            )
        else:
            ice.delete_iceberg_positions(spark, path, "k < 5")
    assert raced
    assert _keys(spark, "iceberg", path) == list(range(60)) + [999]
    ops, _files = _history("iceberg", path)
    assert ops == ["append", "append", "append"]


def test_stale_version_hint_reads_highest_version(spark, tmp_path):
    """A slower writer can flip version-hint.text after a faster one
    published a higher version; readers resolve the highest published
    metadata, never the stale hint."""
    path = str(tmp_path / "t")
    ice.write_iceberg(_rows(spark, [1]), path)
    ice.write_iceberg(_rows(spark, [2]), path)
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")
    assert ice._current_metadata(path)[0] == 2
    assert _keys(spark, "iceberg", path) == [1, 2]
