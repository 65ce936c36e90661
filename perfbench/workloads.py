"""The benchmark's workloads: seeded inputs and DuckDB expectations (built in
the parent process, outside every timed region) and the fixed op
sequence one pass runs (in the child process, against Spark).

Each workload class has
- ``prepare(seed, work) -> dict``: write inputs under ``work/input``,
  return the JSON-able spec (parameters, expectations, input sizes);
- ``warm(spark, spec)``: the set-up reads that make the first op
  runnable;
- ``run_pass(ctx)``: one pass of ops through ``ctx.op``/``ctx.call``;
- ``finish(ctx)``: checks that run after the timed passes.
"""

from __future__ import annotations

import os
import random
import zlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import CHECK, COMMIT, COMPUTE, READ, collect, expected_of, matches


def _duck(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"'{os.path.join(input_dir, f)}'"
            )
    return con


def _expect(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    return expected_of(con.sql(sql).fetch_arrow_table())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return len(os.listdir(path)) if os.path.isdir(path) else 0


def _input_sizes(input_dir: str) -> dict:
    rows = 0
    for root, _dirs, files in os.walk(input_dir):
        for f in files:
            rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return {"rows": rows, "bytes": dir_bytes(input_dir)}


# --------------------------------------------------------- corpus_curation


def _zlib_ppm(text: str) -> int:
    """Compression ratio in ppm, as documented for
    operators.text.compression_ratio: len(zlib level 6) / len(bytes)."""
    raw = text.encode("utf-8")
    return len(zlib.compress(raw, 6)) * 1000000 // len(raw) if raw else 0


class CorpusCuration:
    """LLM-corpus curation over a seeded document/embedding subset:
    exact dedup (through the query registry), exact cosine and PQ
    approximate nearest neighbours (Python workers), per-document signals (lang-id, quality,
    pandas-UDF compression) written out as the corpus annotation table,
    and the k-core of the shingle-Jaccard near-dup graph (an
    eager-checkpoint iterative kernel). No table format is involved."""

    name = "corpus_curation"
    N_DOCS = 500
    K = 10
    GRAPH_PPM = 300000  # the registry's k_core edge threshold

    def prepare(self, seed: int, work: str) -> dict:
        from census_asc5_data_pipeline_spark.queries import ORACLES

        inp = os.path.join(work, "input")
        tables = datagen.corpus_tables(seed, self.N_DOCS)
        datagen.write_tables(tables, inp)
        con = _duck(inp)
        expect = {
            "read_documents": _expect(con, "SELECT * FROM documents"),
            "read_embeddings": _expect(con, "SELECT * FROM embeddings"),
            "dedup_exact": _expect(con, ORACLES["dedup_exact"]),
            "ann_cosine": _expect(con, ORACLES["ann_cosine_topk"]),
            "k_core": _expect(con, ORACLES["k_core"]),
        }
        texts = tables["documents"]["text"].to_pylist()
        con.register(
            "compression",
            pa.table(
                {
                    "doc_id": tables["documents"]["doc_id"],
                    "compress_ppm": pa.array([_zlib_ppm(t) for t in texts], pa.int64()),
                }
            ),
        )
        annotations = con.sql(
            f"""SELECT l.doc_id, l.pred_lang, q.quality_ppm, c.compress_ppm
                FROM ({ORACLES['lang_id']}) l
                JOIN ({ORACLES['text_quality']}) q USING (doc_id)
                JOIN compression c USING (doc_id)"""
        ).fetch_arrow_table()
        expect["annotate"] = expected_of(annotations)
        # exact cosine of every (query, candidate) pair: PQ emits exact
        # rerank scores, so each one it returns must match
        cos = con.sql(
            """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings)
            SELECT query_id, cand_id,
                   CAST(FLOOR((list_dot_product(qv, cv) /
                        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))))
                        * 1000000 + 0.5) AS BIGINT) AS cos_micro
            FROM c, q WHERE cand_id <> query_id"""
        ).fetchall()
        return {
            "params": {"n_docs": self.N_DOCS},
            "expect": expect,
            "cos": [list(r) for r in cos],
            "user_bytes": annotations.nbytes,
            "input": _input_sizes(inp),
        }

    def warm(self, spark, spec: dict) -> None:
        from census_asc5_data_pipeline_spark.catalog import read_table

        read_table(spark, os.path.join(spec["work"], "input"), "documents").count()

    def run_pass(self, ctx) -> None:
        from pyspark.sql import functions as F

        from census_asc5_data_pipeline_spark.catalog import read_table
        from census_asc5_data_pipeline_spark.operators import dedup as D
        from census_asc5_data_pipeline_spark.operators import graph as G
        from census_asc5_data_pipeline_spark.operators import similarity as S
        from census_asc5_data_pipeline_spark.operators import text as TX
        from census_asc5_data_pipeline_spark.plans import star_schema as SS
        from census_asc5_data_pipeline_spark.queries import (
            _K_CORE_ROUNDS,
            QUERIES,
            unpersist_deps,
        )
        from census_asc5_data_pipeline_spark.sources import sinks

        spark, spec = ctx.spark, ctx.spec
        exp = spec["expect"]
        inp = ctx.path("input")
        out_dir = ctx.path("out", f"annotations_p{ctx.pass_idx}")

        def table(name):
            return ctx.call("catalog", "read_table", lambda: read_table(spark, inp, name))

        def run_layer(layer, build):
            df = ctx.call(layer, "construct", build)
            try:
                return ctx.call(layer, "exec", lambda: collect(df))
            finally:
                unpersist_deps(df)

        def operator(family, build):
            return run_layer(f"operators.{family}", build)

        def check(name):
            return lambda res: matches(exp[name], *res)

        cos = {(q, c): v for q, c, v in spec["cos"]}

        def topk_ok(res):
            """Every score is the exact cosine; each of the 5 queries has
            ranks 1..K in (score desc, id) order."""
            cols, rows = res
            per_q: dict[int, list[dict]] = {}
            for r in (dict(zip(cols, row)) for row in rows):
                if cos.get((r["query_id"], r["cand_id"])) != r["cos_micro"]:
                    return False
                per_q.setdefault(r["query_id"], []).append(r)
            if sorted(per_q) != list(range(5)):
                return False
            return all(
                [r["rn"] for r in sorted(q, key=lambda r: (-r["cos_micro"], r["cand_id"]))]
                == list(range(1, self.K + 1))
                for q in per_q.values()
            )

        def ann(search, **kw):
            emb = table("embeddings")
            queries = emb.filter(F.col("vec_id") < 5)
            return operator("similarity", lambda: search(emb, queries, k=self.K, **kw))

        def annotate():
            """Per-document signals joined into one fact view on doc_id
            (the star-schema fact join), written as parquet."""
            docs = table("documents")
            signals = ctx.call(
                "operators.text",
                "construct",
                lambda: [
                    TX.lang_id(docs).select("doc_id", "pred_lang"),
                    TX.quality_score(docs).select("doc_id", "quality_ppm"),
                    TX.compression_ratio(docs).select("doc_id", "compress_ppm"),
                ],
            )
            df = ctx.call("plans", "construct", lambda: SS.fact_join(signals, ["doc_id"]))
            ctx.call("sources", "write", lambda: sinks.write_parquet(df, out_dir))

        def k_core():
            docs = table("documents")
            raw = ctx.call(
                "operators.dedup",
                "construct",
                lambda: D.ngram_jaccard_pairs(docs, threshold_ppm=self.GRAPH_PPM, df_cap=4096),
            )
            pairs = raw.select("doc_a", "doc_b").persist()
            try:
                return operator(
                    "graph",
                    lambda: G.k_core(
                        pairs, k=2, src="doc_a", dst="doc_b", max_iter=_K_CORE_ROUNDS,
                        bounded=True,
                    ),
                )
            finally:
                pairs.unpersist()
                unpersist_deps(raw)

        for name in ("documents", "embeddings"):
            ctx.op(
                f"read_{name}",
                READ,
                lambda name=name: ctx.call("catalog", "exec", lambda: collect(table(name))),
                check(f"read_{name}"),
            )
        ctx.op(
            "dedup_exact",
            COMPUTE,
            lambda: run_layer("queries", lambda: QUERIES["dedup_exact"](spark, inp)),
            check("dedup_exact"),
        )
        ctx.op(
            "ann_cosine",
            COMPUTE,
            lambda: ann(S.cosine_topk, dim=datagen.EMBEDDING_DIM),
            check("ann_cosine"),
        )
        ctx.op(
            "ann_pq",
            COMPUTE,
            lambda: ann(S.pq_topk, m=8, n_codes=16, shortlist=50),
            topk_ok,
        )
        # the acknowledged write must read back as the expected rows
        ctx.op(
            "annotate",
            COMMIT,
            annotate,
            lambda _: matches(exp["annotate"], *collect(spark.read.parquet(out_dir))),
        )
        ctx.op("k_core", COMPUTE, k_core, check("k_core"))
        ctx.facts.append(
            {
                "pass": ctx.pass_idx,
                "stored_bytes": dir_bytes(out_dir),
                "user_bytes": spec["user_bytes"],
            }
        )

    def finish(self, ctx) -> None:
        return None


# ----------------------------------------------------------- lakehouse_dml

ORDER_COLS = ["okey", "priority", "status", "total_cents", "odate"]
INSERT_ALL = {c: f"s.{c}" for c in ORDER_COLS}
MERGE_CLAUSES = [
    ("delete", "s.op = 'D'"),
    ("update", None, {"total_cents": "s.total_cents"}),
]


class LakehouseDml:
    """Writes beside reads on one Delta and one Iceberg table built from
    seeded order batches. Every pass starts fresh tables and commits
    the same verb sequence: create, append, MERGE into matched rows
    (Delta copy-on-write, Iceberg merge-on-read), UPDATE (Iceberg
    merge-on-read), DELETE (Delta deletion vectors), one availableNow
    stream drain into the Delta table, compaction, and snapshot /
    time-travel / skipping reads. The Delta checkpoint interval is 2,
    so each pass writes two checkpoints."""

    name = "lakehouse_dml"
    SEED_ROWS = 1500
    BATCH_ROWS = 200
    # b0 seeds both tables, b1 is the append, b2 the MERGE inserts, b3
    # arrives through the stream
    N_BATCHES = 3

    @staticmethod
    def _keys(seed: int) -> dict:
        rnd = random.Random(seed)
        lo = rnd.randrange(0, 1000)
        return {
            "upd_mod": rnd.randrange(5),  # MERGE updates b0 keys okey % 5
            "del_mod": rnd.randrange(11),  # MERGE deletes b0 keys okey % 11
            "upd_priority": rnd.choice(datagen.PRIORITIES),
            "upd_where_mod": rnd.randrange(7),
            "del_status": rnd.choice(["F", "O", "P"]),
            "del_where_mod": rnd.randrange(4),
            "read_lo": lo,
            "read_hi": lo + 300,
        }

    @staticmethod
    def merge_source(k: dict) -> str:
        """MERGE source as SQL over b0/b2, so DuckDB (replay) and Spark
        (temp views of the same parquet) build identical rows."""
        cols = ", ".join(ORDER_COLS)
        return f"""
            SELECT {cols}, 'I' AS op FROM b2
            UNION ALL
            SELECT okey, priority, status, total_cents + 100, odate, 'U' FROM b0
            WHERE okey % 5 = {k['upd_mod']} AND okey % 11 <> {k['del_mod']}
            UNION ALL
            SELECT {cols}, 'D' FROM b0 WHERE okey % 11 = {k['del_mod']}"""

    @staticmethod
    def predicates(k: dict) -> dict[str, str]:
        return {
            "update": f"priority = '{k['upd_priority']}' AND okey % 7 = {k['upd_where_mod']}",
            "delete": f"status = '{k['del_status']}' AND okey % 4 = {k['del_where_mod']}",
            "skip": f"okey >= {k['read_lo']} AND okey < {k['read_hi']}",
        }

    def prepare(self, seed: int, work: str) -> dict:
        inp = os.path.join(work, "input")
        os.makedirs(os.path.join(inp, "stream"))
        batches = datagen.order_batches(
            seed, self.SEED_ROWS, self.N_BATCHES, self.BATCH_ROWS
        )
        for i, b in enumerate(batches[:3]):
            pq.write_table(b, os.path.join(inp, f"b{i}.parquet"))
        stream_file = os.path.join(inp, "stream", "part-0.parquet")
        pq.write_table(batches[3], stream_file)
        k = self._keys(seed)
        source, pred = self.merge_source(k), self.predicates(k)
        con = _duck(inp)
        con.execute(f"CREATE VIEW b3 AS SELECT * FROM '{stream_file}'")
        cols = ", ".join(ORDER_COLS)

        def state(table: str, where: str = "TRUE") -> dict:
            return _expect(con, f"SELECT {cols} FROM {table} WHERE {where}")

        def merge(table: str) -> dict:
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {source}")
            acted = con.sql(
                f"SELECT COUNT(*) FROM s JOIN {table} USING (okey) WHERE s.op <> 'I'"
            ).fetchone()[0]
            inserted = con.sql("SELECT COUNT(*) FROM s WHERE op = 'I'").fetchone()[0]
            con.execute(
                f"DELETE FROM {table} WHERE okey IN (SELECT okey FROM s WHERE op = 'D')"
            )
            con.execute(
                f"""UPDATE {table} SET total_cents = s.total_cents FROM s
                    WHERE {table}.okey = s.okey AND s.op = 'U'"""
            )
            con.execute(f"INSERT INTO {table} SELECT {cols} FROM s WHERE op = 'I'")
            return {"acted": acted, "inserted": inserted}

        delta: dict = {}
        con.execute("CREATE TEMP TABLE d AS SELECT * FROM b0")
        delta["create"] = state("d")
        con.execute("INSERT INTO d SELECT * FROM b1")
        delta["append"] = state("d")
        merges = {"delta": merge("d")}
        delta["merge"] = state("d")
        con.execute(f"DELETE FROM d WHERE {pred['delete']}")
        delta["delete"] = state("d")
        con.execute("INSERT INTO d SELECT * FROM b3")
        delta["stream"] = delta["optimize"] = state("d")
        iceberg: dict = {}
        con.execute("CREATE TEMP TABLE i AS SELECT * FROM b0")
        iceberg["create"] = state("i")
        con.execute("INSERT INTO i SELECT * FROM b1")
        iceberg["append"] = state("i")
        merges["iceberg"] = merge("i")
        iceberg["merge"] = state("i")
        con.execute(f"UPDATE i SET total_cents = total_cents + 7 WHERE {pred['update']}")
        iceberg["update"] = iceberg["rewrite"] = state("i")
        # user bytes handed to write verbs: the batches (b0 and b1 go to
        # both tables) and the MERGE source, once per table
        src_bytes = con.sql(source).fetch_arrow_table().nbytes
        user_bytes = (
            2 * (batches[0].nbytes + batches[1].nbytes) + batches[3].nbytes + 2 * src_bytes
        )
        return {
            "params": k,
            "expect": {
                "delta": delta,
                "iceberg": iceberg,
                "read_skip": state("d", pred["skip"]),
            },
            "merges": merges,
            "source": source,
            "predicates": pred,
            "user_bytes": user_bytes,
            "input": _input_sizes(inp),
        }

    def warm(self, spark, spec: dict) -> None:
        spark.read.parquet(os.path.join(spec["work"], "input", "b0.parquet")).count()

    def run_pass(self, ctx) -> None:
        from census_asc5_data_pipeline_spark.sources import delta_io, iceberg_io
        from census_asc5_data_pipeline_spark.sources.merge import merge_into, update_where
        from census_asc5_data_pipeline_spark.streaming.pipeline import stream_to_delta

        spark, spec = ctx.spark, ctx.spec
        exp, pred = spec["expect"], spec["predicates"]
        inp = ctx.path("input")
        base = ctx.path("tables", f"p{ctx.pass_idx}")
        dpath, ipath = os.path.join(base, "delta"), os.path.join(base, "iceberg")
        acks: dict = {"delta": {}, "iceberg": {}, "pass": ctx.pass_idx, "base": base}
        ctx.state["acks"] = acks  # finish() checks the last pass's tables

        def batch(i):
            return spark.read.parquet(os.path.join(inp, f"b{i}.parquet"))

        def source():
            for i in (0, 2):
                batch(i).createOrReplaceTempView(f"b{i}")
            return spark.sql(spec["source"])

        def commit(fmt, step, layer, phase, fn):
            def run():
                version = ctx.call(layer, phase, fn)
                acks[fmt][step] = version
                return version

            ctx.op(f"{fmt}_{step}", COMMIT, run, lambda v: v is not None)

        def read(name, layer, fn, expected):
            ctx.op(
                name,
                READ,
                lambda: ctx.call(layer, "read", lambda: collect(fn())),
                lambda res: matches(expected, *res),
            )

        def drain():
            stream = (
                spark.readStream.schema(batch(0).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(inp, "stream"))
            )
            q = (
                stream_to_delta(stream, dpath, os.path.join(base, "ck"), app_id="perfbench")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            acks["stream_batches"] = len(q.recentProgress)
            return delta_io.delta_versions(dpath)[-1]

        def merge(fmt, path, **kw):
            return lambda: merge_into(
                spark, fmt, path, source(), "t.okey = s.okey",
                matched=MERGE_CLAUSES, not_matched=INSERT_ALL, **kw,
            )

        commit(
            "delta", "create", "delta_io", "write",
            lambda: delta_io.write_delta(
                batch(0), dpath, configuration={"delta.checkpointInterval": "2"}
            ),
        )
        commit("delta", "append", "delta_io", "write", lambda: delta_io.write_delta(batch(1), dpath))
        commit("delta", "merge", "merge", "merge_into", merge("delta", dpath, mode="cow"))
        commit(
            "delta", "delete", "delta_io", "write",
            lambda: delta_io.delete_delta_where(spark, dpath, pred["delete"], mode="dv"),
        )
        commit("delta", "stream", "streaming", "drain", drain)
        read("delta_read", "delta_io", lambda: delta_io.read_delta(spark, dpath), exp["delta"]["stream"])
        read(
            "delta_read_tt", "delta_io",
            lambda: delta_io.read_delta(spark, dpath, version=acks["delta"]["append"]),
            exp["delta"]["append"],
        )
        read(
            "delta_read_skip", "delta_io",
            lambda: delta_io.read_delta(spark, dpath, predicate=pred["skip"]),
            exp["read_skip"],
        )
        commit(
            "delta", "optimize", "delta_io", "optimize",
            lambda: delta_io.optimize_delta(spark, dpath).get("version"),
        )
        commit("iceberg", "create", "iceberg_io", "write", lambda: iceberg_io.write_iceberg(batch(0), ipath))
        commit("iceberg", "append", "iceberg_io", "write", lambda: iceberg_io.write_iceberg(batch(1), ipath))
        commit("iceberg", "merge", "merge", "merge_into", merge("iceberg", ipath))
        commit(
            "iceberg", "update", "merge", "update_where",
            lambda: update_where(
                spark, "iceberg", ipath, pred["update"], {"total_cents": "total_cents + 7"}
            ),
        )
        read(
            "iceberg_read", "iceberg_io",
            lambda: iceberg_io.read_iceberg(spark, ipath), exp["iceberg"]["update"],
        )
        read(
            "iceberg_read_tt", "iceberg_io",
            lambda: iceberg_io.read_iceberg(spark, ipath, snapshot_id=acks["iceberg"]["append"]),
            exp["iceberg"]["append"],
        )
        commit(
            "iceberg", "rewrite", "iceberg_io", "rewrite",
            lambda: iceberg_io.rewrite_data_files(spark, ipath).get("snapshot_id"),
        )
        ctx.facts.append(self._facts(ctx, acks, dpath, ipath))

    @staticmethod
    def _facts(ctx, acks: dict, dpath: str, ipath: str) -> dict:
        """Per-pass layer facts from the tables' own metadata: Delta
        operationMetrics and the Iceberg snapshot summary of each MERGE."""
        from census_asc5_data_pipeline_spark.sources import delta_io, iceberg_io

        spec = ctx.spec
        version = acks["delta"].get("merge")
        m = delta_io.commit_operation_metrics(dpath, version) if version is not None else {}
        upd = int(m.get("numTargetRowsUpdated", 0))
        delta_acted = upd + int(m.get("numTargetRowsDeleted", 0))
        rewritten = upd + int(m.get("numTargetRowsCopied", 0))
        snaps = {s["snapshot-id"]: s for s in iceberg_io.iceberg_snapshots(ipath)}
        summary = snaps.get(acks["iceberg"].get("merge"), {}).get("summary", {})
        iceberg_acted = int(summary.get("added-position-deletes", 0))
        rewritten += int(summary.get("added-records", 0)) - spec["merges"]["iceberg"]["inserted"]
        acted = delta_acted + iceberg_acted
        return {
            "pass": ctx.pass_idx,
            "stored_bytes": dir_bytes(dpath) + dir_bytes(ipath),
            "user_bytes": spec["user_bytes"],
            "acted": {"delta": delta_acted, "iceberg": iceberg_acted},
            "delta_io.log_files": dir_files(os.path.join(dpath, "_delta_log")),
            "delta_io.bytes_written": dir_bytes(dpath),
            "iceberg_io.metadata_bytes": dir_bytes(os.path.join(ipath, "metadata")),
            "merge.acted_rows": acted,
            "merge.rows_rewritten_per_acted_row": rewritten / acted if acted else 0.0,
            "streaming.batches": acks.get("stream_batches", 0),
        }

    def finish(self, ctx) -> None:
        """Durability: a fresh read of every acknowledged version of the
        last pass's tables equals the replayed state after that step,
        and each MERGE acted on exactly the replay's matched rows."""
        from census_asc5_data_pipeline_spark.sources import delta_io, iceberg_io

        spark, spec = ctx.spark, ctx.spec
        acks = ctx.state["acks"]
        dpath = os.path.join(acks["base"], "delta")
        ipath = os.path.join(acks["base"], "iceberg")
        spark.catalog.clearCache()
        readers = {
            "delta": lambda v: delta_io.read_delta(spark, dpath, version=v),
            "iceberg": lambda v: iceberg_io.read_iceberg(spark, ipath, snapshot_id=v),
        }
        facts = next(f for f in ctx.facts if f["pass"] == acks["pass"])
        for fmt, reader in readers.items():
            for step, version in acks[fmt].items():
                expected = spec["expect"][fmt][step]
                ctx.op(
                    f"durable_{fmt}_{step}",
                    READ,
                    lambda reader=reader, version=version: collect(reader(version)),
                    lambda res, expected=expected: matches(expected, *res),
                )
            want = spec["merges"][fmt]["acted"]
            ctx.op(
                f"merge_acted_{fmt}",
                CHECK,
                lambda fmt=fmt: facts["acted"][fmt],
                lambda got, want=want: got == want > 0,
            )


WORKLOADS = {w.name: w for w in (CorpusCuration(), LakehouseDml())}
