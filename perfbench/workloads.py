"""The three workloads: what one pass runs, and the correctness checks
run untimed after the measured passes.

Each op of a pass runs under its own Spark job group
``<pass tag>|<op>``, so the traced run can attribute jobs, stages and
tasks to passes, and is wrapped in spans named after the layer the
benchmark calls into (``plans.build``, ``exec.run``, ``sync.sync_table``,
``pipeline.transform_table``, ``incremental.run_incremental``,
``delta_lite.<command>``).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import sys
import time
import traceback

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")


class PassContext:
    """One pass: op timings, failures and job counts under a job-group
    tag, plus the tracer spans share. The query ops collect their output
    into ``results``, which the checks compare."""

    def __init__(self, spark, tracer, tag: str, workdir: str,
                 results: dict) -> None:
        self.spark = spark
        self.results = results
        self.tracer = tracer
        self.tag = tag
        self.workdir = workdir
        self.ops: dict[str, float] = {}
        self.batches: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.jobs = 0
        self.counters: dict[str, float] = {}

    def span(self, name: str):
        return self.tracer.span(name)

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    @contextlib.contextmanager
    def op(self, name: str):
        """Times one op; an exception counts as a failed op and is
        reported on stderr, and the pass goes on."""
        group = f"{self.tag}|{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                yield
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            self.failed += 1
            print(f"op {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        finally:
            self.ops[name] = self.ops.get(name, 0.0) + time.perf_counter() - t0
            if self.tracer.enabled:
                self.jobs += len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(None, None)


def _norm(value):
    """Typed, exact normalization for result digests (floats by repr)."""
    if value is None:
        return "\x00N"
    if isinstance(value, bool):
        return "\x00B:" + str(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    if isinstance(value, str):
        return "\x00S:" + value
    return str(value)


def digest(table) -> tuple[list[str], list[tuple]]:
    """Order-insensitive result: sorted column names and sorted rows of
    normalized values, from an Arrow table."""
    cols = sorted(table.column_names, key=str.lower)
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    return [c.lower() for c in cols], sorted(tuple(map(_norm, r)) for r in rows)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, data: dict) -> None:
        self.data = data

    @property
    def input_rows(self) -> int:
        raise NotImplementedError

    def run_pass(self, ctx: PassContext) -> None:
        raise NotImplementedError

    def check(self, spark, results: dict) -> list[dict]:
        raise NotImplementedError

    def table_stats(self) -> dict:
        """delta_lite log statistics of the last pass's tables, by role."""
        return {}


class QueryWorkload(Workload):
    """Registered queries back to back, each result collected as Arrow,
    the cache cleared after each so every op runs end to end."""

    def run_pass(self, ctx: PassContext) -> None:
        from lcr_etl_upgrade_spark.plans import QUERIES

        for name in self.ops:
            with ctx.op(name):
                with ctx.span("plans.build"):
                    df = QUERIES[name](ctx.spark, self.data["dir"])
                with ctx.span("exec.run"):
                    ctx.results[name] = df.toArrow()
            ctx.spark.catalog.clearCache()


class TpchAnalytics(QueryWorkload):
    name = "tpch_analytics"
    # one query per physical shape (scan-aggregate, multi-way join with
    # broadcast dimensions, SQL-string join with top-k, window and global
    # sort): the other six planned queries repeat these shapes, and a
    # comparison of two commits has no time for their ~4 s each per run
    ops = (
        "q1_pricing_summary", "q5_nation_revenue", "q10_returned_items",
        "window_running_analytics",
    )

    @property
    def input_rows(self) -> int:
        return sum(self.data["rows"].values())

    def check(self, spark, results: dict) -> list[dict]:
        """Each query's result digest against DuckDB running the
        registered oracle SQL over the same parquet files."""
        import duckdb

        from lcr_etl_upgrade_spark.plans import ORACLES

        con = duckdb.connect()
        try:
            for t in TPCH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data['dir']}/{t}.parquet')"
                )
            out = []
            for name in self.ops:
                want = digest(con.execute(ORACLES[name]).fetch_arrow_table())
                got = digest(results[name]) if name in results else None
                out.append({
                    "op": name, "ok": got == want and len(want[1]) > 0,
                    "rows": len(want[1]),
                })
            return out
        finally:
            con.close()


class LlmCuration(QueryWorkload):
    name = "llm_curation"
    ops = (
        "doc_dedup_exact", "doc_minhash_near_dup", "doc_simhash",
        "doc_text_stats", "doc_heavy_hitter_tokens", "doc_bpe_train_stats",
        "embedding_cosine_topk", "embedding_cosine_topk_vectorized",
    )

    @property
    def input_rows(self) -> int:
        return self.data["rows"]["documents"] + self.data["rows"]["embeddings"]

    def check(self, spark, results: dict) -> list[dict]:
        """Organic-replica invariants: exact-duplicate and near-duplicate
        counts of the N-fold corpus are N times those of replica 0, and
        the two exact cosine top-k paths agree."""
        from lcr_etl_upgrade_spark.plans import QUERIES

        n = self.data["replicas"]
        x1 = {
            name: QUERIES[name](spark, f"{self.data['dir']}/x1").toArrow()
            for name in ("doc_dedup_exact", "doc_minhash_near_dup")
        }
        spark.catalog.clearCache()

        def dups(table):
            return sum(table.column("dup_count").to_pylist()) - table.num_rows

        d_big, d_one = dups(results["doc_dedup_exact"]), dups(x1["doc_dedup_exact"])
        n_big = results["doc_minhash_near_dup"].num_rows
        n_one = x1["doc_minhash_near_dup"].num_rows
        def topk(table):
            cols = (table.column(c).to_pylist()
                    for c in ("query_id", "rank", "vec_id", "cosine_r"))
            return {(q, r): (v, c) for q, r, v, c in zip(*cols)}

        exact = topk(results["embedding_cosine_topk"])
        vect = topk(results["embedding_cosine_topk_vectorized"])
        # cosine_r is rounded to 6 places; the vectorized path may differ
        # in the last ulp before rounding, so compare ids exactly and the
        # rounded score to one unit of the last place
        agree = len(exact) == 15 and exact.keys() == vect.keys() and all(
            exact[k][0] == vect[k][0] and abs(exact[k][1] - vect[k][1]) <= 1.5e-6
            for k in exact
        )
        return [
            {"op": "doc_dedup_exact", "ok": d_one > 0 and d_big == n * d_one,
             "dups": d_big, "dups_x1": d_one},
            {"op": "doc_minhash_near_dup", "ok": n_one > 0 and n_big == n * n_one,
             "pairs": n_big, "pairs_x1": n_one},
            {"op": "embedding_cosine_topk_vectorized", "ok": agree},
        ]


class LcrIngest(Workload):
    """The paper's two-stage ETL: one reconciled sync of the raw leads
    into a RAW delta_lite table, then incremental batches through the
    LEAD pipeline into a CDF- and DV-enabled STG table."""

    name = "lcr_ingest"
    ops = ("sync_table", "initial_load", "run_incremental", "read_after_commit")
    AS_OF = "2026-01-01 00:00:00"

    def __init__(self, data: dict) -> None:
        super().__init__(data)
        with open(f"{data['dir']}/schedule.json") as fh:
            self.schedule = json.load(fh)
        self.last: dict = {}

    @property
    def input_rows(self) -> int:
        return self.data["rows"]["raw_lead"]

    def run_pass(self, ctx: PassContext) -> None:
        from pyspark.sql import functions as F

        from lcr_etl_upgrade_spark import delta_lite as dl
        from lcr_etl_upgrade_spark.operators.incremental import (
            WatermarkStore,
            run_incremental,
        )
        from lcr_etl_upgrade_spark.pipeline import transform_table
        from lcr_etl_upgrade_spark.schemas import LEAD
        from lcr_etl_upgrade_spark.sync import sync_table

        spark = ctx.spark
        base = os.path.join(ctx.workdir, "tables", ctx.tag)
        shutil.rmtree(os.path.join(ctx.workdir, "tables"), ignore_errors=True)
        raw, stg = f"{base}/raw_lead", f"{base}/stg_lead"
        store = WatermarkStore(f"{base}/watermarks")
        state = {"versions": [], "reconciled": False, "raw": raw, "stg": stg}
        self.last = state

        with ctx.op("sync_table"), ctx.span("sync.sync_table"):
            src = spark.read.parquet(f"{self.data['dir']}/raw_lead.parquet")
            res = sync_table(
                src, "raw_lead",
                sink=lambda df: _timed(ctx, "delta_lite.write",
                                       dl.write_delta_lite, df, raw),
                verify_reader=lambda: _timed(ctx, "delta_lite.read",
                                             dl.read_delta_lite, spark, raw),
                source_count=self.input_rows,
            )
            ctx.count("sync.tables", 1)
            ctx.count("sync.reconciled", res.reconciliation == "3-way")
            state["reconciled"] = res.reconciliation == "3-way"

        cols = [f.name for f in LEAD.target_schema.fields]
        assign = {c: f"s.{c}" for c in cols}

        def sink(df):
            with ctx.span("pipeline.transform_table"), ctx.span("plans.build"):
                out = transform_table(df, LEAD, as_of=self.AS_OF, fuzzy=True)
            if not os.path.isdir(stg):
                _timed(ctx, "delta_lite.write", dl.write_delta_lite, out, stg)
                dl.set_table_properties(spark, stg, {
                    "delta.enableChangeDataFeed": "true",
                    "delta.enableDeletionVectors": "true",
                })
                dl.enable_v2_checkpoint(spark, stg)
            else:
                _timed(ctx, "delta_lite.merge_rows", dl.merge_rows, spark, stg,
                       out, "t.LEAD_GUID = s.LEAD_GUID",
                       matched=(("update", None, assign),),
                       not_matched=(("insert", None, assign),))

        raw_df = None
        for b, bound in enumerate(self.schedule["bounds"]):
            t0 = time.perf_counter()
            with ctx.op("initial_load" if b == 0 else "run_incremental"):
                if raw_df is None:
                    raw_df = dl.read_delta_lite(spark, raw)
                arrived = raw_df.filter(
                    F.coalesce("modifydate", "createdate") <= F.lit(bound)
                )
                with ctx.span("incremental.run_incremental"):
                    n = run_incremental(
                        spark, arrived, "lead", store, sink,
                        modify_col="modifydate", create_col="createdate",
                        key_col="leadguid",
                    )
                ctx.count("incremental.selected", n)
                ctx.count("incremental.scanned",
                          sum(self.schedule["rows_per_window"][: b + 1]))
            with ctx.op("read_after_commit"):
                state["versions"].append(self._read_back(ctx, stg))
            if b > 0:
                ctx.batches.append(time.perf_counter() - t0)

    def _read_back(self, ctx: PassContext, stg: str) -> int:
        """The reader after a commit: replay the log, read the table and
        aggregate it; returns the version it saw."""
        from pyspark.sql import functions as F

        from lcr_etl_upgrade_spark import delta_lite as dl

        st = _timed(ctx, "delta_lite.replay_log", dl.replay_log, ctx.spark, stg)
        with ctx.span("delta_lite.read"):
            df = dl.read_delta_lite(ctx.spark, stg)
            df.agg(
                F.count(F.lit(1)), F.sum("CONSUMER_DEBT"), F.max("MODIFY_DATE"),
            ).collect()
        return st.version

    def check(self, spark, results: dict) -> list[dict]:
        """On the last pass's tables: the sync reconciled 3-way, the STG
        key set after the last batch equals the generator's prediction,
        and both independent Delta validators accept the final table."""
        from lcr_etl_upgrade_spark import delta_lite as dl
        from tools import cdf_write_validator, v2_checkpoint_validator

        st = self.last
        stg = st["stg"]

        def keys(version):
            t = dl.read_delta_lite(spark, stg, version=version).select(
                "LEAD_GUID").toArrow()
            return sorted(t.column(0).to_pylist())

        # the last batch's key set subsumes the earlier ones: a lost or
        # duplicated key upstream stays lost or duplicated
        batches_ok = keys(st["versions"][-1]) == self.schedule["keys_after"][-1]
        cdf = cdf_write_validator.validate_table(stg)
        dl.write_checkpoint(spark, stg)
        v2 = v2_checkpoint_validator.validate_table(stg)
        return [
            {"op": "sync_table", "ok": st["reconciled"]},
            {"op": "run_incremental", "ok": batches_ok},
            {"op": "cdf_write_validator", "ok": cdf == [], "violations": cdf[:3]},
            {"op": "v2_checkpoint_validator", "ok": bool(v2.get("ok")),
             "violations": (v2.get("violations") or [])[:3]},
        ]

    def table_stats(self) -> dict:
        from perfbench.probes import delta_log_stats

        return {"raw": delta_log_stats(self.last["raw"]),
                "stg": delta_log_stats(self.last["stg"])}


def _timed(ctx: PassContext, span: str, fn, *args, **kwargs):
    with ctx.span(span):
        return fn(*args, **kwargs)


WORKLOADS = {w.name: w for w in (TpchAnalytics, LlmCuration, LcrIngest)}
