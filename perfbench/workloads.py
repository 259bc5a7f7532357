"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation is
sent when the previous one returned.  ``setup`` makes the inputs from the
seed and warms the code paths; ``round`` runs one fixed-composition
round of operations (the seed picks the contents, never the mix, so
rounds of different seeds are comparable); ``check`` verifies the
outputs after the timed window.

An operation that raises is counted as failed and the round goes on; a
check that does not match counts as one failed operation.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F

import gen
from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.pipeline.state import COMPLETE_STATES
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

perf = time.perf_counter


def digest(df, cols: list[str]) -> tuple[int, int]:
    """Row count and an order-insensitive content hash (sum of per-row
    xxhash64, computed by Spark) of ``df``'s ``cols``."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    #: what one timed operation is, for the report
    op = ""

    def __init__(self, spark, work: str, seed: int, cpu_clock):
        self.spark = spark
        self.work = work
        self.seed = seed
        #: CPU seconds used so far by the engine's processes
        self.cpu = cpu_clock
        #: named samples of the timed rounds (``op_cpu_s`` gives the
        #: end-to-end metrics, ``op_s`` is its wall time)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.round_walls: list[float] = []
        self.round_ops: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: set while a traced round runs
        self.tracer = None
        self.space_amp = 0.0

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        detail = "".join(traceback.format_exception_only(type(exc), exc)).strip() if exc else ""
        self.errors.append(f"{what}: {detail}" if detail else what)

    def expect(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check failed: {what}")

    def report(self) -> dict[str, object]:
        return {}

    def warm_up(self, **round_args) -> None:
        """One untimed round at the end of set-up, its figures dropped,
        so the timed rounds find the JIT and Spark's code generation
        warm: an operation's first run compiles, and takes about twice
        the CPU of its later runs."""
        self.round(**round_args)
        self.samples.clear()
        self.round_walls.clear()
        self.round_ops.clear()
        self.errors.clear()
        self.attempted = self.failed = 0


class _Mirror(Workload):
    """Shared parts of the two mirror workloads."""

    def _check_mirror(self, pipeline: MirrorPipeline, source: str, state_dir: str,
                      expected: tuple[int, int]) -> None:
        cols = gen.SOURCE_COLUMNS
        src = digest(DeltaSink(self.spark, source).to_df(), cols)
        self.expect(f"source snapshot {src} equals the generated rows {expected}", src == expected)
        tgt = digest(pipeline.mirror_df(), cols)
        self.expect(f"target {tgt} equals the source snapshot {src}", tgt == src)
        open_items = (pipeline.state.status_df()
                      .filter(~F.col("state").isin(*COMPLETE_STATES)).count())
        self.expect(f"every state item terminal ({open_items} open)", open_items == 0)
        self.space_amp = ((dir_bytes(pipeline.sink.path) + dir_bytes(state_dir))
                          / dir_bytes(source))


class MirrorBackfill(_Mirror):
    """A fresh MirrorPipeline drains a source that already holds many
    commits (first sync, or catch-up after downtime).  One round is one
    full drain into a fresh target and state dir; one operation is one
    ``run_once`` batch, capped at BATCH_ITEMS file actions so the drain
    runs as several batches."""

    name = "mirror_backfill"
    op = "run_once batch"
    ROWS = 60_000
    MONTHS = 12
    COMMITS = 120
    CHECKPOINT_EVERY = 25
    BATCH_ITEMS = 40

    def setup(self) -> None:
        rows = gen.source_rows(np.random.default_rng([self.seed, 2]), self.ROWS, self.MONTHS)
        self.source = os.path.join(self.work, "source")
        gen.write_delta_source(self.source, rows, self.COMMITS, self.CHECKPOINT_EVERY)
        self.expected = digest(self.spark.createDataFrame(rows), gen.SOURCE_COLUMNS)
        self.rounds = 0
        self._drain(record=False)

    def _drain(self, record: bool) -> None:
        tag = f"r{self.rounds % 2}"
        self.rounds += 1
        target = os.path.join(self.work, tag, "target")
        state = os.path.join(self.work, tag, "state")
        shutil.rmtree(os.path.join(self.work, tag), ignore_errors=True)
        pipeline = MirrorPipeline(self.spark, self.source, target, state,
                                  max_items_per_batch=self.BATCH_ITEMS)
        self.last = (pipeline, state)
        batches, cpu_s = [], []
        t0 = perf()
        while True:
            c0 = self.cpu()
            b0 = perf()
            try:
                out = pipeline.run_once()
            except Exception as exc:  # noqa: BLE001 — counted, round goes on
                if not record:
                    raise
                self.attempted += 1
                self.fail("run_once", exc)
                break
            if out["status"] == "up-to-date":
                break
            batches.append(perf() - b0)
            cpu_s.append(self.cpu() - c0)
        wall = perf() - t0
        if record:
            self.attempted += len(batches)
            self.samples["op_s"] += batches
            self.samples["op_cpu_s"] += cpu_s
            self.samples["rows_per_s"].append(self.ROWS / wall)
            self.round_walls.append(wall)
            self.round_ops.append(len(batches))

    def round(self) -> None:
        self._drain(record=True)

    def check(self) -> None:
        pipeline, state = self.last
        self._check_mirror(pipeline, self.source, state, self.expected)

    def report(self):
        return {"rows_per_s": ("rows/s", self.samples["rows_per_s"]),
                "batch_s": ("s", self.samples["op_s"]),
                "batch_cpu_s": ("s", self.samples["op_cpu_s"])}


class MirrorCdc(_Mirror):
    """One writer makes one seeded source commit, then the mirror runs
    ``run_once``; one operation is that cycle (commit start to the
    return of the ``run_once`` that mirrors it).  Every round starts from
    the same seeded, already-synced source and mirror (restored outside
    the timed window) and runs SCHEDULE: copy-on-write DML first, then
    the deletion-vector twins, so the mix stays valid whether or not
    copy-on-write DML accepts tables that carry deletion vectors."""

    name = "mirror_cdc"
    op = "source commit + run_once"
    ROWS = 8_000
    MONTHS = 4
    COMMITS = 8
    CHECKPOINT_EVERY = 4
    KEYS_PER_OP = 20
    APPEND_ROWS = 200
    SCHEDULE = ("append", "delete", "update", "merge",
                "append", "delete_dv", "update_dv", "merge_dv")
    UPDATE_SET = {"l_quantity": "l_quantity + 1", "l_returnflag": "'U'"}

    def setup(self) -> None:
        rows = gen.source_rows(np.random.default_rng([self.seed, 2]), self.ROWS, self.MONTHS)
        self.base = rows
        # the mirror records absolute source and target paths, so the
        # synced state is restored to the directory it was made in
        self.live = os.path.join(self.work, "live")
        self.pristine = os.path.join(self.work, "pristine")
        source, target, state = self._dirs(self.live)
        gen.write_delta_source(source, rows, self.COMMITS, self.CHECKPOINT_EVERY)
        MirrorPipeline(self.spark, source, target, state, on_dv="materialize").run_until_idle()
        shutil.copytree(self.live, self.pristine)
        self.warm_up(sync_each=False)

    @staticmethod
    def _dirs(root: str) -> tuple[str, str, str]:
        return tuple(os.path.join(root, d) for d in ("source", "target", "state"))

    def _model_digest(self) -> tuple[int, int]:
        tbl = pa.Table.from_pandas(self.model.reset_index(), preserve_index=False)
        return digest(self.spark.createDataFrame(tbl.select(gen.SOURCE_COLUMNS)),
                      gen.SOURCE_COLUMNS)

    def round(self, sync_each: bool = True) -> None:
        """One round of SCHEDULE from the pristine copy.  With
        ``sync_each`` off (the set-up's warm-up) the mirror runs once
        after the last commit instead of after each."""
        shutil.rmtree(self.live)
        shutil.copytree(self.pristine, self.live)
        source, target, state = self._dirs(self.live)
        sink = DeltaSink(self.spark, source, partition_by=[gen.PARTITION_COL])
        pipeline = MirrorPipeline(self.spark, source, target, state, on_dv="materialize")
        self.last = (pipeline, source, state)
        self.model = self.base.to_pandas().set_index("l_orderkey")
        rng = np.random.default_rng([self.seed, 3])
        next_key = self.ROWS
        wall = 0.0
        for kind in self.SCHEDULE:
            call, apply, changed = self._op(kind, sink, rng, next_key)
            if kind in ("append", "merge", "merge_dv"):
                next_key += self.APPEND_ROWS
            self.attempted += 1
            c0 = self.cpu()
            t0 = perf()
            try:
                call()
                t1 = perf()
                if sync_each:
                    pipeline.run_once()
            except Exception as exc:  # noqa: BLE001 — counted, round goes on
                wall += perf() - t0
                self.fail(kind, exc)
                continue
            t2 = perf()
            self.samples["op_cpu_s"].append(self.cpu() - c0)
            wall += t2 - t0
            apply()
            if self.tracer is not None and kind != "append":
                self.tracer.count("delta_sink.rows_changed", changed)
            self.samples["op_s"].append(t2 - t0)
            self.samples["commit_s"].append(t1 - t0)
            self.samples["batch_s"].append(t2 - t1)
            self.samples[f"fresh_s.{kind}"].append(t2 - t0)
        if not sync_each:
            pipeline.run_until_idle()
        self.round_walls.append(wall)
        self.round_ops.append(len(self.SCHEDULE))

    def _op(self, kind: str, sink: DeltaSink, rng, next_key: int):
        """(commit call, model update, rows changed) for one operation;
        inputs are built here, before the operation's clock starts."""
        model = self.model
        if kind == "append":
            rows = gen.source_rows(rng, self.APPEND_ROWS, self.MONTHS, first_key=next_key)
            df = self.spark.createDataFrame(rows)

            def apply():
                self.model = pd.concat([model, rows.to_pandas().set_index("l_orderkey")])
            return (lambda: sink.append(df)), apply, rows.num_rows
        k = int(rng.choice(model.index.to_numpy()))
        hit = model.index[(model.index >= k) & (model.index < k + self.KEYS_PER_OP)]
        pred = f"l_orderkey >= {k} AND l_orderkey < {k + self.KEYS_PER_OP}"
        if kind in ("delete", "delete_dv"):
            def apply():
                self.model = model.drop(index=hit)
            return (lambda: getattr(sink, kind)(pred)), apply, len(hit)
        if kind in ("update", "update_dv"):
            def apply():
                m = model.copy()
                m.loc[hit, "l_quantity"] += 1
                m.loc[hit, "l_returnflag"] = "U"
                self.model = m
            return (lambda: getattr(sink, kind)(pred, self.UPDATE_SET)), apply, len(hit)
        # merge: the matched rows with a new tax, plus APPEND_ROWS new keys
        matched = model.loc[hit].assign(l_tax=0.5)
        fresh = gen.source_rows(rng, self.APPEND_ROWS, self.MONTHS, first_key=next_key)
        upsert = pd.concat([matched, fresh.to_pandas().set_index("l_orderkey")])
        tbl = pa.Table.from_pandas(upsert.reset_index(), preserve_index=False)
        df = self.spark.createDataFrame(tbl.select(gen.SOURCE_COLUMNS))

        def apply():
            m = model.drop(index=hit)
            self.model = pd.concat([m, upsert])
        keys = ["l_orderkey", gen.PARTITION_COL]
        return (lambda: getattr(sink, kind)(df, keys)), apply, len(upsert)

    def check(self) -> None:
        self._check_mirror(*self.last, self._model_digest())

    def report(self):
        out = {"fresh_s": ("s", self.samples["op_s"]),
               "fresh_cpu_s": ("s", self.samples["op_cpu_s"]),
               "commit_s": ("s", self.samples["commit_s"]),
               "batch_s": ("s", self.samples["batch_s"])}
        for kind in dict.fromkeys(self.SCHEDULE):
            out[f"fresh_s.{kind}"] = ("s", self.samples[f"fresh_s.{kind}"])
        return out


class QueryMix(Workload):
    """A seeded order over a fixed list of oracle-checked registry
    queries; one round is PASSES passes over the list, each in its own
    seeded order, and one operation is one query (registry ``fn`` call
    plus a noop-format write).  Two passes put two samples of each
    query around the median.  The mirror
    and the Delta log do no work here: it is the control for mirror-side
    changes, and the mirror workloads are its control."""

    name = "query_mix"
    op = "registry query (fn + noop write)"
    SF = 0.02
    PASSES = 2
    QUERIES = (
        "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_customer",
        "d14_percentiles", "c1_anti_join",
        "kql_summarize_pipeline", "kql_make_series", "kql_parse_kv",
        "e1_topk_per_group", "dedup_minhash_lsh", "text_bm25_search",
        "ts_series_decompose",
    )

    def setup(self) -> None:
        from mirror_lake_kusto_spark.queries import all_queries
        from tools.verify_local import value_hash

        self.data = os.path.join(self.work, "data")
        gen.write_query_tables(self.seed, self.SF, self.data)
        registry = all_queries()
        self.queries = [registry[n] for n in self.QUERIES]
        self.rng = np.random.default_rng([self.seed, 4])
        # warm-up pass: its collected results are the outputs checked
        # against the oracle after the timed window
        self.results = {}
        for q in self.queries:
            self.spark.catalog.clearCache()
            try:
                df = q.fn(self.spark, self.data)
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — reported by check()
                self.results[q.name] = exc
                continue
            cols = df.columns
            self.results[q.name] = (sorted(cols), len(rows),
                                    value_hash(cols, [[r[c] for c in cols] for r in rows]))
        # the timed operation ends in a noop write, not a collect; after
        # the collecting pass alone the first timed round still took half
        # again the CPU of the rounds after it
        self.warm_up(passes=1)

    def round(self, passes: int = PASSES) -> None:
        wall = 0.0
        order = np.concatenate([self.rng.permutation(len(self.queries))
                                for _ in range(passes)])
        for i in order:
            q = self.queries[i]
            module = q.fn.__module__.rsplit(".", 1)[-1]
            # operators that persist an index (LSH signatures) would
            # otherwise serve every later call of the query from cache
            self.spark.catalog.clearCache()
            self.attempted += 1
            c0 = self.cpu()
            t0 = perf()
            try:
                df = q.fn(self.spark, self.data)
                t1 = perf()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted, round goes on
                wall += perf() - t0
                self.fail(q.name, exc)
                continue
            t2 = perf()
            self.samples["op_cpu_s"].append(self.cpu() - c0)
            wall += t2 - t0
            self.samples["op_s"].append(t2 - t0)
            self.samples[f"query_s.{q.name}"].append(t2 - t0)
            if self.tracer is not None:
                self.tracer.count(f"queries.{module}.build_s", t1 - t0)
                self.tracer.count(f"queries.{module}.exec_s", t2 - t1)
        self.round_walls.append(wall)
        self.round_ops.append(len(order))

    def check(self) -> None:
        import duckdb
        from tools.verify_local import value_hash

        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                got = self.results[q.name]
                if isinstance(got, Exception):
                    self.attempted += 1
                    self.fail(f"{q.name} (warm-up)", got)
                    continue
                cur = con.execute(q.oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                want = (sorted(cols), len(rows), value_hash(cols, rows))
                self.expect(f"{q.name} equals its DuckDB oracle", got == want)
        finally:
            con.close()

    def report(self):
        out = {"query_s": ("s", self.samples["op_s"]),
               "query_cpu_s": ("s", self.samples["op_cpu_s"])}
        for name in self.QUERIES:
            out[f"query_s.{name}"] = ("s", self.samples[f"query_s.{name}"])
        return out


WORKLOADS = {w.name: w for w in (MirrorBackfill, MirrorCdc, QueryMix)}
