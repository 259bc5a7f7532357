"""Mirror-pipeline scenario replay — the reference's integration matrix
(SURVEY §5) on local Delta tables, DuckDB-free (asserts are exact row
sets, like the reference's Kusto-query asserts).

Key idioms replicated: author source with a writer, sync, assert
row counts / key sets / partition-scoped counts on the mirror; run
scenarios both one-shot (all commits then one sync) and two-shot
(sync between commits) to prove incremental ≡ batch
(SimpleTest.cs:46-95, LoadTest.cs:30-71, DeleteTest.cs:12-108).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline, SchemaChangedError
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _mk(spark, tmp_path, name, **kw):
    # scenario-replay tests pin the reference-faithful CSV state store
    # (delta is the engine default; test_delta_state.py covers it)
    kw.setdefault("state_backend", "csv")
    return MirrorPipeline(
        spark,
        str(tmp_path / f"{name}_src"),
        str(tmp_path / f"{name}_dst"),
        str(tmp_path / f"{name}_state"),
        table_name=name,
        **kw,
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


# -- Simple suite (SimpleTest.cs) -------------------------------------------


def test_one_row_one_column(spark, tmp_path):
    p = _mk(spark, tmp_path, "one")
    src = DeltaSink(spark, p.source)
    src.append(spark.range(1).toDF("id"))
    r = p.run_once()
    assert r["status"] == "processed" and r["adds_staged"] >= 1
    out = p.mirror_df()
    assert _ids(out) == [0]
    assert {"MLK_BlobPath", "MLK_BatchTxId"} <= set(out.columns)  # lineage (H5)
    assert p.run_once()["status"] == "up-to-date"


def test_multi_row(spark, tmp_path):
    p = _mk(spark, tmp_path, "multi")
    DeltaSink(spark, p.source).append(spark.range(10).toDF("id"))
    p.run_once()
    assert _ids(p.mirror_df()) == list(range(10))


@pytest.mark.parametrize("mode", ["one_shot", "incremental"])
def test_checkpoint_crossing(spark, tmp_path, mode):
    """11 commits cross the source's parquet checkpoint; both sync
    cadences land ids 0..10 (SimpleTest.cs:46-95)."""
    p = _mk(spark, tmp_path, f"ckpt_{mode}")
    src = DeltaSink(spark, p.source, checkpoint_interval=10)
    for i in range(11):
        src.append(spark.createDataFrame([(i,)], "id long"))
        if mode == "incremental":
            p.run_once()
    if mode == "one_shot":
        p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(11))
    assert DL.read_last_checkpoint(p.source) is not None  # crossing happened


def test_delete_then_sync(spark, tmp_path):
    p = _mk(spark, tmp_path, "del")
    src = DeltaSink(spark, p.source)
    for i in range(11):
        src.append(spark.createDataFrame([(i,)], "id long"))
    p.run_once()
    src.delete("id = 0")
    p.run_once()
    assert _ids(p.mirror_df()) == list(range(1, 11))


# -- Electric suite (LoadTest.cs / DeleteTest.cs) ---------------------------


def _author_partitioned(spark, path, n=300):
    src = DeltaSink(spark, path, partition_by=["year"])
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 3 + 2020).cast("long").alias("year")
    )
    src.append(df)
    return src


def test_partitioned_load(spark, tmp_path):
    """Partition values are injected constants, never read from data
    files (O6/A7); partition-scoped count matches (LoadTest.cs:73-89)."""
    p = _mk(spark, tmp_path, "pload")
    _author_partitioned(spark, p.source)
    p.run_once()
    out = p.mirror_df()
    assert out.count() == 300
    assert out.filter("year = 2020").count() == 100
    assert dict(out.groupBy().agg(F.countDistinct("year").alias("y")).first().asDict())["y"] == 3


@pytest.mark.parametrize("mode", ["one_shot", "two_shot"])
def test_optimize_no_duplication(spark, tmp_path, mode):
    """OPTIMIZE churn (dataChange=false add+remove) must not change the
    mirror's contents (O2; LoadTest.cs:30-71).  one_shot: cancellation
    inside the coalesced batch (C1).  two_shot: compacted file ingested,
    original blobs' rows deleted (C3+K6) — net identical."""
    p = _mk(spark, tmp_path, f"opt_{mode}")
    src = DeltaSink(spark, p.source)
    for i in range(4):
        src.append(spark.range(i * 25, (i + 1) * 25).toDF("id"))
    if mode == "two_shot":
        p.run_until_idle()
    src.optimize()
    p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(100))


def test_partitioned_delete(spark, tmp_path):
    p = _mk(spark, tmp_path, "pdel")
    src = _author_partitioned(spark, p.source)
    p.run_once()
    src.delete("year = 2021")
    p.run_once()
    out = p.mirror_df()
    assert out.count() == 200
    assert out.filter("year = 2021").count() == 0


def test_partitioned_lineage_spelling_through_removes(spark, tmp_path):
    """MLK_BlobPath spelling through staging AND removes: partition
    values with a space, a ':' (Spark escapes it, so the directory is
    literally ``p=x%3Ay``) and null.  A copy-on-write delete and a
    merge-on-read delete on the source both reach the target."""
    p = _mk(spark, tmp_path, "plin", on_dv="materialize")
    src = DeltaSink(spark, p.source, partition_by=["p"])
    src.append(
        spark.range(30).selectExpr(
            "id", "CASE id % 3 WHEN 0 THEN 'a b' WHEN 1 THEN 'x:y' END AS p"
        )
    )
    p.run_until_idle()
    src.delete("id IN (3, 4)")
    src.delete_dv("id IN (6, 7, 8)")
    p.run_until_idle()

    def rows(df):
        return sorted(
            (r["id"], r["p"]) for r in df.collect()
        )

    expect = [
        (i, ["a b", "x:y", None][i % 3])
        for i in range(30)
        if i not in (3, 4, 6, 7, 8)
    ]
    assert rows(DL.read_snapshot(spark, p.source)) == expect
    out = p.mirror_df()
    assert rows(out) == expect
    # every mirrored row names a LIVE source file, spelled as removes
    # key on it
    live = {
        p._lineage_path(f["path"])
        for f in DL.snapshot_files(spark, p.source)
    }
    assert {r["MLK_BlobPath"] for r in out.collect()} == live


def test_staged_schema_does_not_depend_on_batch_shape(spark, tmp_path):
    """A one-file batch and a batch of several files (several partition
    tuples) stage the same schema: the target records its metaData once,
    at creation, and never again."""
    p = _mk(spark, tmp_path, "shape")
    src = DeltaSink(spark, p.source, partition_by=["p"])
    def rows(ids):
        return spark.createDataFrame(
            [(i, str(i % 3)) for i in ids], "id long, p string"
        )

    src.append(rows([0, 3, 6]).coalesce(1))
    src.set_properties({"delta.enableRowTracking": "true"})
    assert len(DL.snapshot_files(spark, p.source)) == 1
    p.run_until_idle()
    first = DL.list_commit_versions(p.sink.path)[-1]
    src.append(rows([1, 2, 4, 5, 7, 8, 9, 10, 11]))
    p.run_until_idle()
    later = [v for v in DL.list_commit_versions(p.sink.path) if v > first]
    assert later
    for v in later:
        assert not any("metaData" in a for a in DL._read_commit(p.sink.path, v))
    out = p.mirror_df()
    assert _ids(out) == list(range(12))
    assert out.filter("MLK_SourceRowId IS NULL").count() == 0


def test_go_back_with_creation_time(spark, tmp_path):
    """go-back retention: partitions whose creation-time expression
    predates the cutoff are never ingested, and their later removes are
    skipped without error (O5/J1; DeleteTest.cs:55-108, expr shape from
    ElectricTestBase.cs:12)."""
    fixed_now = dt.datetime(2022, 6, 1)
    p = _mk(
        spark,
        tmp_path,
        "goback",
        go_back_days=547,
        creation_time_expr="to_timestamp(concat(p0, '-01-01'))",
        now_fn=lambda: fixed_now,
    )
    src = _author_partitioned(spark, p.source)  # years 2020/2021/2022
    p.run_once()
    out = p.mirror_df()
    # 2020-01-01 < cutoff(~2020-12-06): skipped; 2021/2022 kept
    assert out.filter("year = 2020").count() == 0
    assert out.filter("year = 2021").count() == 100
    assert out.filter("year = 2022").count() == 100
    # delete spanning skipped + kept years: no error, kept year shrinks
    src.delete("year IN (2020, 2022)")
    p.run_once()
    out2 = p.mirror_df()
    assert out2.filter("year = 2022").count() == 0
    assert out2.filter("year = 2021").count() == 100


# -- engine-specific guarantees ---------------------------------------------


def test_one_shot_equals_two_shot(spark, tmp_path):
    """Incremental ≡ batch, the reference's core invariant, with mixed
    appends/deletes/compaction."""

    def scenario(src):
        yield src.append(spark.range(0, 50).toDF("id"))
        yield src.append(spark.range(50, 100).toDF("id"))
        yield src.delete("id % 7 = 0")
        yield src.optimize()
        yield src.append(spark.range(100, 120).toDF("id"))

    p1 = _mk(spark, tmp_path, "oneshot")
    for _ in scenario(DeltaSink(spark, p1.source)):
        pass
    p1.run_until_idle()

    p2 = _mk(spark, tmp_path, "twoshot")
    src2 = DeltaSink(spark, p2.source)
    for _ in scenario(src2):
        p2.run_until_idle()

    assert _ids(p1.mirror_df()) == _ids(p2.mirror_df()) == sorted(
        i for i in range(120) if not (i % 7 == 0 and i < 100)
    )


def test_crash_recovery_no_double_ingest(spark, tmp_path):
    """Crash between the sink data commit and the state persist: the
    resumed batch sees the sink's txn version and does NOT re-append
    (I3; DeltaTableOrchestration.cs:76-81 + Delta txn idempotence)."""
    p = _mk(spark, tmp_path, "crash")
    DeltaSink(spark, p.source).append(spark.range(100).toDF("id"))

    boom = RuntimeError("simulated crash")
    orig = MirrorPipeline._stamp_and_persist
    try:
        def crash(self, items):
            raise boom

        MirrorPipeline._stamp_and_persist = crash
        with pytest.raises(RuntimeError):
            p.run_once()
    finally:
        MirrorPipeline._stamp_and_persist = orig

    # fresh pipeline object = fresh process; state says batch incomplete
    p2 = _mk(spark, tmp_path, "crash")
    r = p2.run_once()
    assert r["resumed"] is True
    assert _ids(p2.mirror_df()) == list(range(100))  # exactly once
    assert p2.run_once()["status"] == "up-to-date"


def test_schema_change_rejected(spark, tmp_path):
    """Mid-stream schema change fails loudly
    (TransactionLog.cs:153-157 parity)."""
    p = _mk(spark, tmp_path, "schemachg")
    src = DeltaSink(spark, p.source)
    src.append(spark.range(5).toDF("id"))
    p.run_once()
    src.append(spark.range(5).select(F.col("id"), F.lit("x").alias("extra")))
    with pytest.raises(SchemaChangedError):
        p.run_once()


def test_state_view_arg_max(spark, tmp_path):
    """The status view is last-writer-wins per item key (D3/D4/K7) and
    deterministically ordered (F1)."""
    p = _mk(spark, tmp_path, "stateview")
    DeltaSink(spark, p.source).append(spark.range(3).toDF("id"))
    p.run_once()
    st = p.state.status_df().collect()
    add_rows = [r for r in st if r["action"] == "Add"]
    assert add_rows and all(r["state"] == "Done" for r in add_rows)
    # raw store has Initial AND Done rows for the same key; view has one
    raw = p.state._raw_df()
    assert raw.count() > len(st)
    # the driver-held LWW map and the Spark-computed view agree exactly,
    # including for a fresh store rehydrated from the CSVs
    from mirror_lake_kusto_spark.pipeline.state import COLUMNS, StateStore

    spark_view = [{c: r[c] for c in COLUMNS} for r in st]
    assert p.state.current_items() == spark_view
    fresh = StateStore(spark, p.state.dir)
    assert fresh.current_items() == spark_view


def test_multi_table_fan_out(spark, tmp_path):
    """One pipeline per table, drained in parallel (§3.1 Task.WhenAll
    shape; MirrorOrchestration.cs:64-81,127-132)."""
    from mirror_lake_kusto_spark.pipeline.multi import MirrorOrchestration

    srcs = {}
    for name, n in [("alpha", 20), ("beta", 30), ("gamma", 40)]:
        path = str(tmp_path / f"src_{name}")
        DeltaSink(spark, path).append(spark.range(n).toDF("id"))
        srcs[name] = {"source_path": path}
    orch = MirrorOrchestration(spark, srcs, str(tmp_path / "mirrors"))
    results = orch.run_until_idle()
    assert set(results) == {"alpha", "beta", "gamma"}
    assert all(len(r) == 1 for r in results.values())
    assert orch.mirror_df("alpha").count() == 20
    assert orch.mirror_df("beta").count() == 30
    assert orch.mirror_df("gamma").count() == 40


def test_vacuumed_log_snapshot_diff(spark, tmp_path):
    """Commits older than the checkpoint are vacuumed away AFTER the
    mirror's last sync: the pipeline must fall back to checkpoint
    snapshot-diff (C2/O1; TransactionLog.cs:116-164) — new files since
    the high-water mark are discovered as snapshot-minus-processed, and
    files deleted meanwhile become removes."""
    p = _mk(spark, tmp_path, "vac")
    src = DeltaSink(spark, p.source, checkpoint_interval=10)
    for i in range(6):  # v0..v5
        src.append(spark.createDataFrame([(i,)], "id long"))
    p.run_until_idle()  # hwm = 5
    src.delete("id = 2")  # v6: remove + rewrite
    for i in range(6, 12):  # v7..v12 (checkpoint written at v9)
        src.append(spark.createDataFrame([(i,)], "id long"))
    stats = src.vacuum()
    assert stats["log_files"] > 0  # JSONs <= checkpoint version gone
    assert DL.list_commit_versions(p.source)[0] > 6  # gap before hwm+1
    p.run_until_idle()
    assert _ids(p.mirror_df()) == [i for i in range(12) if i != 2]
    # idempotent: a second sync discovers nothing
    assert p.run_once()["status"] == "up-to-date"


def test_fresh_mirror_on_vacuumed_source(spark, tmp_path):
    """A BRAND-NEW mirror (hwm=-1) of a source whose early commits were
    already vacuumed must read the checkpoint snapshot, not just the
    surviving JSON commits — otherwise every checkpoint-only file is
    silently lost (C2/O1; DeltaTableGateway.cs:71-122)."""
    src_path = str(tmp_path / "fresh_vac_src")
    src = DeltaSink(spark, src_path, checkpoint_interval=10)
    for i in range(12):  # v0..v11, checkpoint written at v9
        src.append(spark.createDataFrame([(i,)], "id long"))
    stats = src.vacuum()
    assert stats["log_files"] > 0
    assert DL.list_commit_versions(src_path)[0] > 0  # gap at the head
    p = MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / "fresh_vac_dst"),
        str(tmp_path / "fresh_vac_state"),
        table_name="fresh_vac",
        state_backend="csv",
    )
    p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(12))
    assert p.run_once()["status"] == "up-to-date"


def test_partition_pruning_skips_files(spark, tmp_path):
    """A partition-only predicate must prune whole partition groups
    before any data file is opened (O6 dual; partition values live in
    the log, not the files)."""
    path = str(tmp_path / "prune_t")
    src = _author_partitioned(spark, path)  # years 2020..2022
    full = src.to_df()
    pruned = src.to_df(partition_predicate="year = 2021")
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # typed comparison works too (year is long)
    assert src.to_df(partition_predicate="year >= 2021").count() == 200


def test_distributed_log_paths_match_driver_paths(spark, tmp_path, monkeypatch):
    """The driver-side log fast paths (json/pyarrow parsing) fall back
    to the distributed readers (spark.read.json, Spark log replay,
    DataFrame anti-join coalescing) past _DRIVER_JSON_BYTES — the path
    a 100 TB table's log takes.  Forcing the threshold to 0 must
    produce the identical mirror."""
    # driver-path run (same scenario, separate table)
    pd_ = _mk(spark, tmp_path, "fbA")
    srcA = DeltaSink(spark, pd_.source)
    for i in range(3):
        srcA.append(spark.createDataFrame([(i,)], "id long"))
    pd_.run_until_idle()
    srcA.delete("id = 1")
    pd_.run_until_idle()
    expect = _ids(pd_.mirror_df())
    assert expect == [0, 2]

    monkeypatch.setattr(DL, "_DRIVER_JSON_BYTES", 0)
    ps = _mk(spark, tmp_path, "fbB")
    srcB = DeltaSink(spark, ps.source)
    for i in range(3):
        srcB.append(spark.createDataFrame([(i,)], "id long"))
    ps.run_until_idle()
    srcB.delete("id = 1")
    ps.run_until_idle()
    assert _ids(ps.mirror_df()) == expect
    # spark-side snapshot replay agrees with the driver replay
    spark_files = DL.snapshot_files(spark, ps.source)
    monkeypatch.undo()
    driver_files = DL.snapshot_files(spark, ps.source)
    assert sorted(f["path"] for f in spark_files) == sorted(
        f["path"] for f in driver_files
    )


def test_empty_file_add_skips_ingestion(spark, tmp_path):
    """O4: an add whose stats say numRecords==0 flips straight to Done —
    no read, no sink commit for it (BlobStagingOrchestration.cs:185-205;
    stats parse TransactionLogEntry.cs:345-361)."""
    p = _mk(spark, tmp_path, "emptyadd")
    src = DeltaSink(spark, p.source)
    src.append(spark.range(3).toDF("id"))
    src.append(spark.range(0).toDF("id"))  # commit with an empty file
    p.run_until_idle()
    assert _ids(p.mirror_df()) == [0, 1, 2]
    adds = p.state.current_items("emptyadd", "Add")
    empty = [a for a in adds if a["record_count"] == 0]
    full = [a for a in adds if a["record_count"] and a["record_count"] > 0]
    assert empty and all(a["state"] == "Done" for a in empty)
    assert full and all(a["state"] == "Done" for a in full)
    # the empty blob was never ingested: no mirror row carries its path
    empty_paths = {a["blob_path"] for a in empty}
    lineage = {r["MLK_BlobPath"] for r in p.mirror_df().select("MLK_BlobPath").collect()}
    assert not any(any(bp in ln for ln in lineage) for bp in empty_paths)


def test_target_optimize_compacts_without_changing_rows(spark, tmp_path):
    """optimize_target_every compacts the mirror's small files
    (dataChange=false) without changing contents, and later syncs and
    deletes still work against the compacted files."""
    p = _mk(spark, tmp_path, "topt", optimize_target_every=4)
    src = DeltaSink(spark, p.source)
    for i in range(4):
        src.append(spark.createDataFrame([(i,)], "id long"))
        p.run_until_idle()
    files_after = len(DL.snapshot_files(spark, p.sink.path))
    assert files_after == 1  # 4 one-row commits compacted to one file
    assert _ids(p.mirror_df()) == [0, 1, 2, 3]
    # removes keyed on MLK_BlobPath still work after compaction
    src.delete("id = 2")
    p.run_until_idle()
    assert _ids(p.mirror_df()) == [0, 1, 3]


def test_optimize_respects_target_file_size(spark, tmp_path):
    """optimize() sizes its output by bytes, never blindly one file: a
    tiny target forces multiple output files; the default compacts the
    same group to one."""
    path = str(tmp_path / "szopt")
    src = DeltaSink(spark, path)
    for i in range(4):
        src.append(spark.range(i * 1000, (i + 1) * 1000).toDF("id").coalesce(1))
    files = DL.snapshot_files(spark, path)
    group_bytes = sum(f["size"] for f in files)
    assert len(files) == 4
    src.optimize(target_file_bytes=group_bytes // 2)
    after = DL.snapshot_files(spark, path)
    assert 2 <= len(after) < 4  # compacted, but not to a single file
    assert sorted(r["id"] for r in src.to_df().collect()) == list(range(4000))
    src.optimize()  # default 128MB target -> single file
    assert len(DL.snapshot_files(spark, path)) == 1


def test_go_back_without_expr_uses_blob_timestamps(spark, tmp_path):
    """O5 default path: with no creation-time expression, retention is
    judged on each add's delta modificationTime.  A far-future 'now'
    puts every blob outside the window -> nothing ingested; a later
    source delete of a skipped blob is itself skipped without error."""
    future = dt.datetime(2100, 1, 1)
    p = _mk(
        spark,
        tmp_path,
        "goback_ts",
        go_back_days=365,
        now_fn=lambda: future,
    )
    src = DeltaSink(spark, p.source)
    src.append(spark.range(5).toDF("id").coalesce(1))
    p.run_until_idle()
    assert p.mirror_df().count() == 0
    adds = p.state.current_items("goback_ts", "Add")
    assert adds and all(a["state"] == "Skipped" for a in adds)
    src.delete("id = 1")
    p.run_until_idle()  # remove of a skipped add -> skipped, no error
    removes = p.state.current_items("goback_ts", "Remove")
    assert removes and all(r["state"] == "Skipped" for r in removes)


def test_re_added_path_ingested_once(spark, tmp_path, monkeypatch):
    """A path re-committed by a later add (stats recompute pattern:
    same file, dataChange=false, refreshed stats) must ingest ONCE —
    on both the driver-parse path and the distributed DataFrame path."""
    import json as _json
    import os as _os

    def author(name):
        p = _mk(spark, tmp_path, name)
        src = DeltaSink(spark, p.source)
        src.append(spark.range(10).toDF("id").coalesce(1))
        f0 = DL.snapshot_files(spark, p.source)[0]
        re_add = {
            "add": {
                "path": f0["path"],
                "partitionValues": {},
                "size": f0["size"],
                "modificationTime": 1,
                "dataChange": False,
                "stats": _json.dumps({"numRecords": f0["numRecords"]}),
            }
        }
        with open(
            _os.path.join(p.source, "_delta_log", f"{1:020d}.json"), "x"
        ) as fh:
            fh.write(_json.dumps(re_add) + "\n")
        return p

    p1 = author("readd_driver")
    p1.run_until_idle()
    assert _ids(p1.mirror_df()) == list(range(10))

    monkeypatch.setattr(DL, "_DRIVER_JSON_BYTES", 0)
    p2 = author("readd_spark")
    p2.run_until_idle()
    assert _ids(p2.mirror_df()) == list(range(10))


def test_concurrent_writers_optimistic_commit(spark, tmp_path):
    """Two DeltaSink instances on the same table: version-file creation
    with open('x') is the optimistic-concurrency point — interleaved
    appends must land as distinct commits with no lost updates."""
    path = str(tmp_path / "cc_table")
    a = DeltaSink(spark, path)
    b = DeltaSink(spark, path)
    a.append(spark.createDataFrame([(1,)], "id long"))
    b.append(spark.createDataFrame([(2,)], "id long"))
    a.append(spark.createDataFrame([(3,)], "id long"))
    b.append(spark.createDataFrame([(4,)], "id long"))
    assert DL.list_commit_versions(path) == [0, 1, 2, 3]
    assert sorted(r["id"] for r in a.to_df().collect()) == [1, 2, 3, 4]
    # a mirror consuming the mixed-writer log sees everything
    p = MirrorPipeline(
        spark, path, str(tmp_path / "cc_dst"), str(tmp_path / "cc_state"),
        table_name="cc", state_backend="csv",
    )
    p.run_until_idle()
    assert _ids(p.mirror_df()) == [1, 2, 3, 4]


def test_noop_first_op_leaves_no_unreadable_v0(spark, tmp_path):
    """OPTIMIZE/DELETE as the very first operation on an empty table
    must NOT bootstrap v0 with the '{}' placeholder schema — the table
    would be unreadable until a later append."""
    path = str(tmp_path / "noop_first")
    sink = DeltaSink(spark, path)
    assert sink.optimize() == -1
    assert sink.delete("id = 1") == -1
    assert DL.list_commit_versions(path) == []  # no junk commit
    assert sink.to_df().count() == 0  # still readable (empty)
    sink.append(spark.range(3).toDF("id"))
    assert _ids(sink.to_df()) == [0, 1, 2]
    meta = DL.latest_metadata(spark, path)
    assert "fields" in meta["schemaString"]  # real schema at v0


def test_commit_retry_detects_conflicting_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """An optimistic-commit loser must NOT blindly re-submit actions
    that conflict with the winner's: a concurrent commit removing the
    same path fails with ConcurrentCommitConflict; disjoint paths
    retry cleanly."""
    import json as _json
    import os as _os

    from mirror_lake_kusto_spark.sources.delta_sink import (
        ConcurrentCommitConflict,
    )

    path = str(tmp_path / "conflict_t")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(2).toDF("id"))  # v0
    # a concurrent winner lands v1 removing file "X"
    win = {
        "remove": {
            "path": "X",
            "deletionTimestamp": 0,
            "dataChange": True,
            "partitionValues": {},
        }
    }
    with open(_os.path.join(path, "_delta_log", f"{1:020d}.json"), "x") as f:
        f.write(_json.dumps(win) + "\n")

    def stale_then_real(real=sink._next_version):
        # first call: the loser still believes v1 is free
        calls.append(1)
        return 1 if len(calls) == 1 else real()

    calls: list[int] = []
    monkeypatch.setattr(sink, "_next_version", stale_then_real)
    with pytest.raises(ConcurrentCommitConflict):
        sink._commit(
            [{"remove": {"path": "X", "deletionTimestamp": 0,
                         "dataChange": True, "partitionValues": {}}}]
        )
    # disjoint path: retry succeeds at the next version
    calls.clear()
    v = sink._commit(
        [{"remove": {"path": "Y", "deletionTimestamp": 0,
                     "dataChange": True, "partitionValues": {}}}]
    )
    assert v == 2


def test_checkpoint_pinned_to_named_version(spark, tmp_path):
    """A checkpoint file named v must embed the state at v, not the
    latest state at write time — else upto=v time-travel reads see a
    concurrent writer's v+1 effects."""
    import pyarrow.parquet as _pq

    path = str(tmp_path / "ckpt_pin")
    sink = DeltaSink(spark, path, checkpoint_interval=1000)
    for i in range(4):  # v0..v3, one file each
        sink.append(spark.createDataFrame([(i,)], "id long").coalesce(1))
    # simulate: checkpoint for v1 written while v2/v3 already exist
    sink._write_checkpoint(1)
    ckpt = f"{path}/_delta_log/{1:020d}.checkpoint.parquet"
    adds = [
        a for a in _pq.read_table(ckpt, columns=["add"]).column(0).to_pylist()
        if a is not None
    ]
    assert len(adds) == 2  # only v0 and v1 files — not v2/v3


def test_crashed_append_leaves_no_visible_rows(spark, tmp_path):
    """The commit file is the atomicity point (K5/O11): a writer that
    dies after moving data files but before committing leaves orphans
    that no reader sees; vacuum physically removes them."""
    path = str(tmp_path / "crash_append")
    src = DeltaSink(spark, path)
    src.append(spark.range(5).toDF("id").coalesce(1))

    orig = DeltaSink._commit
    boom = RuntimeError("crash before commit")
    try:
        def crash(self, actions, **kw):
            raise boom

        DeltaSink._commit = crash
        with pytest.raises(RuntimeError):
            src.append(spark.range(5, 10).toDF("id").coalesce(1))
    finally:
        DeltaSink._commit = orig

    assert _ids(src.to_df()) == [0, 1, 2, 3, 4]  # orphan invisible
    stats = src.vacuum()
    assert stats["data_files"] == 1  # the orphan is physically removed
    assert _ids(src.to_df()) == [0, 1, 2, 3, 4]
    # the writer keeps working after the crash
    src.append(spark.range(5, 10).toDF("id").coalesce(1))
    assert _ids(src.to_df()) == list(range(10))


def _author_metadata_only_source(tmp_path, name, n_commits, adds_per_commit):
    """Raw JSON Delta log with zero-record adds (no data files needed:
    analyze marks them Done without any read) — lets tests exercise
    metadata-scale batching without metadata-scale IO."""
    import json as _json
    import os as _os

    path = str(tmp_path / name)
    _os.makedirs(_os.path.join(path, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    for v in range(n_commits):
        lines = []
        if v == 0:
            lines.append(_json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            ))
            lines.append(_json.dumps({"metaData": {
                "id": "synthetic", "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema), "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }}))
        for i in range(adds_per_commit):
            lines.append(_json.dumps({"add": {
                "path": f"f{v:05d}_{i:05d}.parquet", "partitionValues": {},
                "size": 10, "modificationTime": 0, "dataChange": True,
                "stats": "{\"numRecords\": 0}",
            }}))
        with open(_os.path.join(path, "_delta_log", f"{v:020d}.json"), "x") as f:
            f.write("\n".join(lines) + "\n")
    return path


def test_incremental_chunking_bounds_driver_items(spark, tmp_path):
    """A large pending commit span is processed in commit-boundary
    chunks: no single batch materializes more than max_items_per_batch
    TransactionItems on the driver (SURVEY §7.4 scaling ceiling)."""
    src = _author_metadata_only_source(tmp_path, "chunk_src", 80, 25)  # 2000 adds
    p = MirrorPipeline(
        spark, src, str(tmp_path / "chunk_dst"), str(tmp_path / "chunk_state"),
        table_name="chunk", max_items_per_batch=500, state_backend="csv",
    )
    results = p.run_until_idle()
    assert len(results) >= 4  # 2000 adds / 500 cap
    assert all(r["n_items"] <= 500 + 2 for r in results)  # + staging/schema
    assert sum(r["n_items"] for r in results) >= 2000
    assert p.run_once()["status"] == "up-to-date"
    # every add item is recorded and complete
    adds = p.state.current_items("chunk", "Add")
    assert len(adds) == 2000
    assert all(a["state"] in ("Done", "Skipped") for a in adds)


def test_snapshot_diff_chunking_bounds_driver_items(spark, tmp_path):
    """Fresh mirror of a vacuumed source whose checkpoint holds 5k
    files: the snapshot diff drains in path-ordered chunks, each batch
    bounded by max_items_per_batch."""
    import os as _os

    src = _author_metadata_only_source(tmp_path, "snapc_src", 5, 1000)
    sink = DeltaSink(spark, src)
    sink._write_checkpoint(4)
    for v in range(4):  # truncate below the checkpoint, keep v4
        _os.remove(_os.path.join(src, "_delta_log", f"{v:020d}.json"))
    p = MirrorPipeline(
        spark, src, str(tmp_path / "snapc_dst"), str(tmp_path / "snapc_state"),
        table_name="snapc", max_items_per_batch=1000, state_backend="csv",
    )
    results = p.run_until_idle()
    assert len(results) >= 5  # 5000 adds / 1000 cap
    assert all(r["n_items"] <= 1000 + 2 for r in results)
    assert results[-1]["partial"] is False and all(
        r["partial"] for r in results[:-1]
    )
    assert p.run_once()["status"] == "up-to-date"
    assert len(p.state.current_items("snapc", "Add")) == 5000


def test_chunked_snapshot_crash_recovery_no_double_ingest(spark, tmp_path):
    """Crash between a chunk's sink commit and its state persist must
    not re-ingest the chunk on restart (I3 under chunking: each chunk
    carries its own idempotence txn)."""
    src_path = str(tmp_path / "ccrash_src")
    src = DeltaSink(spark, src_path, checkpoint_interval=10)
    for i in range(12):
        src.append(spark.createDataFrame([(i,)], "id long"))
    src.vacuum()

    def mk():
        return MirrorPipeline(
            spark, src_path, str(tmp_path / "ccrash_dst"),
            str(tmp_path / "ccrash_state"), table_name="ccrash",
            max_items_per_batch=5,
        )

    p = mk()
    boom = RuntimeError("crash before state persist")
    orig = MirrorPipeline._stamp_and_persist
    calls = {"n": 0}

    def crashing(self, items):
        calls["n"] += 1
        if calls["n"] == 1:
            raise boom  # first chunk: sink committed, state persist lost
        return orig(self, items)

    MirrorPipeline._stamp_and_persist = crashing
    try:
        with pytest.raises(RuntimeError):
            p.run_until_idle()
    finally:
        MirrorPipeline._stamp_and_persist = orig
    p2 = mk()
    p2.run_until_idle()
    rows = [r["id"] for r in p2.mirror_df().collect()]
    assert sorted(rows) == list(range(12))  # complete, no duplicates
    assert p2.run_once()["status"] == "up-to-date"


def test_show_tables_and_capacity(spark, tmp_path):
    """K8 twins: `.show tables` as a metadata-only DataFrame and
    `.show capacity` as the pipeline-width view
    (DeltaTableOrchestration.cs:233-235, BlobStagingOrchestration.cs:326-338)."""
    from mirror_lake_kusto_spark.pipeline.multi import MirrorOrchestration

    srcs = {}
    for name, n in [("t_a", 20), ("t_b", 30)]:
        path = str(tmp_path / f"show_src_{name}")
        DeltaSink(spark, path).append(spark.range(n).toDF("id"))
        srcs[name] = {"source_path": path}
    orch = MirrorOrchestration(spark, srcs, str(tmp_path / "show_mirrors"))
    assert orch.table_exists("t_a") and not orch.table_exists("nope")
    orch.run_until_idle()
    rows = {r["table_name"]: r for r in orch.show_tables().collect()}
    assert set(rows) == {"t_a", "t_b"}
    assert rows["t_a"]["live_records"] == 20
    assert rows["t_b"]["live_records"] == 30
    assert all(r["n_pending"] == 0 for r in rows.values())
    assert all(r["high_water_tx"] == 0 for r in rows.values())
    assert all(r["live_bytes"] > 0 for r in rows.values())
    cap = orch.capacity()
    assert cap["tables"] == 2 and cap["width"] == 2
    assert cap["ingestion_slots"] >= 1


def test_time_travel_read(spark, tmp_path):
    """to_df(version=v) reconstructs the snapshot at commit v (F3's
    'state at txId'; upto replay in delta_log), including across a
    delete and an OPTIMIZE."""
    path = str(tmp_path / "tt_table")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(10).toDF("id"))        # v0
    sink.append(spark.range(10, 20).toDF("id"))    # v1
    sink.delete("id < 5")                          # v2
    sink.optimize()                                # v3 (dataChange=false)
    assert _ids(sink.to_df(version=0)) == list(range(10))
    assert _ids(sink.to_df(version=1)) == list(range(20))
    assert _ids(sink.to_df(version=2)) == list(range(5, 20))
    assert _ids(sink.to_df()) == list(range(5, 20))  # latest == post-delete


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """Multi-part checkpoints (v.checkpoint.i.n.parquet + parts pointer)
    — the layout a 10M-file table's checkpoint needs — are written,
    read back for snapshots, and bridge a vacuumed log for a fresh
    mirror."""
    import os as _os

    path = str(tmp_path / "mp_src")
    src = DeltaSink(spark, path, checkpoint_interval=10, checkpoint_parts=3)
    for i in range(12):  # checkpoint at v9, 3 parts
        src.append(spark.createDataFrame([(i,)], "id long"))
    names = _os.listdir(_os.path.join(path, "_delta_log"))
    parts = [n for n in names if ".checkpoint." in n and n.endswith(".parquet")]
    assert len(parts) == 3 and all("0000000003.parquet" in n for n in parts)
    assert not any(n.endswith("checkpoint.parquet") for n in names)
    assert _ids(src.to_df()) == list(range(12))  # reader handles parts
    src.vacuum()
    p = MirrorPipeline(
        spark, path, str(tmp_path / "mp_dst"), str(tmp_path / "mp_state"),
        table_name="mp",
    )
    p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(12))


def test_schema_evolve_add_column(spark, tmp_path):
    """on_schema_change='evolve-add' (K1 `.create-merge` posture):
    an added column re-records the schema and the sync continues;
    pre-evolution rows read null for the new column.  The default
    ('fail') still raises (reference parity)."""
    p = _mk(spark, tmp_path, "evo", on_schema_change="evolve-add")
    src = DeltaSink(spark, p.source)
    src.append(spark.createDataFrame([(1,), (2,)], "id long"))
    p.run_once()
    src.append(spark.createDataFrame([(3, "x")], "id long, tag string"))
    p.run_once()
    rows = {r["id"]: r["tag"] for r in p.mirror_df().select("id", "tag").collect()}
    assert rows == {1: None, 2: None, 3: "x"}
    # next batch is quiet (schema recorded; no re-raise)
    assert p.run_once()["status"] == "up-to-date"

    # non-additive change still raises even in evolve-add mode
    src.append(spark.createDataFrame([("y",)], "tag string"))  # drops id
    with pytest.raises(SchemaChangedError):
        p.run_once()

    # and the default mode fails on the additive change too
    p2 = _mk(spark, tmp_path, "evo_fail")
    s2 = DeltaSink(spark, p2.source)
    s2.append(spark.createDataFrame([(1,)], "id long"))
    p2.run_once()
    s2.append(spark.createDataFrame([(2, "z")], "id long, tag string"))
    with pytest.raises(SchemaChangedError):
        p2.run_once()


def test_target_zorder_compaction(spark, tmp_path):
    """optimize_target_zorder_by clusters the mirror during periodic
    compaction, making predicate reads on the mirror prune files."""
    p = _mk(
        spark, tmp_path, "tz",
        optimize_target_every=1, optimize_target_zorder_by=["id"],
    )
    src = DeltaSink(spark, p.source)
    import random

    rnd = random.Random(3)
    ids = list(range(4000))
    rnd.shuffle(ids)
    for b in range(4):
        src.append(
            spark.createDataFrame(
                [(i,) for i in ids[b * 1000 : (b + 1) * 1000]], "id long"
            ).coalesce(1)
        )
    p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(4000))
    total = len(p.sink.to_df().inputFiles())
    pruned = p.sink.to_df(predicate="id < 100")
    if total > 1:  # compaction target may coalesce to one file
        assert len(pruned.inputFiles()) < total
    assert sorted(r["id"] for r in pruned.collect()) == list(range(100))


# -- CONVERT TO DELTA -------------------------------------------------------


def test_convert_flat_parquet_dir(spark, tmp_path):
    """In-place conversion: no data movement, footer stats recorded,
    table becomes a first-class sink afterward."""
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = str(tmp_path / "plain")
    spark.range(100).toDF("id").withColumn(
        "w", F.concat(F.lit("x"), F.col("id"))
    ).repartition(3).write.parquet(src)
    sink = DeltaSink.convert(spark, src)
    got = DL.read_snapshot(spark, sink.path)
    assert got.count() == 100
    assert sorted(got.columns) == ["id", "w"]
    files = DL.snapshot_files(spark, sink.path)
    assert len(files) == 3
    import json as _json

    st = _json.loads(files[0]["stats"])
    assert "minValues" in st and st["numRecords"] > 0
    # data skipping works immediately on the converted table
    pruned = DL.read_snapshot(spark, sink.path, predicate="id = 5")
    assert [r["id"] for r in pruned.collect()] == [5]
    # and the table accepts normal writes + deletes afterward
    sink2 = DeltaSink(spark, src)
    sink2._pending_schema = got.schema.json()
    sink2.delete("id >= 90")
    assert DL.read_snapshot(spark, src).count() == 90


def test_convert_hive_partitioned_dir(spark, tmp_path):
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = str(tmp_path / "hive")
    (
        spark.range(60)
        .toDF("id")
        .withColumn("part", (F.col("id") % 3).cast("int"))
        .write.partitionBy("part")
        .parquet(src)
    )
    sink = DeltaSink.convert(spark, src)
    assert sink.partition_by == ["part"]
    got = DL.read_snapshot(spark, sink.path)
    assert got.count() == 60
    assert set(got.columns) == {"id", "part"}
    # partition pruning consumes the log's partitionValues
    only1 = DL.read_snapshot(
        spark, sink.path, partition_predicate="part = 1"
    )
    assert only1.count() == 20
    assert {r["part"] for r in only1.collect()} == {1}


def test_convert_rejects_bad_layouts(spark, tmp_path):
    import pytest as _pytest

    # already a Delta table
    sink = DeltaSink(spark, str(tmp_path / "already"))
    sink.append(spark.range(3).toDF("id"))
    with _pytest.raises(ValueError, match="already a Delta"):
        DeltaSink.convert(spark, sink.path)
    # empty dir
    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(ValueError, match="no parquet files"):
        DeltaSink.convert(spark, str(empty))
    # nested non-hive layout
    import shutil as _shutil

    messy = tmp_path / "messy"
    spark.range(5).toDF("id").coalesce(1).write.parquet(str(messy / "sub"))
    with _pytest.raises(ValueError, match="non-hive nested"):
        DeltaSink.convert(spark, str(messy))


def test_convert_then_mirror_sync(spark, tmp_path):
    """The conversion payoff: any parquet directory becomes a
    mirrorable Delta source with one metadata commit."""
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = str(tmp_path / "conv_src")
    spark.range(40).toDF("id").withColumn(
        "v", F.col("id") * 2
    ).repartition(2).write.parquet(src)
    DeltaSink.convert(spark, src)
    p = MirrorPipeline(
        spark,
        src,
        str(tmp_path / "conv_dst"),
        str(tmp_path / "conv_state"),
        table_name="conv",
    )
    results = p.run_until_idle()
    assert results and results[0]["adds_staged"] == 2
    got = DL.read_snapshot(spark, str(tmp_path / "conv_dst"))
    assert got.count() == 40
    assert sorted(r["v"] for r in got.collect())[:3] == [0, 2, 4]


def test_merge_rejects_schema_mismatch(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    sink = DeltaSink(spark, str(tmp_path / "mg_schema"))
    sink.append(
        spark.range(5).toDF("k").withColumn("v", F.lit("a"))
    )
    wider = (
        spark.range(2).toDF("k")
        .withColumn("v", F.lit("b"))
        .withColumn("extra", F.lit(1))
    )
    with _pytest.raises(ValueError, match="extra=\\['extra'\\]"):
        sink.merge(wider, ["k"])
    narrower = spark.range(2).toDF("k")
    with _pytest.raises(ValueError, match="missing=\\['v'\\]"):
        sink.merge(narrower, ["k"])


def test_convert_unescapes_hive_partition_values(spark, tmp_path):
    """Spark percent-encodes special chars in hive dir names and writes
    nulls as __HIVE_DEFAULT_PARTITION__ — conversion must store the
    REAL values (and null) in the log."""
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = str(tmp_path / "hive_esc")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x:y"), (3, None)], "id long, part string"
    )
    df.write.partitionBy("part").parquet(src)
    DeltaSink.convert(spark, src)
    files = DL.snapshot_files(spark, src)
    vals = {f["partitionValues"]["part"] for f in files}
    assert vals == {"a b", "x:y", None}
    got = DL.read_snapshot(spark, src)
    assert {r["part"] for r in got.collect()} == {"a b", "x:y", None}
    pruned = DL.read_snapshot(
        spark, src, partition_predicate="part = 'a b'"
    )
    assert [r["id"] for r in pruned.collect()] == [1]


# -- SHALLOW CLONE ----------------------------------------------------------


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = DeltaSink(spark, str(tmp_path / "cl_src"))
    src.append(
        spark.range(50).toDF("id").withColumn("v", F.col("id") * 2)
    )
    clone = DeltaSink.shallow_clone(
        spark, src.path, str(tmp_path / "cl_tgt")
    )
    # zero data files under the clone, same rows readable
    data_files = [
        n
        for _d, _s, fs in os.walk(clone.path)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in _d
    ]
    assert data_files == []
    assert DL.read_snapshot(spark, clone.path).count() == 50
    # copy-on-write delete on the CLONE: source unchanged
    clone2 = DeltaSink(spark, clone.path)
    clone2._pending_schema = DL.read_snapshot(
        spark, clone.path
    ).schema.json()
    clone2.delete("id < 10")
    assert DL.read_snapshot(spark, clone.path).count() == 40
    assert DL.read_snapshot(spark, src.path).count() == 50
    # ...and appends to the source do not leak into the clone
    src.append(spark.range(100, 110).toDF("id").withColumn("v", F.lit(0)))
    assert DL.read_snapshot(spark, clone.path).count() == 40
    # clone vacuum never touches source files
    clone2.vacuum()
    assert DL.read_snapshot(spark, src.path).count() == 60


def test_shallow_clone_time_travel(spark, tmp_path):
    from mirror_lake_kusto_spark.sources import delta_log as DL

    src = DeltaSink(spark, str(tmp_path / "cl_tt_src"))
    src.append(spark.range(10).toDF("id"))
    src.append(spark.range(10, 30).toDF("id"))
    clone = DeltaSink.shallow_clone(
        spark, src.path, str(tmp_path / "cl_tt"), version=0
    )
    assert DL.read_snapshot(spark, clone.path).count() == 10


# -- table properties (K2 policy analogue) ----------------------------------


def test_table_properties_roundtrip_and_policy(spark, tmp_path):
    from mirror_lake_kusto_spark.sources import delta_log as DL

    sink = DeltaSink(spark, str(tmp_path / "props"))
    sink.append(spark.range(2000).toDF("id").repartition(8))
    assert sink.properties() == {}
    sink.set_properties({"mlk.optimize.targetFileBytes": 10**9,
                         "team": "data"})
    assert sink.properties()["team"] == "data"
    # schema and table id preserved across the properties commit
    meta = DL.latest_metadata(spark, sink.path)
    assert "id" in meta["schemaString"]
    # a reopened handle sees the same properties (they live in the log)
    again = DeltaSink(spark, sink.path)
    assert again.properties()["mlk.optimize.targetFileBytes"] == "1000000000"
    # OPTIMIZE honors the per-table policy: 1 GB target -> compacts
    # the 8 small files into one
    again.optimize()
    assert len(DL.snapshot_files(spark, sink.path)) == 1
    # unset removes
    again.set_properties({}, unset=["team"])
    assert "team" not in again.properties()


def test_table_properties_survive_checkpoint(spark, tmp_path):
    sink = DeltaSink(spark, str(tmp_path / "props_ckpt"),
                     checkpoint_interval=3)
    sink.append(spark.range(5).toDF("id"))
    sink.set_properties({"k": "v"})
    for i in range(4):
        sink.append(spark.range(i * 10, i * 10 + 5).toDF("id"))
    from mirror_lake_kusto_spark.sources import delta_log as DL

    assert DL.read_last_checkpoint(sink.path) is not None
    assert DeltaSink(spark, sink.path).properties()["k"] == "v"


def test_multi_table_continuous_picks_up_new_commits(spark, tmp_path):
    """Continuous fan-out: commits landing between polls are synced on
    the next poll, every table independently (service-loop shape)."""
    from mirror_lake_kusto_spark.pipeline.multi import MirrorOrchestration
    from mirror_lake_kusto_spark.sources import delta_log as DL

    srcs = {}
    sinks = {}
    for name in ("alpha", "beta"):
        s = DeltaSink(spark, str(tmp_path / f"{name}_src"))
        s.append(spark.range(10).toDF("id").coalesce(1))
        sinks[name] = s
        srcs[name] = {"source_path": s.path}
    orch = MirrorOrchestration(spark, srcs, str(tmp_path / "cm"))
    assert orch.run_continuous(poll_seconds=0.1, max_polls=1) == 1
    # new data arrives on one table only
    sinks["beta"].append(spark.range(10, 30).toDF("id").coalesce(1))
    orch.run_continuous(poll_seconds=0.1, max_polls=1)
    assert DL.read_snapshot(
        spark, str(tmp_path / "cm" / "alpha" / "table")
    ).count() == 10
    assert DL.read_snapshot(
        spark, str(tmp_path / "cm" / "beta" / "table")
    ).count() == 30


def test_properties_survive_schema_evolution_and_clone(spark, tmp_path):
    """metaData rewrites (schema-evolving append, shallow clone) must
    carry the configuration and table id forward, never blank them."""
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.sources import delta_log as DL

    sink = DeltaSink(spark, str(tmp_path / "pv"))
    sink.append(spark.range(5).toDF("id"))
    sink.set_properties({"team": "data"})
    tid = DL.latest_metadata(spark, sink.path)["id"]
    # schema-evolving append records new metaData — properties survive
    sink.append(spark.range(5).toDF("id").withColumn("v", F.lit(1)))
    meta = DL.latest_metadata(spark, sink.path)
    assert meta["configuration"] == {"team": "data"}
    assert meta["id"] == tid  # table id is stable for the table's life
    # shallow clone copies the source's properties
    clone = DeltaSink.shallow_clone(spark, sink.path, str(tmp_path / "pvc"))
    assert clone.properties() == {"team": "data"}


def test_set_properties_validates_and_detects_conflicts(spark, tmp_path):
    import json as _json
    import os as _os

    import pytest as _pytest

    from mirror_lake_kusto_spark.sources.delta_sink import (
        ConcurrentCommitConflict,
    )

    sink = DeltaSink(spark, str(tmp_path / "pc"))
    sink.append(spark.range(3).toDF("id"))
    with _pytest.raises(ValueError, match="integer byte count"):
        sink.set_properties({"mlk.optimize.targetFileBytes": "128MB"})
    # a concurrent metaData commit between read and write is detected
    # (simulated: steal the next version with a metaData action)
    sink.set_properties({"a": "1"})
    meta_before = sink.properties()
    log = _os.path.join(sink.path, "_delta_log")
    import mirror_lake_kusto_spark.sources.delta_sink as DS

    real_commit = DeltaSink._commit
    stolen = {"done": False}

    def racing_commit(self, actions, operation=None, **kw):
        if not stolen["done"] and operation == "SET TBLPROPERTIES":
            stolen["done"] = True
            v = self._next_version()
            with open(_os.path.join(log, DS.TX_FMT.format(v) + ".json"), "x") as f:
                from mirror_lake_kusto_spark.sources import delta_log as DL

                md = dict(DL.latest_metadata(self.spark, self.path))
                md["configuration"] = {"winner": "yes", "a": "1"}
                f.write(_json.dumps({"metaData": md}) + "\n")
        return real_commit(self, actions, operation, **kw)

    DS.DeltaSink._commit = racing_commit
    try:
        sink.set_properties({"b": "2"})
    finally:
        DS.DeltaSink._commit = real_commit
    # the retry re-read the winner's configuration: nothing lost
    got = sink.properties()
    assert got.get("winner") == "yes" and got.get("b") == "2"
    assert got.get("a") == "1" and meta_before.get("a") == "1"


def test_optimize_rejects_corrupt_policy(spark, tmp_path):
    import json as _json
    import os as _os

    import pytest as _pytest

    sink = DeltaSink(spark, str(tmp_path / "badpol"))
    sink.append(spark.range(3).toDF("id"))
    # corrupt the property behind the API's back
    from mirror_lake_kusto_spark.sources import delta_log as DL

    md = dict(DL.latest_metadata(spark, sink.path))
    md["configuration"] = {"mlk.optimize.targetFileBytes": "1e9"}
    v = sink._next_version()
    with open(
        _os.path.join(sink.path, "_delta_log", "%020d.json" % v), "x"
    ) as f:
        f.write(_json.dumps({"metaData": md}) + "\n")
    with _pytest.raises(ValueError, match="not an integer"):
        sink.optimize()


def test_max_items_per_batch_none_rejected(spark, tmp_path):
    """The uncapped escape hatch is closed: None would collect an
    unbounded snapshot to the driver (millions of files at 100 TB)."""
    with pytest.raises(ValueError, match="max_items_per_batch"):
        MirrorPipeline(
            spark,
            source_path=str(tmp_path / "src"),
            target_path=str(tmp_path / "dst"),
            state_dir=str(tmp_path / "state"),
            max_items_per_batch=None,
        )
    with pytest.raises(ValueError, match=">= 1"):
        MirrorPipeline(
            spark,
            source_path=str(tmp_path / "src2"),
            target_path=str(tmp_path / "dst2"),
            state_dir=str(tmp_path / "state2"),
            max_items_per_batch=0,
        )


def test_multi_table_failure_isolation(spark, tmp_path):
    """One poisoned table (unsupported source feature) must not halt
    its siblings: the healthy table drains, the failure is recorded,
    and fixing the source lets the next cycle recover
    (MirrorOrchestration.cs:127-132 independent-task semantics)."""
    import json as _json

    from mirror_lake_kusto_spark.pipeline.multi import MirrorOrchestration

    good_src = str(tmp_path / "good_src")
    DeltaSink(spark, good_src).append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    bad_src = str(tmp_path / "bad_src")
    DeltaSink(spark, bad_src).append(
        spark.createDataFrame([(9, "z")], "k long, v string")
    )
    # poison: protocol upgrade to a feature the engine rejects
    with open(
        f"{bad_src}/_delta_log/{1:020d}.json", "w"
    ) as f:
        f.write(
            _json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["someFutureFeature"],
                    }
                }
            )
            + "\n"
        )
    orch = MirrorOrchestration(
        spark,
        {
            "good": {"source_path": good_src},
            "bad": {"source_path": bad_src},
        },
        root_dir=str(tmp_path / "mirrors"),
    )
    results = orch.run_until_idle()
    assert [r["status"] for r in results["good"]] == ["processed"]
    assert results["bad"] == [] and "bad" in orch.last_errors
    got = sorted(r["k"] for r in orch.mirror_df("good").collect())
    assert got == [1, 2]
    # fail-fast variant still raises, AFTER the cycle completes
    with pytest.raises(RuntimeError, match="mirror table"):
        orch.run_until_idle(raise_on_error=True)
