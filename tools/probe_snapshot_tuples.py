"""Planning-time probe for the data-file read path vs partition-tuple count.

Authors a synthetic Delta table with N partition tuples (one tiny file
per tuple, written through DeltaSink so the log is authentic), then
reports driver planning time and the number of parquet Scan nodes for
three readers of it:

- ``read_snapshot``: DataFrame construction + formatted explain, plus
  the full count() wall time (execution incl. scheduling);
- ``delete_dv``: the merge-on-read DELETE's probe frame (the frame
  handed to the bitmap pack), timed from method entry until its plan
  is explained.  The predicate matches no row and defeats stats
  pruning, so every file is probed and the table stays unchanged;
- mirror staging: one ``MirrorPipeline`` batch over the whole table,
  timed from staging entry until the frame handed to the target's
  append is explained.

Usage: python tools/probe_snapshot_tuples.py [n_tuples ...]
(default: 25 250 1000)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mirror_lake_kusto_spark.session import build_session


def _explain(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _scan_nodes(plan: str) -> int:
    # the formatted explain names every node twice (tree + details)
    return plan.count("Scan parquet") // 2


def _capture(spark, entry_cls, entry, frame_cls, frame_method):
    """While ``entry_cls.entry`` runs, explain the DataFrame passed as
    the first argument of ``frame_cls.frame_method``.  Returns the list
    each (seconds from entry until that plan is explained, parquet scan
    nodes) pair is appended to."""
    seen: list[tuple[float, int]] = []
    started: list[float] = []
    orig_entry = getattr(entry_cls, entry)
    orig_frame = getattr(frame_cls, frame_method)

    def timed_entry(self, *a, **kw):
        started.append(time.time())
        try:
            return orig_entry(self, *a, **kw)
        finally:
            started.clear()

    def explained_frame(self, df, *a, **kw):
        if started:
            plan = _explain(spark, df)
            seen.append((time.time() - started.pop(), _scan_nodes(plan)))
        return orig_frame(self, df, *a, **kw)

    setattr(entry_cls, entry, timed_entry)
    setattr(frame_cls, frame_method, explained_frame)
    return seen


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [25, 250, 1000]
    spark = build_session(app_name="probe-snapshot-tuples")
    spark.sparkContext.setLogLevel("ERROR")
    from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
    from mirror_lake_kusto_spark.sources import delta_log as DL
    from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

    dv_probes = _capture(
        spark, DeltaSink, "delete_dv", DeltaSink, "_pack_merged_dvs"
    )
    stagings = _capture(
        spark, MirrorPipeline, "_stage_and_load", DeltaSink, "append"
    )

    for n in ns:
        path = f"/tmp/mlk_tuple_probe_{n}"
        if not os.path.exists(os.path.join(path, "_delta_log")):
            shutil.rmtree(path, ignore_errors=True)
            df = spark.range(n * 4).selectExpr(
                "id", f"cast(id % {n} as string) as pk"
            )
            sink = DeltaSink(spark, path, partition_by=["pk"])
            # one commit, n partition dirs -> n tuples
            sink.append(df.repartition(max(n // 50, 1)))
        t0 = time.time()
        out = DL.read_snapshot(spark, path)
        snap_scans = _scan_nodes(_explain(spark, out))
        t_plan = time.time() - t0
        t0 = time.time()
        cnt = out.count()
        t_exec = time.time() - t0

        DeltaSink(spark, path).delete_dv("id % 1000003 = -1")
        dv_plan, dv_scans = dv_probes.pop()

        work = f"{path}_mirror"
        shutil.rmtree(work, ignore_errors=True)
        MirrorPipeline(
            spark,
            path,
            os.path.join(work, "dst"),
            os.path.join(work, "state"),
            table_name="probe",
        ).run_once()
        st_plan, st_scans = stagings.pop()
        shutil.rmtree(work, ignore_errors=True)
        print(
            f"tuples={n:5d}  read_snapshot: plan={t_plan:6.2f}s "
            f"scan_nodes={snap_scans:4d} count({cnt})={t_exec:6.2f}s  "
            f"delete_dv probe: plan={dv_plan:6.2f}s scan_nodes={dv_scans:4d}  "
            f"staging: plan={st_plan:6.2f}s scan_nodes={st_scans:4d}",
            flush=True,
        )


if __name__ == "__main__":
    main()
