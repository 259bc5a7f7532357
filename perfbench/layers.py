"""Which package calls the traced run wraps, and the per-layer metrics
computed from the recorded spans.

Layer names follow the package's modules: ``sources.delta_log``,
``sources.fs``, ``sources.delta_sink``, ``pipeline.delta_state``,
``pipeline.orchestrate``, ``functions.kql_parse`` and ``queries.*``.
"""

from __future__ import annotations

import json
import os
import re

from spans import Tracer, layer_of

DELTA_LOG_FUNCS = (
    "list_commit_versions", "read_actions", "coalesced_segment",
    "coalesced_segment_local", "snapshot_files", "read_snapshot",
    "file_actions", "latest_metadata", "latest_protocol",
    "check_protocol_supported", "unbackfilled_commit_versions",
    "last_txn_version", "reconciled_action_rows", "reconciled_actions",
    "read_last_checkpoint", "list_checkpoint_versions", "prior_dv_descs",
    "classify_mor_commit", "read_changes",
)
#: span names folded into ``delta_log.read_actions.s``
READ_ACTIONS = ("delta_log.read_actions", "delta_log.coalesced_segment",
                "delta_log.coalesced_segment_local")
FS_METHODS = {
    "listdir": "fs.list", "read_text": "fs.read", "read_bytes": "fs.read",
    "write_text": "fs.write", "write_bytes": "fs.write",
    "create_exclusive": "fs.write", "rename": "fs.rename", "move": "fs.rename",
}
SINK_METHODS = ("append", "delete", "delete_dv", "update", "update_dv",
                "merge", "merge_dv", "optimize")
DML_METHODS = ("delete", "delete_dv", "update", "update_dv", "merge", "merge_dv")
STATE_READS = ("high_water", "incomplete_batch", "current_items")
QUERY_MODULES = ("tpch", "relational", "kqlq", "extensions", "timeseries")
_COMMIT_JSON = re.compile(r"_delta_log/\d{20}\.json$")


def install(tracer: Tracer) -> None:
    from mirror_lake_kusto_spark.functions import kql_parse
    from mirror_lake_kusto_spark.pipeline import delta_state, orchestrate
    from mirror_lake_kusto_spark.sources import delta_log, delta_sink, fs

    for name in DELTA_LOG_FUNCS:
        tracer.wrap_function(delta_log, name, f"delta_log.{name}")
    for meth, span in FS_METHODS.items():
        tracer.wrap_method(fs.LocalFS, meth, span)
    for meth in SINK_METHODS:
        tracer.wrap_method(delta_sink.DeltaSink, meth, f"delta_sink.{meth}")
        tracer.on_return[f"delta_sink.{meth}"] = _sink_commit(meth)
    for meth in ("persist", "compact") + STATE_READS:
        tracer.wrap_method(delta_state.DeltaStateStore, meth, f"delta_state.{meth}")
    tracer.wrap_method(orchestrate.MirrorPipeline, "run_once", "orchestrate.run_once")
    tracer.wrap_function(kql_parse, "kql", "kql_parse.kql")
    tracer.on_return["fs.read"] = _fs_read
    tracer.on_return["fs.write"] = _fs_write
    tracer.on_return["orchestrate.run_once"] = _run_once


def _fs_read(tracer, args, kwargs, out):
    tracer.count("fs.read_bytes", len(out))
    in_log = any(layer_of(s.name) == "delta_log" for s in tracer._stack())
    if in_log and _COMMIT_JSON.search(str(args[1])):
        tracer.count("delta_log.commits_read")


def _fs_write(tracer, args, kwargs, out):
    data = args[2] if len(args) > 2 else kwargs.get("data", "")
    tracer.count("fs.write_bytes", len(data))


def _run_once(tracer, args, kwargs, out):
    if out.get("status") == "processed":
        tracer.count("orchestrate.batches")
        tracer.count("orchestrate.items", out.get("n_items") or 0)


def _sink_commit(method: str):
    def hook(tracer, args, kwargs, out):
        if isinstance(out, int) and out >= 0:
            tracer.commits.append((method, args[0].path, out))
    return hook


def commit_stats(commits: list[tuple[str, str, int]]) -> dict[str, float]:
    """Files and bytes each recorded sink commit added or removed, read
    from its commit JSON once the traced round is over."""
    out = {"files_added": 0, "files_removed": 0, "bytes_added": 0, "dml_rows_written": 0}
    for method, path, version in commits:
        commit = os.path.join(path, "_delta_log", f"{version:020d}.json")
        if not os.path.exists(commit):
            continue
        with open(commit) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        for a in actions:
            if "add" in a:
                out["files_added"] += 1
                out["bytes_added"] += a["add"].get("size") or 0
                if method in DML_METHODS and a["add"].get("stats"):
                    out["dml_rows_written"] += json.loads(a["add"]["stats"]).get("numRecords", 0)
            elif "remove" in a:
                out["files_removed"] += 1
    return out


#: per-layer metric -> unit, in report order
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "delta_log.calls": "count", "delta_log.s": "s", "delta_log.self_s": "s",
    "delta_log.list_commit_versions.s": "s", "delta_log.read_actions.s": "s",
    "delta_log.snapshot_files.s": "s", "delta_log.read_snapshot.s": "s",
    "delta_log.commits_read": "count",
    "fs.list.calls": "count", "fs.read.calls": "count", "fs.read_bytes": "bytes",
    "fs.write.calls": "count", "fs.write_bytes": "bytes", "fs.rename.calls": "count",
    "fs.s": "s",
    **{f"delta_sink.{m}.{k}": u for m in SINK_METHODS
       for k, u in (("calls", "count"), ("s", "s"))},
    "delta_sink.files_added": "count", "delta_sink.files_removed": "count",
    "delta_sink.bytes_added": "bytes", "delta_sink.rows_rewritten_per_row_changed": "ratio",
    "delta_state.persist.s": "s", "delta_state.read.s": "s",
    "delta_state.compact.s": "s", "delta_state.calls": "count",
    "orchestrate.run_once.s": "s", "orchestrate.run_once.self_s": "s",
    "orchestrate.batches": "count", "orchestrate.items_per_batch": "count",
    "orchestrate.accounted_pct": "%",
    "kql_parse.kql.calls": "count", "kql_parse.kql.s": "s",
    **{f"queries.{m}.{k}": "s" for m in QUERY_MODULES for k in ("build_s", "exec_s")},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes", "spark.skew_max_over_median": "ratio",
    "spark.plan_gap_s": "s", "spark.driver_only_s": "s", "spark.busy_share": "ratio",
    "mirror.space_amp": "ratio",
    "memory.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_pct": "%",
}


def metrics(tracer: Tracer, spark_summary: dict, extra: dict[str, float]) -> dict[str, float]:
    """Every PER_LAYER value for one traced round; ``extra`` supplies the
    values measured outside the spans (session, queries, mirror, trace)."""
    t = tracer
    c = t.counts
    m: dict[str, float] = {
        "delta_log.calls": t.calls("delta_log"),
        "delta_log.s": t.layer_s("delta_log"),
        "delta_log.self_s": t.layer_self_s("delta_log"),
        "delta_log.list_commit_versions.s": t.inclusive_s(["delta_log.list_commit_versions"]),
        "delta_log.read_actions.s": t.inclusive_s(list(READ_ACTIONS)),
        "delta_log.snapshot_files.s": t.inclusive_s(["delta_log.snapshot_files"]),
        "delta_log.read_snapshot.s": t.inclusive_s(["delta_log.read_snapshot"]),
        "delta_log.commits_read": c["delta_log.commits_read"],
        "fs.list.calls": t.calls("fs.list"),
        "fs.read.calls": t.calls("fs.read"),
        "fs.read_bytes": c["fs.read_bytes"],
        "fs.write.calls": t.calls("fs.write"),
        "fs.write_bytes": c["fs.write_bytes"],
        "fs.rename.calls": t.calls("fs.rename"),
        "fs.s": t.layer_s("fs"),
    }
    for meth in SINK_METHODS:
        m[f"delta_sink.{meth}.calls"] = t.calls(f"delta_sink.{meth}")
        m[f"delta_sink.{meth}.s"] = t.inclusive_s([f"delta_sink.{meth}"])
    cs = commit_stats(t.commits)
    m["delta_sink.files_added"] = cs["files_added"]
    m["delta_sink.files_removed"] = cs["files_removed"]
    m["delta_sink.bytes_added"] = cs["bytes_added"]
    changed = c["delta_sink.rows_changed"]
    m["delta_sink.rows_rewritten_per_row_changed"] = (
        cs["dml_rows_written"] / changed if changed else 0.0)
    m["delta_state.persist.s"] = t.inclusive_s(["delta_state.persist"])
    m["delta_state.read.s"] = t.inclusive_s([f"delta_state.{r}" for r in STATE_READS])
    m["delta_state.compact.s"] = t.inclusive_s(["delta_state.compact"])
    m["delta_state.calls"] = t.calls("delta_state")
    runs = t.named("orchestrate.run_once")
    run_s = sum(s.end - s.start for s in runs)
    m["orchestrate.run_once.s"] = run_s
    m["orchestrate.run_once.self_s"] = sum(s.self_s() for s in runs)
    m["orchestrate.batches"] = c["orchestrate.batches"]
    m["orchestrate.items_per_batch"] = (
        c["orchestrate.items"] / c["orchestrate.batches"] if c["orchestrate.batches"] else 0.0)
    m["orchestrate.accounted_pct"] = (
        100.0 * sum(t.subtree_self_s(s) for s in runs) / run_s if run_s else 0.0)
    m["kql_parse.kql.calls"] = t.calls("kql_parse.kql")
    m["kql_parse.kql.s"] = t.inclusive_s(["kql_parse.kql"])
    for mod in QUERY_MODULES:
        for k in ("build_s", "exec_s"):
            m[f"queries.{mod}.{k}"] = c[f"queries.{mod}.{k}"]
    for k, v in spark_summary.items():
        m[f"spark.{k}"] = v
    m.update(extra)
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: m[k] for k in PER_LAYER}
