"""Round-9 type-widening matrix, end-to-end (PROTOCOL.md "Type
Widening" — the COMPLETE spec set, not just the r7 3-pair subset).

Every pair is exercised through the full lifecycle: write narrow ->
widen metadata -> append wide -> read BOTH eras promoted.  The two
pairs Spark's vectorized parquet reader cannot promote natively
(byte/short-era physical under a decimal logical type) go through the
era-split read path: files grouped by sniffed physical type
(footer-only metadata reads), scanned natively, cast right after the
scan — exact and vacuum-proof (no commit-version guesswork).
"""

import decimal

import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

# (delta from-type, spark sql literal type, delta to-type, wide sql type)
MATRIX = [
    ("byte", "tinyint", "short", "smallint"),
    ("byte", "tinyint", "integer", "int"),
    ("byte", "tinyint", "long", "bigint"),
    ("byte", "tinyint", "double", "double"),
    ("byte", "tinyint", "decimal(6,2)", "decimal(6,2)"),
    ("short", "smallint", "integer", "int"),
    ("short", "smallint", "long", "bigint"),
    ("short", "smallint", "double", "double"),
    ("short", "smallint", "decimal(8,2)", "decimal(8,2)"),
    ("integer", "int", "long", "bigint"),
    ("integer", "int", "double", "double"),
    ("integer", "int", "decimal(12,2)", "decimal(12,2)"),
    ("long", "bigint", "decimal(22,2)", "decimal(22,2)"),
    ("float", "float", "double", "double"),
    ("decimal(10,2)", "decimal(10,2)", "decimal(14,4)", "decimal(14,4)"),
]


@pytest.mark.parametrize(
    "from_t,sql_t,to_t,wide_sql", MATRIX, ids=[f"{m[0]}->{m[2]}" for m in MATRIX]
)
def test_matrix_pair_mixed_era_roundtrip(spark, tmp_path, from_t, sql_t, to_t, wide_sql):
    sink = DeltaSink(spark, str(tmp_path / "t"))
    sink.append(spark.sql(f"SELECT 1 AS id, CAST(42 AS {sql_t}) AS v"))
    sink.widen_column("v", to_t)
    sink.append(spark.sql(f"SELECT 2 AS id, CAST(7 AS {wide_sql}) AS v"))
    rows = {r.id: r.v for r in DL.read_snapshot(spark, sink.path).collect()}
    if to_t.startswith("decimal"):
        scale = int(to_t.split(",")[1].rstrip(")"))
        q = decimal.Decimal(1).scaleb(-scale)
        assert rows == {
            1: decimal.Decimal(42).quantize(q),
            2: decimal.Decimal(7).quantize(q),
        }
    elif to_t == "double":
        assert rows == {1: 42.0, 2: 7.0}
    else:
        assert rows == {1: 42, 2: 7}


def test_date_to_timestamp_ntz_mixed_era(spark, tmp_path):
    import datetime

    sink = DeltaSink(spark, str(tmp_path / "t"))
    sink.append(spark.sql("SELECT 1 AS id, DATE'2024-03-05' AS v"))
    sink.widen_column("v", "timestamp_ntz")
    sink.append(
        spark.sql("SELECT 2 AS id, TIMESTAMP_NTZ'2024-04-01 10:30:00' AS v")
    )
    rows = {r.id: r.v for r in DL.read_snapshot(spark, sink.path).collect()}
    assert rows == {
        1: datetime.datetime(2024, 3, 5, 0, 0),
        2: datetime.datetime(2024, 4, 1, 10, 30),
    }


def test_three_step_chain_all_eras_promote(spark, tmp_path):
    """byte -> short -> integer -> long across four commits: files of
    EVERY era promote to the final type, and typeChanges history keeps
    the full lineage in order."""
    import json

    sink = DeltaSink(spark, str(tmp_path / "t"))
    sink.append(spark.sql("SELECT 1 AS id, CAST(10 AS tinyint) AS v"))
    sink.widen_column("v", "short")
    sink.append(spark.sql("SELECT 2 AS id, CAST(1000 AS smallint) AS v"))
    sink.widen_column("v", "integer")
    sink.append(spark.sql("SELECT 3 AS id, CAST(100000 AS int) AS v"))
    sink.widen_column("v", "long")
    sink.append(spark.sql("SELECT 4 AS id, CAST(10000000000 AS bigint) AS v"))
    df = DL.read_snapshot(spark, sink.path)
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.id: r.v for r in df.collect()} == {
        1: 10, 2: 1000, 3: 100000, 4: 10000000000,
    }
    meta = DL.latest_metadata(spark, sink.path)
    field = next(
        f for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "v"
    )
    assert [
        (c["fromType"], c["toType"])
        for c in field["metadata"]["delta.typeChanges"]
    ] == [("byte", "short"), ("short", "integer"), ("integer", "long")]


def test_chain_into_decimal_era_split(spark, tmp_path):
    """byte -> integer -> decimal: the byte-era file is only readable
    through the era-split (Spark cannot promote INT(8) to decimal
    natively); int-era and decimal-era files promote natively."""
    sink = DeltaSink(spark, str(tmp_path / "t"))
    sink.append(spark.sql("SELECT 1 AS id, CAST(5 AS tinyint) AS v"))
    sink.widen_column("v", "integer")
    sink.append(spark.sql("SELECT 2 AS id, CAST(123456 AS int) AS v"))
    sink.widen_column("v", "decimal(12,2)")
    sink.append(
        spark.sql("SELECT 3 AS id, CAST(9.75 AS decimal(12,2)) AS v")
    )
    rows = {r.id: str(r.v) for r in DL.read_snapshot(spark, sink.path).collect()}
    assert rows == {1: "5.00", 2: "123456.00", 3: "9.75"}


_ERA_OPS = [
    "delete",
    "delete_dv",
    "update",
    "update_dv",
    "merge",
    "merge_dv",
    "optimize",
    "reorg",
    "read_changes",
]


@pytest.mark.parametrize("op", _ERA_OPS)
def test_byte_to_decimal_era_split_every_reader(spark, tmp_path, op):
    """byte -> decimal(6,2): Spark promotes a narrow parquet INT32 to a
    decimal only when the decimal has >= 10 integer digits, so the
    byte-era file is readable ONLY through the era-split.  Every DML
    probe and rewrite, OPTIMIZE, REORG and the change feed read data
    files through the same primitive as read_snapshot, so each of them
    must see the byte era promoted."""
    sink = DeltaSink(spark, str(tmp_path / "t"))
    # ONE byte-era file, so every rewrite must decode its v column
    v0 = sink.append(
        spark.sql(
            "SELECT id, CAST(id AS tinyint) AS v FROM range(1, 4)"
        ).coalesce(1)
    )
    if op == "reorg":
        # the deletion vector lands on the byte-era file BEFORE the
        # widening, so only the purge itself reads across eras
        sink.delete_dv("id = 3")
    sink.widen_column("v", "decimal(6,2)")
    sink.append(spark.sql("SELECT 4 AS id, CAST(9.75 AS decimal(6,2)) AS v"))
    base = {1: "1.00", 2: "2.00", 3: "3.00", 4: "9.75"}
    source = spark.sql(
        "SELECT CAST(2 AS bigint) AS id, CAST(2.5 AS decimal(6,2)) AS v "
        "UNION ALL "
        "SELECT CAST(5 AS bigint) AS id, CAST(0.25 AS decimal(6,2)) AS v"
    )
    if op == "read_changes":
        rows = DL.read_changes(spark, sink.path, v0).collect()
        got = sorted((r.id, str(r.v), r._change_type) for r in rows)
        assert got == [(i, base[i], "insert") for i in (1, 2, 3, 4)]
        return
    if op in ("delete", "delete_dv"):
        getattr(sink, op)("v = 2")
        expect = {k: v for k, v in base.items() if k != 2}
    elif op in ("update", "update_dv"):
        getattr(sink, op)("v = 2", {"v": "v + 0.5"})
        expect = {**base, 2: "2.50"}
    elif op in ("merge", "merge_dv"):
        getattr(sink, op)(source, ["id"])
        expect = {**base, 2: "2.50", 5: "0.25"}
    elif op == "optimize":
        sink.optimize()
        expect = base
    else:
        sink.reorg()
        assert not any(
            f.get("deletionVector")
            for f in DL.snapshot_files(spark, sink.path)
        )
        expect = {k: v for k, v in base.items() if k != 3}
    df = DL.read_snapshot(spark, sink.path)
    assert dict(df.dtypes)["v"] == "decimal(6,2)"
    assert {r.id: str(r.v) for r in df.collect()} == expect


def test_mirror_follows_byte_to_decimal_widen(spark, tmp_path):
    """The mirror's on_schema_change='widen' follow path stages
    byte-era SOURCE files under a decimal schema via the same
    era-split."""
    from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline

    src = DeltaSink(spark, str(tmp_path / "src"))
    src.append(spark.sql("SELECT 1 AS id, CAST(5 AS tinyint) AS v"))
    pipe = MirrorPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "state"),
        table_name="t",
        on_schema_change="widen",
    )
    pipe.run_until_idle()
    src.widen_column("v", "decimal(6,2)")
    src.append(spark.sql("SELECT 2 AS id, CAST(3.25 AS decimal(6,2)) AS v"))
    pipe.run_until_idle()
    rows = {r.id: str(r.v) for r in pipe.mirror_df().collect()}
    assert rows == {1: "5.00", 2: "3.25"}
    # and the TARGET's own mixed-era files read back promoted
    assert dict(pipe.mirror_df().dtypes)["v"] == "decimal(6,2)"


def test_spec_pairs_all_accepted():
    """Completeness of the acceptance matrix against the spec list."""
    for from_t, _sql, to_t, _w in MATRIX:
        assert DL.is_type_widening(from_t, to_t), (from_t, to_t)
    assert DL.is_type_widening("date", "timestamp_ntz")
    # and spec NON-pairs stay refused
    for bad in [
        ("long", "double"),       # lossy above 2^53
        ("double", "float"),
        ("integer", "short"),
        ("decimal(14,4)", "decimal(10,2)"),
        ("timestamp_ntz", "date"),
        ("string", "long"),
    ]:
        assert not DL.is_type_widening(*bad), bad
