"""Seeded input generators: the query tables and the mirror's Delta source.

Everything here is plain numpy + pyarrow.  The package under test is
never used to make its own inputs, so a change to the package cannot
change what the benchmark feeds it; the same seed always writes the
same bytes of table data.

The query tables follow the shape of the repository's fixture tables
(TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``): same column names, types and value domains, scaled by
``sf`` (sf 1.0 = 6 M lineitem rows).
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _ts(values: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us", tz=tz))


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten query tables at scale ``sf`` for ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 50)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = lineitem(rng, n_line, n_ord, n_part, n_supp)
    ev_off = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us") + ev_off.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = documents(rng, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def lineitem(rng, n: int, n_ord: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", 2499, n)),
    })


def documents(rng, n: int) -> pa.Table:
    """Random-word documents; 5 % are a near-duplicate of an earlier
    document (its text plus " dup") so the dedup operators find pairs."""
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_query_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in query_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- Delta source ----------------------------------------------------------

#: Delta JSON types of the mirrored lineitem slice, plus its partition
#: column (ship year-month, a date-derived key with tens of values).
SOURCE_FIELDS = [
    ("l_orderkey", "long"), ("l_partkey", "long"), ("l_suppkey", "long"),
    ("l_linenumber", "integer"), ("l_quantity", "double"),
    ("l_extendedprice", "double"), ("l_discount", "double"),
    ("l_tax", "double"), ("l_returnflag", "string"),
    ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
    ("ship_month", "string"),
]
PARTITION_COL = "ship_month"


def _schema_string() -> str:
    return json.dumps({
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in SOURCE_FIELDS
        ],
    })


SOURCE_COLUMNS = [n for n, _ in SOURCE_FIELDS]


def source_rows(rng, n_rows: int, n_months: int, first_key: int = 0) -> pa.Table:
    """Rows of the mirrored source, sorted by ship date, with the unique
    ``l_orderkey`` values ``first_key, first_key + 1, ...`` so DML
    predicates and merge keys can target single rows.  ``ship_month``
    spans ``n_months`` months."""
    t = lineitem(rng, n_rows, n_rows, 20_000, 1_000)
    ship = np.sort(_days(rng, "1996-01-01", n_months * 30, n_rows))
    month = np.datetime_as_string(ship.astype("datetime64[M]"))
    # UTC-adjusted so Spark reads the column as TIMESTAMP, the Delta type
    t = t.set_column(t.schema.get_field_index("l_shipdate"), "l_shipdate",
                     _ts(ship, tz="UTC"))
    keys = np.arange(first_key, first_key + n_rows, dtype=np.int64)
    t = t.set_column(0, "l_orderkey", pa.array(keys))
    return t.append_column(PARTITION_COL, pa.array(month))


def _add_action(table_path: str, part: pa.Table, month: str, version: int, ts_ms: int) -> dict:
    rel = f"{PARTITION_COL}={month}/part-{version:05d}.snappy.parquet"
    full = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    pq.write_table(part.drop([PARTITION_COL]), full, compression="snappy")
    return {"add": {
        "path": rel,
        "partitionValues": {PARTITION_COL: month},
        "size": os.path.getsize(full),
        "modificationTime": ts_ms,
        "dataChange": True,
        "stats": json.dumps({"numRecords": part.num_rows}),
    }}


def write_delta_source(
    table_path: str, rows: pa.Table, n_commits: int, checkpoint_every: int
) -> None:
    """Author ``rows`` as a partitioned Delta table of ``n_commits``
    appends in ship-date order, one file per partition a commit touches,
    with a classic checkpoint every ``checkpoint_every`` versions.  The
    log is written here, not by the package under test."""
    log = os.path.join(table_path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    bounds = np.linspace(0, rows.num_rows, n_commits + 1).astype(int)
    months = rows.column(PARTITION_COL).to_numpy(zero_copy_only=False)
    live: list[dict] = []
    t0 = 1_700_000_000_000
    meta = {
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "metaData": {
            "id": str(uuid.UUID(int=rows.num_rows)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(),
            "partitionColumns": [PARTITION_COL],
            "configuration": {},
            "createdTime": t0,
        },
    }
    for v in range(n_commits):
        lo, hi = bounds[v], bounds[v + 1]
        ts_ms = t0 + v * 1000
        adds = []
        for m in sorted(set(months[lo:hi])):
            idx = np.nonzero(months[lo:hi] == m)[0] + lo
            adds.append(_add_action(table_path, rows.take(idx), m, v, ts_ms))
        actions = [{"commitInfo": {"timestamp": ts_ms, "operation": "WRITE"}}]
        if v == 0:
            actions += [{"protocol": meta["protocol"]}, {"metaData": meta["metaData"]}]
        actions += adds
        live += [a["add"] for a in adds]
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        if checkpoint_every and v and v % checkpoint_every == 0:
            _write_checkpoint(log, v, meta, live)


def _write_checkpoint(log: str, version: int, meta: dict, live: list[dict]) -> None:
    """Classic single-file checkpoint (Delta PROTOCOL.md "Checkpoints"):
    one row per action, each action a nullable struct column."""
    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", str_map),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
    ])
    proto_t = pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string()), ("options", str_map)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", str_map), ("createdTime", pa.int64()),
    ])

    def as_map(d):
        return list(d.items())

    md = dict(meta["metaData"])
    md["format"] = {"provider": "parquet", "options": []}
    md["configuration"] = []
    adds = [dict(a, partitionValues=as_map(a["partitionValues"])) for a in live]
    n = 2 + len(adds)
    schema = pa.schema([("protocol", proto_t), ("metaData", meta_t), ("add", add_t)])
    tbl = pa.table({
        "protocol": pa.array([meta["protocol"]] + [None] * (n - 1), proto_t),
        "metaData": pa.array([None, md] + [None] * len(adds), meta_t),
        "add": pa.array([None, None] + adds, add_t),
    }, schema=schema)
    pq.write_table(tbl, os.path.join(log, f"{version:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": n}, f)
