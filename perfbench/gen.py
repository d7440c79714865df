"""Seeded input generator for the benchmark workloads.

Every generator writes its inputs under a root directory and returns them
with what a correct program must produce, computed here with numpy/pyarrow
(never with the program under test).

CDC inputs follow the AWS DMS layout the program reads::

    {bucket}/{db}/{schema}/{table}/LOAD00000001.parquet
    {bucket}/{db}/{schema}/{table}/{YYYY}/{MM}/{DD}/{YYYYMMDD-HHMMSSmmm}.parquet

Every file carries the ``Op`` and ``_dms_ingestion_timestamp`` envelope;
LOAD rows are ``Op='I'``.  CDC file mtimes are set inside their day so
DATE_AWARE windows select them.  Expected table states come from a
vectorized last-writer-wins oracle with the semantics of a sequential apply
(file order, then row order; I/U upsert by primary key, D deletes; tables
without a primary key are append-only).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "benchdb"
SCHEMA = "public"
ENVELOPE = ["Op", "_dms_ingestion_timestamp"]
EPOCH0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAY_US = 86_400_000_000

# ---------------------------------------------------------------------------
# column builders (vectorized; all take a numpy Generator and a row count)
# ---------------------------------------------------------------------------


def _decimal(values: np.ndarray, precision: int, scale: int) -> pa.Array:
    """decimal128 array from unscaled int64 values (value = v / 10**scale)."""
    v = values.astype(np.int64)
    words = np.empty((len(v), 2), dtype=np.int64)
    words[:, 0] = v
    words[:, 1] = np.where(v < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(v), [None, pa.py_buffer(words.tobytes())]
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us", tz="UTC"))


_WORDS = np.array(
    [f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "pe", "ro", "su", "ti")
     for b in ("ba", "de", "fi", "go", "hu", "ja", "ko", "ly")]
)


def _names(rng: np.random.Generator, n: int, prefix: str) -> pa.Array:
    # a quote in ~1/16 of values exercises the escape path (FIXTURES §3.1)
    a = _WORDS[rng.integers(0, len(_WORDS), n)]
    b = rng.integers(0, 100_000, n).astype(str)
    q = np.where(rng.integers(0, 16, n) == 0, "'s", "")
    return pa.array(np.char.add(np.char.add(np.char.add(prefix, a), q), b))


def _tags(rng: np.random.Generator, n: int) -> pa.Array:
    lens = rng.integers(0, 4, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = pa.array(_WORDS[rng.integers(0, len(_WORDS), int(offsets[-1]))])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


@dataclass
class TableSpec:
    pg_types: dict[str, str]  # ordered catalog columns -> postgres type
    primary_key: list[str]
    # builds the data columns for n rows whose key ids are `ids`
    build: object


def _customers(rng, ids, n):
    return {
        "id": pa.array(ids, pa.int64()),
        "name": _names(rng, n, "cust_"),
        "balance": _decimal(rng.integers(-10**15, 10**15, n), 38, 10),
        "score": pa.array(rng.normal(50.0, 20.0, n)),
        "tags": _tags(rng, n),
        "created_at": _ts(rng.integers(0, 365 * DAY_US, n) + int(EPOCH0.timestamp() * 1e6)),
        "active": pa.array(rng.integers(0, 2, n).astype(bool)),
    }


def _order_items(rng, ids, n):
    return {
        "order_id": pa.array(ids // 8, pa.int64()),
        "line_no": pa.array((ids % 8).astype(np.int32), pa.int32()),
        "sku": _names(rng, n, "sku_"),
        "qty": pa.array(rng.integers(1, 50, n).astype(np.int32), pa.int32()),
        "price": _decimal(rng.integers(1, 10**7, n), 12, 2),
    }


def _events_log(rng, ids, n):
    return {
        "event_id": pa.array(np.char.add("ev-", ids.astype(str))),
        "payload": _names(rng, n, "payload_"),
        "ts": _ts(rng.integers(0, 365 * DAY_US, n) + int(EPOCH0.timestamp() * 1e6)),
    }


def _ledger(rng, ids, n):
    return {
        "id": pa.array(ids, pa.int64()),
        "amount": _decimal(rng.integers(-10**9, 10**9, n), 18, 2),
        "status": pa.array(_WORDS[rng.integers(0, 8, n)]),
        "updated_at": _ts(rng.integers(0, 365 * DAY_US, n) + int(EPOCH0.timestamp() * 1e6)),
    }


TABLES = {
    "customers": TableSpec(
        {"id": "bigint", "name": "text", "balance": "numeric",
         "score": "double precision", "tags": "text[]",
         "created_at": "timestamp", "active": "boolean"},
        ["id"], _customers),
    "order_items": TableSpec(
        {"order_id": "bigint", "line_no": "integer", "sku": "text",
         "qty": "integer", "price": "numeric"},
        ["order_id", "line_no"], _order_items),
    "events_log": TableSpec(
        {"event_id": "text", "payload": "text", "ts": "timestamp"},
        [], _events_log),
    "ledger": TableSpec(
        {"id": "bigint", "amount": "numeric", "status": "text",
         "updated_at": "timestamp"},
        ["id"], _ledger),
}


def write_catalog(path: str, tables: list[str]) -> None:
    """The CLI's StaticCatalog JSON shape."""
    raw = {SCHEMA: {
        t: {"columns": TABLES[t].pg_types, "primary_key": TABLES[t].primary_key}
        for t in tables
    }}
    with open(path, "w") as f:
        json.dump(raw, f, indent=1)


# ---------------------------------------------------------------------------
# change logs
# ---------------------------------------------------------------------------


@dataclass
class CdcFile:
    path: str
    day: int          # day index (0 = first CDC day); -1 for LOAD
    rows: int
    bytes: int


@dataclass
class TableLog:
    """All rows of one table's change log in apply order, plus its files."""

    spec: TableSpec
    changes: pa.Table              # envelope + data columns, apply order
    ids: np.ndarray                # row key id (defines the primary key)
    file_of_row: np.ndarray        # index into files
    files: list[CdcFile] = field(default_factory=list)

    def state(self, upto_day: int | None = None) -> pa.Table:
        """Expected table state after applying LOAD plus every CDC file of
        day < ``upto_day`` (all days when None): last writer per key wins,
        a final D removes the key; no-PK tables keep every non-D row."""
        keep_rows = np.ones(len(self.ids), dtype=bool)
        if upto_day is not None:
            day_of_file = np.array([f.day for f in self.files])
            keep_rows = day_of_file[self.file_of_row] < upto_day
        rows = np.nonzero(keep_rows)[0]
        ops = self.changes.column("Op").to_numpy(zero_copy_only=False)[rows]
        if self.spec.primary_key:
            ids = self.ids[rows][::-1]
            _, first_rev = np.unique(ids, return_index=True)
            last = rows[len(rows) - 1 - first_rev]
            last = last[self.changes.column("Op").to_numpy(zero_copy_only=False)[last] != "D"]
        else:
            last = rows[ops != "D"]
        data_cols = list(self.spec.pg_types)
        return self.changes.select(data_cols).take(pa.array(np.sort(last)))


def _key_stream(rng, n, next_new, zipf_a, p_new):
    """Keys for n change rows: a share ``p_new`` are brand-new keys, the rest
    hit existing ids with Zipf skew; the rank -> id map is a multiplicative
    hash, so hot keys spread over buckets and chunks."""
    is_new = rng.random(n) < p_new
    rank = rng.zipf(zipf_a, n).astype(np.int64) - 1
    keys = (rank * 2_654_435_761) % max(1, next_new)
    n_new = int(is_new.sum())
    keys[is_new] = np.arange(next_new, next_new + n_new)
    return keys, is_new, next_new + n_new


def _ops(rng, n, p_delete, p_reinsert, is_new):
    """Op codes: new keys are 'I'; existing keys get U or D, and a share of
    existing-key hits are 'I' again (re-insert after a delete, an upsert if
    the key is live)."""
    r = rng.random(n)
    ops = np.where(r < p_delete, "D", np.where(r < p_delete + p_reinsert, "I", "U"))
    ops[is_new] = "I"
    return ops


def _write(table: pa.Table, path: str, mtime: float | None) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def day_start(day: int) -> datetime:
    return EPOCH0 + timedelta(days=day)


def build_table_log(
    rng: np.random.Generator,
    bucket: str,
    table: str,
    load_rows: int,
    days: int,
    files_per_day: int,
    rows_per_file,
    zipf_a: float = 1.3,
    p_delete: float = 0.12,
    p_reinsert: float = 0.08,
    p_new: float = 0.15,
    key_stream=None,
) -> TableLog:
    """Write one table's LOAD + CDC files and return its full change log.

    ``rows_per_file`` is an int or a callable ``day -> rows``;
    ``key_stream(rng, day, n, next_new) -> (keys, is_new, next_new)``
    overrides the default Zipf key choice.  No-PK tables get insert-only
    CDC (append-only semantics)."""
    spec = TABLES[table]
    root = os.path.join(bucket, DB, SCHEMA, table)
    parts: list[pa.Table] = []
    id_parts: list[np.ndarray] = []
    file_of_row: list[np.ndarray] = []
    files: list[CdcFile] = []

    def emit(ids, ops, ts_us, path, day, mtime):
        n = len(ids)
        cols = {"Op": pa.array(ops), "_dms_ingestion_timestamp": _ts(ts_us)}
        cols.update(spec.build(rng, ids, n))
        t = pa.table(cols)
        size = _write(t, path, mtime)
        id_parts.append(ids)
        file_of_row.append(np.full(n, len(files), dtype=np.int32))
        files.append(CdcFile(path, day, n, size))
        parts.append(t)

    ids = np.arange(load_rows, dtype=np.int64)
    load_ts = int(EPOCH0.timestamp() * 1e6) - DAY_US
    emit(ids, np.full(load_rows, "I"), np.full(load_rows, load_ts),
         os.path.join(root, "LOAD00000001.parquet"), -1, None)
    next_new = load_rows
    for day in range(days):
        for k in range(files_per_day):
            n = rows_per_file(day) if callable(rows_per_file) else rows_per_file
            if not spec.primary_key:
                keys = np.arange(next_new, next_new + n, dtype=np.int64)
                next_new += n
                ops = np.full(n, "I")
            else:
                if key_stream is not None:
                    keys, is_new, next_new = key_stream(rng, day, n, next_new)
                else:
                    keys, is_new, next_new = _key_stream(rng, n, next_new, zipf_a, p_new)
                ops = _ops(rng, n, p_delete, p_reinsert, is_new)
            # the day's files spread over the day; mtime just after the
            # file's own stamp, strictly inside the day
            stamp = day_start(day) + timedelta(seconds=int((k + 0.5) * 86_000 / files_per_day))
            ts_us = int(stamp.timestamp() * 1e6) + np.arange(n, dtype=np.int64)
            name = stamp.strftime("%Y%m%d-%H%M%S") + f"{k % 1000:03d}.parquet"
            path = os.path.join(root, stamp.strftime("%Y/%m/%d"), name)
            emit(keys, ops, ts_us, path, day, stamp.timestamp() + 1.0)
    return TableLog(spec, pa.concat_tables(parts), np.concatenate(id_parts),
                    np.concatenate(file_of_row), files)


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------

SNAPSHOT_TABLES = ["customers", "order_items", "events_log"]


@dataclass
class CdcInputs:
    bucket: str                      # bucket root directory
    catalog: str                     # StaticCatalog JSON path
    logs: dict[str, TableLog]
    source_root: str | None = None   # parquet dir per table (validate input)
    days: int = 0

    def change_rows(self, day: int | None = None) -> int:
        """LOAD + CDC rows of every table, or the CDC rows of one day."""
        return sum(
            f.rows
            for log in self.logs.values()
            for f in log.files if day is None or f.day == day
        )


def gen_snapshot_validate(root: str, seed: int, days: int = 16) -> CdcInputs:
    """The three table shapes of FIXTURES.md §3 (mixed-type single PK,
    composite PK, no PK) as LOAD + Zipf-skewed CDC in YYYY/MM/DD folders, plus
    source tables equal to each table's expected final state (so validate
    must report MATCH everywhere and drill-down never runs)."""
    rng = np.random.default_rng(seed)
    bucket = os.path.join(root, "cdc")
    shape = {  # table -> (load rows, files per day, rows per file)
        "customers": (20_000, 2, 500),
        "order_items": (15_000, 1, 500),
        "events_log": (10_000, 1, 200),
    }
    logs = {
        t: build_table_log(rng, bucket, t, load, days, fpd, rpf)
        for t, (load, fpd, rpf) in shape.items()
    }
    catalog = os.path.join(root, "catalog.json")
    write_catalog(catalog, SNAPSHOT_TABLES)
    source_root = os.path.join(root, "source")
    for t, log in logs.items():
        path = os.path.join(source_root, t, "part-00000.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(log.state(), path)
    return CdcInputs(bucket, catalog, logs, source_root, days)


# advance_windows: one PK table; 3 of 4 day windows are "hot" (few keys,
# many changes each), every 4th is a backfill touching nearly every bucket
ADVANCE_TABLE = "ledger"
HOT_KEYS = 6
N_BUCKETS = 64  # the program's default bucket count for state tables


def bucket_of(path: str) -> int:
    """Bucket id of a bucketed-table data file (``..._NNNNN.c000...``)."""
    return int(re.search(r"_(\d{5})\.", os.path.basename(path)).group(1))


def is_backfill(day: int) -> bool:
    return day % 4 == 3


def gen_advance(root: str, seed: int, days: int = 48) -> CdcInputs:
    """One PK table: 200k LOAD rows, then one CDC file per day; hot days
    change HOT_KEYS keys 3k times, backfill days change 12k random keys."""
    rng = np.random.default_rng(seed)
    bucket = os.path.join(root, "cdc")
    load, hot_rows, backfill_rows = 200_000, 3_000, 12_000

    def keys(rng, day, n, next_new):
        if is_backfill(day):
            k = rng.integers(0, next_new, n).astype(np.int64)
        else:
            hot = rng.choice(next_new, HOT_KEYS, replace=False).astype(np.int64)
            k = hot[rng.integers(0, HOT_KEYS, n)]
        return k, np.zeros(n, dtype=bool), next_new

    def rows(day):
        return backfill_rows if is_backfill(day) else hot_rows

    log = build_table_log(rng, bucket, ADVANCE_TABLE, load, days, 1, rows,
                          p_delete=0.05, p_reinsert=0.05, key_stream=keys)
    catalog = os.path.join(root, "catalog.json")
    write_catalog(catalog, [ADVANCE_TABLE])
    return CdcInputs(bucket, catalog, {ADVANCE_TABLE: log}, None, days)
