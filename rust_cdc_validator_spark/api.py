"""Public API facade mirroring the reference's entry surface.

Reference: ``CDCOperator::{snapshot, validate}`` driven by
``CDCOperatorPayload`` (src/cdc/cdc_operator.rs:26,254;
src/cdc/cdc_operator_payload.rs:4-93). Our equivalents are
``CdcValidator.snapshot(...)`` and ``.validate(...)`` over a ``Catalog`` and
a filesystem root, with the same flags and the same invariants
(``only_datadiff`` and ``only_snapshot`` are mutually exclusive,
cdc_operator_payload.rs:70-72).

Multi-table orchestration: the reference runs up to NUM_OF_BUFFERS=80 table
pipelines concurrently (cdc_operator.rs:237-248). On Spark the per-table work
is itself distributed, so table-level fan-out is a driver-side thread pool
issuing independent jobs — the scheduler interleaves their stages. Every
multi-table call goes through that one pool, ``_fan_out``.
"""

from __future__ import annotations

import os
import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from rust_cdc_validator_spark.operators.diff import DiffReport, diff_tables
from rust_cdc_validator_spark.operators.replay import replay_snapshot
from rust_cdc_validator_spark.sources.catalog import Catalog
from rust_cdc_validator_spark.sources.manifest import (
    FileMode,
    discover_files,
    to_utc,
)


@dataclass
class CdcPayload:
    """Config mirroring CDCOperatorPayload (cdc_operator_payload.rs:4-22)."""

    bucket_root: str          # e.g. file:///tmp/cdc or s3a://bucket/prefix
    database: str
    schema: str
    included_tables: list[str] = field(default_factory=list)
    excluded_tables: list[str] = field(default_factory=list)
    mode: FileMode = FileMode.DATE_AWARE
    start_date: datetime | None = None
    stop_date: datetime | None = None
    absolute_path: str | None = None  # ABSOLUTE_PATH mode: the single file
    chunk_size: int = 1000        # main.rs:75-77 default
    start_position: int = 0       # main.rs:81-83 default
    only_datadiff: bool = False
    only_snapshot: bool = False
    # read when each payload is built, so a changed environment applies
    max_parallel_tables: int = field(
        default_factory=lambda: int(os.environ.get("NUM_OF_BUFFERS", "80"))
    )

    def __post_init__(self) -> None:
        if self.only_datadiff and self.only_snapshot:
            # reference panics on this combination (cdc_operator_payload.rs:70-72)
            raise ValueError("only_datadiff and only_snapshot are mutually exclusive")
        if self.mode is FileMode.DATE_AWARE and not self.start_date:
            # the reference client requires start-date in DateAware mode
            # (main.rs:60-63, required unless only_snapshot of a full load)
            raise ValueError("DATE_AWARE mode requires start_date")
        # accept ISO strings for the date bounds (the reference client takes
        # "YYYY-MM-DDTHH:MM:SSZ" strings, main.rs:60-68); every bound is
        # held in UTC, the same rule the CLI's _parse_date applies
        self.start_date = to_utc(self.start_date)
        self.stop_date = to_utc(self.stop_date)


def _fan_out(payload: CdcPayload, fn: Callable, tables: Iterable[str]) -> dict:
    """``{t: fn(t)}`` for every table, run concurrently on one local
    thread pool (reference: NUM_OF_BUFFERS-wide table pipelines,
    cdc_operator.rs:237-248). Each call submits its own Spark jobs; the
    scheduler interleaves their stages instead of serializing N action
    latencies. The pool is ``payload.max_parallel_tables`` wide, capped at
    32 threads (and at least 1). Results come back in ``tables`` (catalog)
    order; the first failing table's exception propagates."""
    with ThreadPoolExecutor(
        max_workers=max(1, min(payload.max_parallel_tables, 32))
    ) as ex:
        futures = {t: ex.submit(fn, t) for t in tables}
        return {t: fut.result() for t, fut in futures.items()}


class CdcValidator:
    """snapshot + validate over DMS-layout CDC parquet, Spark-first."""

    def __init__(self, spark, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    def table_root(self, payload: CdcPayload, table: str) -> str:
        # {prefix}/{database}/{schema}/{table}/ (s3_operator.rs:144-154)
        return posixpath.join(payload.bucket_root, payload.database, payload.schema, table)

    def _tables(self, payload: CdcPayload) -> list[str]:
        return self.catalog.get_tables_in_schema(
            payload.schema,
            include=payload.included_tables or None,
            exclude=payload.excluded_tables or None,
        )

    def snapshot_table(self, payload: CdcPayload, table: str) -> DataFrame:
        """Reconstruct one table's final state from its LOAD+CDC files."""
        entries = discover_files(
            self.spark,
            self.table_root(payload, table),
            mode=payload.mode,
            start_date=payload.start_date,
            stop_date=payload.stop_date,
            absolute_path=payload.absolute_path,
        )
        columns = self.catalog.get_table_columns(payload.schema, table)
        pk = self.catalog.get_primary_key(payload.schema, table)
        return replay_snapshot(
            self.spark, entries, pk, expected_columns=list(columns)
        )

    def snapshot(self, payload: CdcPayload) -> dict[str, DataFrame]:
        """All tables, fanned out on ``_fan_out`` like
        cdc_operator.rs:237-248."""
        return _fan_out(
            payload, lambda t: self.snapshot_table(payload, t),
            self._tables(payload),
        )

    def validate(
        self,
        payload: CdcPayload,
        source_frames: dict[str, DataFrame],
        target_frames: dict[str, DataFrame],
        chunk_specs: dict[str, tuple[float, float, int]] | None = None,
    ) -> dict[str, DiffReport]:
        """Native diff replacing the rust-pgdatadiff delegation
        (cdc_operator.rs:254-288).

        ``chunk_specs``: per-table chunk specs from a previous run's
        ``report.details["chunk_spec"]`` — standing pipelines that validate
        the same tables repeatedly pass them back to skip each table's
        spec pass (see ``operators/diff.py:compute_chunk_spec``).

        Tables diff CONCURRENTLY on ``_fan_out``, like ``snapshot`` — each
        table's diff is one or two blocking Spark actions. Catalog
        lookups stay on the calling thread (JDBC catalogs aren't assumed
        thread-safe).

        Targets are compared as given: a lazy frame from ``snapshot`` re-runs
        its table's replay inside the diff. Write the snapshots first and
        pass ``spark.read.parquet`` frames (what the CLI does) to replay each
        table once."""
        tables = [
            t
            for t in self._tables(payload)
            if t in source_frames and t in target_frames
        ]
        pks = {t: self.catalog.get_primary_key(payload.schema, t) for t in tables}
        return _fan_out(
            payload,
            lambda t: diff_tables(
                source_frames[t],
                target_frames[t],
                primary_key=pks[t],
                chunk_size=payload.chunk_size,
                start_position=payload.start_position,
                table=t,
                chunk_spec=(chunk_specs or {}).get(t),
            ),
            tables,
        )

    def advance_state(
        self,
        payload: CdcPayload,
        table: str,
        state_table: str,
        new_state_table: str,
    ) -> DataFrame:
        """Incremental snapshot advance: apply ONLY the CDC files in the
        payload's [start_date, stop_date) window to an existing PK-bucketed
        state table (``operators/state.py``), writing the result as
        ``new_state_table``. Returns the new state DataFrame.

        The standing-pipeline sibling of ``snapshot``: a full snapshot
        replays LOAD + all history every run (the reference's only mode,
        cdc_operator.rs:57-231); here the 100 TB state never re-replays —
        one delta-sized shuffle merges the window's changes in. LOAD files
        are EXCLUDED from the delta: they are already part of the state
        lineage, and re-applying them would resurrect rows deleted since
        (the window must cover exactly the not-yet-applied files — advance
        it monotonically run to run).

        Seed the chain with a bucketed full snapshot:
        ``save_state_bucketed(snapshot(p0)[t], state_v0, pk)``.

        The applied window is stamped on the new table
        (TBLPROPERTIES ``cdc.window.start`` / ``cdc.window.stop``) so the
        chain is self-describing: read it back with ``state_window`` and
        start the next run at the stored stop (the manifest window is
        half-open, so a file whose mtime equals the shared boundary lands
        in exactly the later run).
        """
        from rust_cdc_validator_spark.operators.replay import scan_changes
        from rust_cdc_validator_spark.operators.state import (
            merge_into_state_touched,
            _bucket_count,
            save_state_bucketed,
        )
        from rust_cdc_validator_spark.sources.manifest import discover_files

        entries = [
            e
            for e in discover_files(
                self.spark,
                self.table_root(payload, table),
                mode=payload.mode,
                start_date=payload.start_date,
                stop_date=payload.stop_date,
                absolute_path=payload.absolute_path,
            )
            if not e.is_load
        ]
        pk = self.catalog.get_primary_key(payload.schema, table)
        if not pk:
            raise ValueError("advance_state requires a primary key (bucketed state)")
        if not entries:  # empty window: state unchanged, just version forward
            save_state_bucketed(
                self.spark.table(state_table), new_state_table, pk,
                n_buckets=_bucket_count(self.spark, state_table),
            )
        else:
            # same drift gate as snapshot_table: a column added to the CDC
            # stream mid-window raises the catalog-aware error instead of
            # being silently dropped by the merge's state-schema projection;
            # a delta MISSING state columns surfaces as an unresolved column
            # in the merge, which is correct (the state schema is the
            # contract)
            columns = self.catalog.get_table_columns(payload.schema, table)
            seqd = scan_changes(self.spark, entries, expected_columns=list(columns))
            # the merge reads Op for its delete arm and drops the envelope
            # itself; only the delta's buckets are rewritten — untouched
            # buckets' files carry over byte-identical (operators/state.py)
            merge_into_state_touched(
                self.spark, state_table, seqd, pk, new_state_table
            )
        self._stamp_state_window(new_state_table, payload)
        return self.spark.table(new_state_table)

    def _stamp_state_window(self, table_name: str, payload: CdcPayload) -> None:
        # stamped in UTC, so the round-trip through state_window is
        # unambiguous
        props = {}
        if payload.start_date:
            props["cdc.window.start"] = to_utc(payload.start_date).isoformat()
        if payload.stop_date:
            props["cdc.window.stop"] = to_utc(payload.stop_date).isoformat()
        if props:
            kv = ", ".join(
                f"'{k}'='{v.replace(chr(39), chr(39) * 2)}'"
                for k, v in props.items()
            )
            self.spark.sql(f"ALTER TABLE {table_name} SET TBLPROPERTIES ({kv})")

    def state_window(self, table_name: str) -> dict[str, datetime]:
        """The window stamped on a state version by ``advance_state``:
        ``{"start": ..., "stop": ...}`` (keys present if stamped). A
        standing pipeline reads this to derive the next run's start —
        ``state_window(current)["stop"]`` — instead of tracking it
        out-of-band."""
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
        props = {r["key"]: r["value"] for r in rows}
        out: dict[str, datetime] = {}
        for name, key in (("start", "cdc.window.start"), ("stop", "cdc.window.stop")):
            if key in props:
                out[name] = datetime.fromisoformat(props[key])
        return out

    def advance_states(
        self,
        payload: CdcPayload,
        state_tables: dict[str, str],
        new_state_tables: dict[str, str],
    ) -> dict[str, DataFrame]:
        """Advance EVERY catalog table's bucketed state over the payload
        window, fanned out on ``_fan_out`` like ``snapshot`` /
        ``validate``. ``state_tables`` / ``new_state_tables`` map table
        name → current / next state-table name; tables missing from either
        map are skipped."""
        tables = [
            t
            for t in self._tables(payload)
            if t in state_tables and t in new_state_tables
        ]
        return _fan_out(
            payload,
            lambda t: self.advance_state(
                payload, t, state_tables[t], new_state_tables[t]
            ),
            tables,
        )

    def drift_between_states(
        self,
        state_table_before: str,
        state_table_after: str,
        columns: list[str] | None = None,
        rel_tolerance: float = 0.01,
    ) -> DataFrame:
        """Distribution drift between two state-table versions
        (``operators/drift.py:drift_report``) — the monitoring step a
        standing ``advance_state`` chain runs after each merge: the
        equality diff answers "did replay reproduce the source"; this
        answers "how did the table MOVE this window" (null creep, scale
        shifts, cardinality collapse). Two bucketed-state scans, one
        KB-sized compare; no PK needed."""
        from rust_cdc_validator_spark.operators.drift import drift_report

        before = self.spark.table(state_table_before)
        after = self.spark.table(state_table_after)
        return drift_report(
            before, after, columns=columns, rel_tolerance=rel_tolerance
        )

    def run(
        self,
        payload: CdcPayload,
        source_frames: dict[str, DataFrame] | None = None,
        target_frames: dict[str, DataFrame] | None = None,
    ):
        """Full pipeline with the reference's flag gating (main.rs:345-373).

        ``only_datadiff`` skips the snapshot but STILL diffs (reference
        semantics: the datadiff runs against previously-written snapshots,
        cdc_operator.rs:254-288) — so in that mode the caller must supply
        ``target_frames`` (e.g. snapshots persisted by an earlier run).
        Passing nothing used to silently validate zero tables and return an
        empty report dict that read as success; now it raises.
        """
        snapshots: dict[str, DataFrame] = {}
        if not payload.only_datadiff:
            snapshots = self.snapshot(payload)
        if payload.only_snapshot:
            return snapshots, {}
        targets = target_frames if target_frames is not None else snapshots
        if payload.only_datadiff:
            if not targets:
                raise ValueError(
                    "only_datadiff skips the snapshot, so target_frames "
                    "(previously persisted snapshots) are required — "
                    "otherwise nothing would be validated"
                )
            reports = self.validate(payload, source_frames or {}, targets)
            if not reports:
                raise ValueError(
                    "only_datadiff validated zero tables: no overlap between "
                    "catalog tables, source_frames, and target_frames"
                )
            return snapshots, reports
        reports = self.validate(payload, source_frames or {}, targets)
        return snapshots, reports
