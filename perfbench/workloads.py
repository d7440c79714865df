"""The benchmark's workloads: each is a closed loop with one client that
calls the program's public entry points.

A workload object generates its inputs (untimed), sets up (timed as
``setup_s``), runs one operation (timed), checks that operation's outputs
(untimed) and, for the traced run, issues the same work with spans around
the calls into each layer.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os

import pyarrow.parquet as pq

import check
import gen


def run_cli(argv: list[str]) -> tuple[int, str]:
    """One in-process CLI call; its stdout is captured for the checks."""
    from rust_cdc_validator_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def counted(fn, counts: list):
    """``fn``, also recording the length of each result."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        out = fn(*args, **kwargs)
        counts.append(len(out))
        return out

    return call


@contextlib.contextmanager
def patched(*triples):
    """Temporarily replace module attributes: (module, name, new)."""
    saved = [(m, n, getattr(m, n)) for m, n, _ in triples]
    for m, n, new in triples:
        setattr(m, n, new)
    try:
        yield
    finally:
        for m, n, old in saved:
            setattr(m, n, old)


class Workload:
    name = ""
    min_ops = 2        # the cold operation and at least one warm one
    max_ops = 10**9

    def __init__(self, work: str, seed: int):
        self.work = work

    def setup(self, spark, rep: int) -> None:  # timed
        pass

    def op(self, i: int):  # timed
        raise NotImplementedError

    def check(self, i: int, result) -> str | None:  # untimed; None = correct
        raise NotImplementedError

    def unit_rows(self, i: int) -> int:
        raise NotImplementedError

    def traced_op(self, i: int, tracer, layer: dict):
        """Operation i again, with spans; per-layer extras go into ``layer``.
        Returns a result the same ``check`` accepts."""
        raise NotImplementedError

    def corrupt(self, i: int, result):
        """Drop a row from one file of operation i's output (self-test of the
        checks); returns a function that puts the original file back."""
        f = self.output_file(i, result)
        backup = os.path.join(self.work, "tmp", "corrupted-original")
        os.replace(f, backup)  # keeps the original inode (hard links) intact
        t = pq.read_table(backup)
        pq.write_table(t.slice(1), f)
        return lambda: os.replace(backup, f)


# ---------------------------------------------------------------------------
# snapshot_validate
# ---------------------------------------------------------------------------


class SnapshotValidate(Workload):
    """One operation = one CLI call that snapshots every table (replay of
    LOAD + all CDC files) and validates it against the source tables."""

    name = "snapshot_validate"
    min_ops = 3        # the cold operation and two warm ones

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.inp = gen.gen_snapshot_validate(os.path.join(work, "in"), seed)
        self.expected = {
            t: check.digest_arrow(log.state(), log.spec.pg_types)
            for t, log in self.inp.logs.items()
        }
        self.rows_in = self.inp.change_rows()
        self.out = os.path.join(work, "out")
        self.argv = [
            "--bucket-root", "file://" + self.inp.bucket,
            "--database", gen.DB, "--schema", gen.SCHEMA,
            "--catalog-json", self.inp.catalog,
            "--start-date", gen.day_start(-1).date().isoformat(),
            "--output", self.out,
            "--source-root", self.inp.source_root,
        ]

    def op(self, i):
        return run_cli(self.argv)

    def unit_rows(self, i):
        return self.rows_in

    def check(self, i, result):
        rc, out = result
        if rc != 0:
            return f"exit code {rc}"
        for t, want in self.expected.items():
            if f"validate {t}: MATCH counts={want[0]}/{want[0]} " not in out:
                return f"validate line for {t} missing or not MATCH"
            got = check.digest_parquet_dir(
                os.path.join(self.out, t), self.inp.logs[t].spec.pg_types)
            if got != want:
                return f"snapshot {t}: digest {got} != expected {want}"
        return None

    def output_file(self, i, result):
        return check.parquet_files(os.path.join(self.out, "customers"))[0]

    def traced_op(self, i, tracer, layer):
        """The CLI's snapshot+validate calls (``__main__.main``), issued one
        at a time so each lazy replay is charged to the action that runs it."""
        from rust_cdc_validator_spark import api
        from rust_cdc_validator_spark.__main__ import (
            _load_catalog, _parse_date, build_parser,
        )
        from rust_cdc_validator_spark.session import get_spark
        from rust_cdc_validator_spark.sources.manifest import FileMode

        args = build_parser().parse_args(self.argv)
        files: list[int] = []
        with patched(
            (api, "discover_files", tracer.wrap(
                counted(api.discover_files, files), "sources.manifest.discover")),
            (api, "replay_snapshot",
             tracer.wrap(api.replay_snapshot, "operators.replay")),
            (api, "diff_tables", tracer.wrap(api.diff_tables, "operators.diff")),
        ), tracer.span("cli"):
            payload = api.CdcPayload(
                bucket_root=args.bucket_root, database=args.database,
                schema=args.schema, mode=FileMode(args.mode),
                start_date=_parse_date(args.start_date),
                chunk_size=args.chunk_size, start_position=args.start_position,
            )
            spark = get_spark("cdc-validator-cli")
            validator = api.CdcValidator(spark, _load_catalog(args.catalog_json))
            with tracer.span("api.snapshot") as s:
                tracer.anchor = s
                snapshots = validator.snapshot(payload)
            rows_out = 0
            for t, df in snapshots.items():
                path = f"{args.output}/{t}"
                with tracer.span("operators.replay"):
                    df.write.mode("overwrite").parquet(path)
                rows_out += spark.read.parquet(path).count()
            sources = {
                t: spark.read.parquet(f"{args.source_root}/{t}")
                for t in validator._tables(payload)
            }
            with tracer.span("api.validate") as s:
                tracer.anchor = s
                reports = validator.validate(payload, sources, snapshots)
            tracer.anchor = None
        chunks = sum(r.chunks_compared for r in reports.values())
        layer["sources.manifest.files_returned"] = sum(files)
        layer["operators.replay.rows_out_per_row_in"] = rows_out / self.rows_in
        layer["operators.diff.chunks_compared"] = chunks
        layer["operators.diff.mismatched_chunk_ratio"] = (
            sum(len(r.mismatched_chunks) for r in reports.values()) / max(1, chunks))
        # the CLI's validate lines, so the same check applies
        return 0, "".join(
            f"validate {t}: {'MATCH' if r.is_match else 'MISMATCH'} "
            f"counts={r.source_count}/{r.target_count} \n"
            for t, r in reports.items())


# ---------------------------------------------------------------------------
# advance_windows
# ---------------------------------------------------------------------------


class AdvanceWindows(Workload):
    """One operation = one CLI ``--advance-state`` call over the next day
    window of a bucketed state table (64 buckets, the program default)."""

    name = "advance_windows"
    min_ops = 5        # days 1-4: three hot windows and the first backfill (day 3)

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.inp = gen.gen_advance(os.path.join(work, "in"), seed)
        self.log = self.inp.logs[gen.ADVANCE_TABLE]
        self.pg_types = self.log.spec.pg_types
        self.wh = os.path.join(work, "warehouse")
        self.file_stats: dict[int, dict] = {}
        self.max_ops = self.inp.days  # one day window per operation

    def table(self, version: int) -> str:
        return f"{self.prefix}_v{version}"

    def setup(self, spark, rep):
        """Seed version 0 of the state: the LOAD file is the table's full
        snapshot (unique keys, all inserts), bucketed on the primary key."""
        from rust_cdc_validator_spark.operators.state import save_state_bucketed

        self.prefix = f"ledger_r{rep}"
        load = [f.path for f in self.log.files if f.day < 0]
        state = spark.read.parquet(*load).drop(*gen.ENVELOPE)
        save_state_bucketed(state, self.table(0), self.log.spec.primary_key)

    def argv(self, i, new_table):
        return [
            "--advance-state", self.table(i), new_table,
            "--bucket-root", "file://" + self.inp.bucket,
            "--database", gen.DB, "--schema", gen.SCHEMA,
            "--catalog-json", self.inp.catalog,
            "--included-tables", gen.ADVANCE_TABLE,
            "--start-date", gen.day_start(i).isoformat(),
            "--stop-date", gen.day_start(i + 1).isoformat(),
        ]

    def op(self, i, new_table=None):
        new_table = new_table or self.table(i + 1)
        return (*run_cli(self.argv(i, new_table)), new_table)

    def unit_rows(self, i):
        return self.inp.change_rows(day=i)

    def check(self, i, result):
        rc, out, new_table = result
        if rc != 0:
            return f"exit code {rc}"
        want = check.digest_arrow(self.log.state(upto_day=i + 1), self.pg_types)
        if f"advance {gen.ADVANCE_TABLE}: {want[0]} rows -> {new_table} " not in out:
            return f"advance line wrong: {out.strip()!r}"
        got = check.digest_parquet_dir(self._dir(new_table), self.pg_types)
        if got != want:
            return f"state {new_table}: digest {got} != expected {want}"
        if new_table == self.table(i + 1):
            self.file_stats[i] = self._file_stats(i)
        return None

    def output_file(self, i, result):
        return check.parquet_files(self._dir(result[2]))[-1]

    def _dir(self, table):
        return os.path.join(self.wh, table)

    def _file_stats(self, i):
        """Which files of version i+1 were newly written and which were
        carried (same inode) from version i."""
        old = {os.stat(p).st_ino for p in check.parquet_files(self._dir(self.table(i)))}
        new = check.parquet_files(self._dir(self.table(i + 1)))
        carried = [p for p in new if os.stat(p).st_ino in old]
        written = [p for p in new if os.stat(p).st_ino not in old]
        carried_buckets = {gen.bucket_of(p) for p in carried}
        cdc_bytes = sum(f.bytes for f in self.log.files if f.day == i)
        bytes_written = sum(os.path.getsize(p) for p in written)
        return {
            "touched_bucket_ratio": 1 - len(carried_buckets) / gen.N_BUCKETS,
            "files_carried_ratio": len(carried) / max(1, len(new)),
            "bytes_written": bytes_written,
            "write_amp": bytes_written / max(1, cdc_bytes),
            "backfill": gen.is_backfill(i),
        }

    def traced_op(self, i, tracer, layer):
        """The same window again, from the same version, into a side table."""
        from rust_cdc_validator_spark.operators import replay, state
        from rust_cdc_validator_spark.sources import manifest

        files: list[int] = []
        with patched(
            (manifest, "discover_files", tracer.wrap(
                counted(manifest.discover_files, files), "sources.manifest.discover")),
            (replay, "with_sequence",
             tracer.wrap(replay.with_sequence, "operators.replay")),
            (state, "merge_into_state_touched",
             tracer.wrap(state.merge_into_state_touched, "operators.state")),
        ), tracer.span("cli"):
            result = self.op(i, f"{self.prefix}_t{i + 1}")
        layer["sources.manifest.files_returned"] = sum(files)
        return result


WORKLOADS = {w.name: w for w in (SnapshotValidate, AdvanceWindows)}
