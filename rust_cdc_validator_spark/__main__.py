"""CLI driver mirroring the reference's `validate` command surface
(dms-cdc-operator-client/src/main.rs:110-155 clap args; flag gating at
:345-373). One command, two phases: snapshot (CDC replay) then validate
(diff), gated by --only-snapshot / --only-datadiff.

The catalog comes from the JSON file named by --catalog-json
(StaticCatalog shape):

    {"public": {"customers": {"columns": {"id": "bigint", ...},
                              "primary_key": ["id"]}}}

Usage:
    python -m rust_cdc_validator_spark \
        --bucket-root file:///data/cdc --database db --schema public \
        --catalog-json catalog.json --start-date 2024-01-01 \
        --output /tmp/snapshots [--only-snapshot | --only-datadiff] \
        [--chunk-size 1000] [--start-position 0] \
        [--included-tables t1 t2] [--excluded-tables t3] \
        [--mode date_aware|full_load_only]
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime

from rust_cdc_validator_spark.api import CdcPayload, CdcValidator, _fan_out
from rust_cdc_validator_spark.session import get_spark
from rust_cdc_validator_spark.sources.catalog import StaticCatalog
from rust_cdc_validator_spark.sources.manifest import FileMode, to_utc


def _load_catalog(path: str) -> StaticCatalog:
    with open(path) as f:
        raw = json.load(f)
    tables = {
        schema: {
            t: (spec["columns"], spec.get("primary_key", []))
            for t, spec in ts.items()
        }
        for schema, ts in raw.items()
    }
    return StaticCatalog(tables)


def _parse_date(s: str | None) -> datetime | None:
    return to_utc(s)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rust_cdc_validator_spark")
    p.add_argument("--interactive", action="store_true",
                   help="prompt for any value not given as a flag "
                        "(the reference client's inquire flow)")
    p.add_argument("--bucket-root")
    p.add_argument("--database")
    p.add_argument("--schema")
    p.add_argument("--catalog-json")
    p.add_argument("--output", help="dir for snapshot parquet")
    p.add_argument("--mode", choices=[m.value for m in FileMode],
                   default=FileMode.DATE_AWARE.value)
    p.add_argument("--start-date")
    p.add_argument("--stop-date")
    p.add_argument("--absolute-path", help="single parquet file (absolute_path mode)")
    p.add_argument("--included-tables", nargs="*", default=[])
    p.add_argument("--excluded-tables", nargs="*", default=[])
    # reference CLI defaults: main.rs:75-83
    p.add_argument("--chunk-size", type=int, default=1000)
    p.add_argument("--start-position", type=int, default=0)
    p.add_argument("--only-snapshot", action="store_true")
    p.add_argument("--only-datadiff", action="store_true")
    p.add_argument("--source-root", help="parquet dir of source tables for validate")
    p.add_argument(
        "--corpus-prep", nargs=2, metavar=("INPUT", "OUTPUT"),
        help="extension: run the composed training-corpus prep (quality "
             "gate -> exact dedup [-> near-dup removal]) on a corpus with "
             "columns (doc_id, text) and write size-targeted shards + "
             "_MANIFEST.json to OUTPUT",
    )
    p.add_argument("--corpus-format", choices=["parquet", "jsonl"],
                   default="parquet")
    p.add_argument("--corpus-jsonl-schema",
                   help="DDL schema for jsonl input, e.g. "
                        "'doc_id long, text string' (required for jsonl — "
                        "inference would be a hidden extra scan)")
    p.add_argument("--corpus-quarantine",
                   help="dir for malformed jsonl lines (default: skip write)")
    p.add_argument("--corpus-neardup", action="store_true",
                   help="add the MinHash near-dup removal stage")
    p.add_argument("--corpus-min-chars", type=int, default=100)
    p.add_argument("--corpus-shuffle-seed", type=int,
                   help="append a deterministic (shard, shard_pos) epoch "
                        "order with this seed before writing")
    p.add_argument("--corpus-target-shard-mb", type=int, default=256)
    p.add_argument("--corpus-splits",
                   help="comma list 'train=0.8,val=0.1,test=0.1': append a "
                        "deterministic split column after dedup (post-dedup "
                        "survivors are cluster keepers, so id-keyed splits "
                        "are leakage-safe)")
    p.add_argument("--corpus-sort-by", nargs="+",
                   help="sort WITHIN each shard by these columns before "
                        "writing (tightens parquet row-group min/max for "
                        "pruned point/range reads; no extra shuffle)")
    p.add_argument(
        "--drift-states", nargs=2, metavar=("STATE_A", "STATE_B"),
        help="extension: distribution-drift report between two state-table "
             "versions (exit 1 when any metric drifts past 1%%)",
    )
    p.add_argument(
        "--quality-audit", nargs=2, metavar=("TABLE_PARQUET", "SPEC_JSON"),
        help="extension: run a declarative expectation suite "
             "(operators/expect.py) over a parquet table; SPEC_JSON is a "
             "list of {name, kind, column, ...params}; referential specs "
             "name a ref_table resolved under --quality-ref-root",
    )
    p.add_argument("--quality-ref-root",
                   help="dir holding {ref_table}.parquet for referential "
                        "expectations")
    p.add_argument("--quality-fail-on-violation", action="store_true",
                   help="exit 2 when any expectation has failures")
    p.add_argument(
        "--advance-state", nargs=2, metavar=("STATE_TABLE", "NEW_STATE_TABLE"),
        help="incremental mode (extension): apply only the window's CDC "
             "files to the bucketed STATE_TABLE, writing NEW_STATE_TABLE "
             "(one table — use --included-tables with exactly one name); "
             "the applied window is stamped on the new table",
    )
    return p


_REQUIRED = ["bucket_root", "database", "schema", "catalog_json", "output"]


def _prompt_missing(args, input_fn=input) -> None:
    """Interactive prompt flow mirroring the reference client's inquire
    prompts (dms-cdc-operator-client/src/main.rs:157-285): each value not
    already given as a flag is asked for on stdin; empty input keeps the
    default (required values re-prompt)."""

    def ask(label, default=None, required=False, cast=lambda s: s):
        while True:
            suffix = f" [{default}]" if default not in (None, "", []) else ""
            raw = input_fn(f"{label}{suffix}: ").strip()
            if not raw:
                if required and default in (None, ""):
                    print("  value required", file=sys.stderr)
                    continue
                return default
            return cast(raw)

    args.bucket_root = args.bucket_root or ask(
        "bucket root (file:///... or s3a://...)", required=True)
    args.database = args.database or ask("database name", required=True)
    args.schema = args.schema or ask("schema name", required=True)
    args.catalog_json = args.catalog_json or ask("catalog JSON path", required=True)
    args.output = args.output or ask("snapshot output dir", required=True)
    args.mode = ask("mode", default=args.mode)
    if FileMode(args.mode) is FileMode.DATE_AWARE and not args.start_date:
        args.start_date = ask("start date (ISO)", required=True)
        args.stop_date = args.stop_date or ask("stop date (ISO, empty = none)")
    if not args.included_tables:
        raw = ask("included tables (space-separated, empty = all)")
        args.included_tables = raw.split() if raw else []
    args.chunk_size = ask("chunk size", default=args.chunk_size, cast=int)
    args.start_position = ask("start position", default=args.start_position, cast=int)


def _run_corpus_prep(args) -> int:
    """The corpus-prep CLI leg: parquet/JSONL in, deduped shards +
    manifest out. Separate from the CDC leg — it needs no catalog, no
    bucket layout, no payload."""
    from pyspark.sql.types import _parse_datatype_string

    from rust_cdc_validator_spark.operators.corpus import (
        prepare_training_corpus,
        prepare_training_corpus_neardup,
        shuffle_corpus,
    )
    from rust_cdc_validator_spark.sources.corpus_io import (
        read_jsonl_corpus,
        write_corpus_shards,
    )

    inp, outp = args.corpus_prep
    spark = get_spark("corpus-prep-cli")
    n_quarantined = 0
    if args.corpus_format == "jsonl":
        if not args.corpus_jsonl_schema:
            print("--corpus-jsonl-schema is required for jsonl input",
                  file=sys.stderr)
            return 2
        schema = _parse_datatype_string(args.corpus_jsonl_schema)
        docs, quarantined = read_jsonl_corpus(spark, inp, schema)
        if args.corpus_quarantine:
            quarantined.write.mode("overwrite").text(args.corpus_quarantine)
            n_quarantined = spark.read.text(args.corpus_quarantine).count()
    else:
        docs = spark.read.parquet(inp)
    prep = (
        prepare_training_corpus_neardup
        if args.corpus_neardup
        else prepare_training_corpus
    )
    # the prep pipelines return per-doc STATS; the shard writer needs the
    # surviving documents whole -> semi-join the keeper ids (8-byte key)
    keepers = prep(docs, min_chars=args.corpus_min_chars).select("doc_id")
    kept = docs.join(keepers, "doc_id", "left_semi")
    if args.corpus_splits:
        from rust_cdc_validator_spark.operators.corpus import (
            leakage_safe_split,
        )

        try:
            ratios = {
                name.strip(): float(v)
                for name, v in (
                    part.split("=") for part in args.corpus_splits.split(",")
                )
            }
        except ValueError:
            print("--corpus-splits must look like 'train=0.8,val=0.2'",
                  file=sys.stderr)
            return 2
        kept = leakage_safe_split(kept, ratios)
    shard_col = None
    if args.corpus_shuffle_seed is not None:
        kept = shuffle_corpus(kept, seed=args.corpus_shuffle_seed)
        # the epoch shuffle already shuffled on `shard`: reuse that
        # partitioning for the write instead of a second full-text
        # round-robin repartition (plan-asserted in test_plans.py)
        shard_col = "shard"
    manifest = write_corpus_shards(
        kept,
        outp,
        target_shard_mb=args.corpus_target_shard_mb,
        sort_by=args.corpus_sort_by,
        shard_col=shard_col,
    )
    print(
        f"corpus-prep: {manifest['row_count']} docs -> "
        f"{manifest['num_shards']} shards at {outp}"
        + (f" ({n_quarantined} lines quarantined)" if n_quarantined else "")
    )
    return 0


def _run_quality_audit(args) -> int:
    """The data-contract CLI leg: parquet table + JSON expectation spec →
    printed report, machine-readable JSON line, and an exit contract
    (--quality-fail-on-violation → exit 2 on any failed expectation) so
    a scheduler can gate a pipeline on table health."""
    from rust_cdc_validator_spark.operators.expect import (
        Expectation,
        expect_report,
    )

    table_path, spec_path = args.quality_audit
    with open(spec_path) as f:
        raw = json.load(f)
    spark = get_spark("quality-audit-cli")
    exps = []
    for item in raw:
        params = {
            k: v
            for k, v in item.items()
            if k not in ("name", "kind", "column", "ref_table")
        }
        if item["kind"] == "referential":
            if not args.quality_ref_root:
                print("referential expectation needs --quality-ref-root",
                      file=sys.stderr)
                return 1
            params["ref"] = spark.read.parquet(
                f"{args.quality_ref_root}/{item['ref_table']}.parquet"
            )
        exps.append(
            Expectation(item["name"], item["kind"], item["column"], params)
        )
    rep = expect_report(spark.read.parquet(table_path), exps)
    rows = rep.collect()
    rep.show(truncate=False)
    print(json.dumps({
        "table": table_path,
        "expectations": len(rows),
        "failed": sum(1 for r in rows if r["n_failed"] > 0),
        "rows": [r.asDict() for r in rows],
    }, default=str))
    if args.quality_fail_on_violation and any(
        r["n_failed"] > 0 for r in rows
    ):
        return 2
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.corpus_prep:
        return _run_corpus_prep(args)
    if args.quality_audit:
        return _run_quality_audit(args)
    if args.drift_states:
        from rust_cdc_validator_spark.operators.drift import drift_report

        spark = get_spark("cdc-validator-cli")
        a, b = args.drift_states
        rep = drift_report(spark.table(a), spark.table(b)).orderBy(
            "column", "metric"
        )
        drifted = 0
        for r in rep.collect():
            mark = "DRIFT" if r["drifted"] else "ok   "
            drifted += bool(r["drifted"])
            print(
                f"{mark} {r['column']}.{r['metric']}: "
                f"{r['value_before']} -> {r['value_after']}"
            )
        return 1 if drifted else 0
    if args.interactive:
        _prompt_missing(args)
    required = [
        k for k in _REQUIRED
        # advance-state writes a TABLE version, not parquet under --output
        if not (args.advance_state and k == "output")
    ]
    missing = [k for k in required if not getattr(args, k)]
    if missing:
        parser.error(
            "missing required arguments: "
            + ", ".join("--" + m.replace("_", "-") for m in missing)
            + " (or use --interactive)"
        )
    payload = CdcPayload(
        bucket_root=args.bucket_root,
        database=args.database,
        schema=args.schema,
        included_tables=args.included_tables,
        excluded_tables=args.excluded_tables,
        mode=FileMode(args.mode),
        start_date=_parse_date(args.start_date),
        stop_date=_parse_date(args.stop_date),
        absolute_path=args.absolute_path,
        chunk_size=args.chunk_size,
        start_position=args.start_position,
        only_datadiff=args.only_datadiff,
        only_snapshot=args.only_snapshot,
    )
    spark = get_spark("cdc-validator-cli")
    validator = CdcValidator(spark, _load_catalog(args.catalog_json))

    if args.advance_state:
        if len(args.included_tables) != 1:
            parser.error("--advance-state requires exactly one --included-tables name")
        state_table, new_state_table = args.advance_state
        table = args.included_tables[0]
        df = validator.advance_state(payload, table, state_table, new_state_table)
        win = validator.state_window(new_state_table)
        print(
            f"advance {table}: {df.count()} rows -> {new_state_table} "
            f"window={win.get('start')}..{win.get('stop')}"
        )
        return 0

    if not payload.only_datadiff:
        snapshots = validator.snapshot(payload)

        def write(table: str) -> int:
            out = f"{args.output}/{table}"
            snapshots[table].write.mode("overwrite").parquet(out)
            return spark.read.parquet(out).count()

        # tables write concurrently on the snapshot/validate pool; the lines
        # still print in catalog order
        for table, n in _fan_out(payload, write, snapshots).items():
            print(f"snapshot {table}: {n} rows -> {args.output}/{table}")
    if payload.only_snapshot:
        return 0

    if not args.source_root:
        print("validate skipped: --source-root not given", file=sys.stderr)
        return 0
    sources = {
        t: spark.read.parquet(f"{args.source_root}/{t}")
        for t in validator._tables(payload)
    }
    # validate the written snapshot, not the lazy replay frames: the parquet
    # is the artifact the user gets, and re-reading it does not run each
    # table's replay a second time
    targets = {t: spark.read.parquet(f"{args.output}/{t}") for t in sources}
    reports = validator.validate(payload, sources, targets)
    ok = True
    for t, rep in reports.items():
        status = "MATCH" if rep.is_match else "MISMATCH"
        print(
            f"validate {t}: {status} counts={rep.source_count}/{rep.target_count} "
            f"bad_chunks={rep.mismatched_chunks}"
        )
        ok &= rep.is_match
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
