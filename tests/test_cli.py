"""CLI contract regression: drive __main__.main(argv) end-to-end on a
generated bucket (the same flow as `python -m rust_cdc_validator_spark`)."""

from __future__ import annotations

import json

import pytest

from rust_cdc_validator_spark.__main__ import main
from tests.cdc_fixtures import customers_scenario


@pytest.fixture()
def bucket(tmp_path):
    root, expected = customers_scenario(str(tmp_path / "bucket"))
    catalog = {
        "public": {
            "customers": {
                "columns": {"id": "bigint", "name": "text",
                            "score": "double precision", "active": "boolean"},
                "primary_key": ["id"],
            }
        }
    }
    cat_path = tmp_path / "catalog.json"
    cat_path.write_text(json.dumps(catalog))
    return str(tmp_path / "bucket"), str(cat_path), str(tmp_path / "out"), expected


def _count_trace_points(monkeypatch) -> dict[str, int]:
    """Wrap the module attributes the benchmark's traced runs patch
    (perfbench/workloads.py) with call counters. Every call site must look
    its attribute up at call time: one bound at import time bypasses the
    patch, and the traced run then reports zero for its layer."""
    from rust_cdc_validator_spark import api
    from rust_cdc_validator_spark.operators import replay, state
    from rust_cdc_validator_spark.sources import manifest

    calls: dict[str, int] = {}
    for mod, name in (
        (api, "discover_files"), (api, "replay_snapshot"),
        (api, "diff_tables"), (manifest, "discover_files"),
        (replay, "with_sequence"), (state, "merge_into_state_touched"),
    ):
        key = f"{mod.__name__.rsplit('.', 1)[-1]}.{name}"
        calls[key] = 0

        def counted(*args, _fn=getattr(mod, name), _key=key, **kwargs):
            calls[_key] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    return calls


def test_cli_snapshot_then_validate_match(spark, bucket, monkeypatch):
    root, cat, out, expected = bucket
    calls = _count_trace_points(monkeypatch)
    rc = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-snapshot",
    ])
    assert rc == 0
    snap = spark.read.parquet(f"{out}/customers")
    assert snap.count() == len(expected)

    rc2 = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-datadiff", "--source-root", out,
    ])
    assert rc2 == 0  # MATCH → exit 0
    for point in ("api.discover_files", "api.replay_snapshot",
                  "replay.with_sequence", "api.diff_tables"):
        assert calls[point] > 0, point


def test_cli_validate_mismatch_exit_code(spark, bucket):
    root, cat, out, expected = bucket
    main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-snapshot",
    ])
    bad = str(out) + "_bad"
    spark.read.parquet(f"{out}/customers").filter("id <> 3").write.parquet(
        f"{bad}/customers"
    )
    rc = main([
        "--bucket-root", root, "--database", "db", "--schema", "public",
        "--catalog-json", cat, "--start-date", "2024-01-01",
        "--output", out, "--only-datadiff", "--source-root", bad,
    ])
    assert rc == 1  # MISMATCH → exit 1


def test_interactive_prompts_fill_missing_args(monkeypatch):
    """--interactive asks for every value not given as a flag, mirroring
    the reference client's inquire flow; scripted stdin drives it."""
    from rust_cdc_validator_spark.__main__ import _prompt_missing, build_parser

    args = build_parser().parse_args(["--interactive", "--database", "db"])
    answers = iter([
        "file:///tmp/cdc",   # bucket root
        "public",            # schema
        "/tmp/catalog.json", # catalog json
        "/tmp/out",          # output
        "",                  # mode → keep default date_aware
        "2024-01-01",        # start date (required in date_aware)
        "",                  # stop date → none
        "t1 t2",             # included tables
        "500",               # chunk size
        "",                  # start position → default 0
    ])
    _prompt_missing(args, input_fn=lambda prompt: next(answers))
    assert args.bucket_root == "file:///tmp/cdc"
    assert args.database == "db"  # flag value not re-asked
    assert args.schema == "public"
    assert args.start_date == "2024-01-01" and args.stop_date is None
    assert args.included_tables == ["t1", "t2"]
    assert args.chunk_size == 500 and args.start_position == 0


def test_missing_required_args_error_names_interactive(capsys):
    import pytest
    from rust_cdc_validator_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--database", "db"])
    assert exc.value.code == 2
    assert "--interactive" in capsys.readouterr().err


def test_cli_dates_are_utc_instants_like_the_api():
    """A CLI date string means the same instant as the same string given to
    CdcPayload: an offset is converted to UTC, ``Z`` is UTC and a naive
    value is taken as UTC."""
    from datetime import datetime, timedelta, timezone

    from rust_cdc_validator_spark.__main__ import _parse_date
    from rust_cdc_validator_spark.api import CdcPayload

    for text, want in [
        ("2024-01-02T03:00:00+05:00", datetime(2024, 1, 1, 22, 0)),
        ("2024-01-02T03:00:00Z", datetime(2024, 1, 2, 3, 0)),
        ("2024-01-02T03:00:00", datetime(2024, 1, 2, 3, 0)),
    ]:
        want = want.replace(tzinfo=timezone.utc)
        got = _parse_date(text)
        assert got == want and got.utcoffset() == timedelta(0), text
        payload = CdcPayload(bucket_root="file:///tmp/cdc", database="db",
                             schema="public", start_date=text, stop_date=text)
        assert payload.start_date == got and payload.stop_date == got, text
        assert payload.start_date.utcoffset() == timedelta(0), text
    assert _parse_date(None) is None and _parse_date("") is None


def test_cli_import_loads_only_the_cdc_core():
    """Importing the CLI must not pull in the catalog or the corpus, drift
    and quality operators; the subcommands that need them import lazily."""
    import os
    import subprocess
    import sys

    lazy = [
        "operators.drift", "operators.expect", "operators.layout",
        "operators.corpus", "operators.multimodal", "operators.similarity",
        "queries",
    ]
    code = (
        "import sys, rust_cdc_validator_spark.__main__; "
        f"print([m for m in {lazy!r} "
        "if 'rust_cdc_validator_spark.' + m in sys.modules])"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout
    assert out.strip() == "[]"


def test_cli_advance_state(spark, bucket, monkeypatch):
    """--advance-state moves a seeded bucketed state forward over the
    window (an empty future window: version forward, stamped; then the
    window of every CDC file, whose changes the state already holds) and
    requires exactly one included table."""
    import uuid

    from rust_cdc_validator_spark.api import CdcPayload, CdcValidator
    from rust_cdc_validator_spark.operators.state import save_state_bucketed
    from rust_cdc_validator_spark.sources.catalog import StaticCatalog

    root, cat, out, expected = bucket
    catalog = StaticCatalog({"public": {"customers": (
        {"id": "bigint", "name": "text", "score": "double precision",
         "active": "boolean"}, ["id"])}})
    v = CdcValidator(spark, catalog)
    snap = v.snapshot(CdcPayload(
        bucket_root=root, database="db", schema="public",
        start_date="2024-01-01T00:00:00Z",
    ))["customers"]
    v0 = f"cli_state_{uuid.uuid4().hex[:8]}"
    v1, v2 = f"{v0}_v1", f"{v0}_v2"
    try:
        save_state_bucketed(snap, v0, ["id"], n_buckets=4)
        rc = main([
            "--bucket-root", root, "--database", "db", "--schema", "public",
            "--catalog-json", cat, "--start-date", "2099-01-01",
            "--stop-date", "2099-01-02", "--included-tables", "customers",
            "--advance-state", v0, v1,
        ])
        assert rc == 0
        got = sorted(map(tuple, spark.table(v1).collect()))
        assert got == sorted(map(tuple, snap.collect()))
        assert v.state_window(v1)["start"].year == 2099

        calls = _count_trace_points(monkeypatch)
        rc = main([
            "--bucket-root", root, "--database", "db", "--schema", "public",
            "--catalog-json", cat, "--start-date", "2024-01-01",
            "--stop-date", "2999-01-01", "--included-tables", "customers",
            "--advance-state", v1, v2,
        ])
        assert rc == 0
        assert sorted(map(tuple, spark.table(v2).collect())) == got
        for point in ("manifest.discover_files", "replay.with_sequence",
                      "state.merge_into_state_touched"):
            assert calls[point] > 0, point

        with pytest.raises(SystemExit):
            main([
                "--bucket-root", root, "--database", "db", "--schema", "public",
                "--catalog-json", cat, "--start-date", "2099-01-01",
                "--advance-state", v0, v1,  # no --included-tables
            ])
    finally:
        for t in (v0, v1, v2):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# --corpus-prep leg
# ---------------------------------------------------------------------------


def _corpus_parquet(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog near the river " * 3
    rows = [
        (1, base.strip(), "srcA"),
        (2, base.strip().upper() + "...", "srcA"),  # exact dup after norm
        (3, "short", "srcB"),                        # gated out
        (4, "a completely different document with the quick brown fox and "
            "plenty of additional words to pass the length gate easily "
            "plus more the and of filler", "srcB"),
    ]
    p = str(tmp_path / "docs_in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(p)
    return p


def test_cli_corpus_prep_parquet(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-shuffle-seed", "3"])
    assert rc == 0
    out = spark.read.parquet(outp)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 4}  # 2 deduped into 1, 3 gated
    cols = set(out.columns)
    assert {"doc_id", "text", "source", "shard", "shard_pos"} <= cols
    from rust_cdc_validator_spark.sources.corpus_io import read_manifest

    man = read_manifest(spark, outp)
    assert man["row_count"] == 2 and man["num_shards"] >= 1


def test_cli_corpus_prep_jsonl_with_quarantine(spark, tmp_path):
    lines = [
        '{"doc_id": 1, "text": "' + ("the quick brown fox and the lazy dog "
                                     * 4).strip() + '"}',
        "THIS IS NOT JSON",
        '{"doc_id": 2, "text": "short"}',
    ]
    inp = tmp_path / "in.jsonl"
    inp.write_text("\n".join(lines) + "\n")
    outp = str(tmp_path / "shards_j")
    quar = str(tmp_path / "quarantine")
    rc = main([
        "--corpus-prep", str(inp), outp,
        "--corpus-format", "jsonl",
        "--corpus-jsonl-schema", "doc_id long, text string",
        "--corpus-quarantine", quar,
        "--corpus-min-chars", "50",
    ])
    assert rc == 0
    out = spark.read.parquet(outp)
    assert {r["doc_id"] for r in out.collect()} == {1}
    bad = [r["value"] for r in spark.read.text(quar).collect()]
    assert bad == ["THIS IS NOT JSON"]


def test_cli_corpus_prep_jsonl_requires_schema(tmp_path):
    rc = main([
        "--corpus-prep", str(tmp_path / "x.jsonl"), str(tmp_path / "o"),
        "--corpus-format", "jsonl",
    ])
    assert rc == 2


def test_cli_corpus_prep_sort_by_recorded_in_manifest(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards_sorted")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-sort-by", "doc_id"])
    assert rc == 0
    from rust_cdc_validator_spark.sources.corpus_io import read_manifest

    assert read_manifest(spark, outp)["sort_by"] == ["doc_id"]


def test_cli_drift_states_exit_codes(spark, tmp_path):
    import uuid

    from rust_cdc_validator_spark.operators.state import save_state_bucketed

    a = f"cli_drift_{uuid.uuid4().hex[:8]}_a"
    b = f"cli_drift_{uuid.uuid4().hex[:8]}_b"
    try:
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id long, v double"
        )
        save_state_bucketed(df, a, ["id"], n_buckets=2)
        save_state_bucketed(
            df.selectExpr("id", "v * 5 as v"), b, ["id"], n_buckets=2
        )
        assert main(["--drift-states", a, a]) == 0   # identical: clean exit
        assert main(["--drift-states", a, b]) == 1   # moved column: flagged
    finally:
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_corpus_prep_splits_column(spark, tmp_path):
    inp = _corpus_parquet(spark, tmp_path)
    outp = str(tmp_path / "shards_split")
    rc = main(["--corpus-prep", inp, outp, "--corpus-min-chars", "50",
               "--corpus-splits", "train=0.9,val=0.1"])
    assert rc == 0
    rows = spark.read.parquet(outp).collect()
    assert all(r["split"] in ("train", "val") for r in rows)

    rc2 = main(["--corpus-prep", inp, str(tmp_path / "x"),
                "--corpus-splits", "garbage"])
    assert rc2 == 2


def test_cli_quality_audit(spark, tmp_path):
    import json

    tbl = str(tmp_path / "qa_table.parquet")
    spark.createDataFrame(
        [(1, 10), (2, 10), (None, 99)], "k long, fk long"
    ).write.parquet(tbl)
    refroot = tmp_path / "refs"
    refroot.mkdir()
    spark.createDataFrame([(10,), (20,)], "rk long").write.parquet(
        str(refroot / "dim.parquet")
    )
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps([
        {"name": "k_nn", "kind": "not_null", "column": "k"},
        {"name": "fk_ok", "kind": "referential", "column": "fk",
         "ref_table": "dim", "ref_col": "rk"},
    ]))
    rc = main(["--quality-audit", tbl, str(spec),
               "--quality-ref-root", str(refroot)])
    assert rc == 0  # report mode never gates
    rc = main(["--quality-audit", tbl, str(spec),
               "--quality-ref-root", str(refroot),
               "--quality-fail-on-violation"])
    assert rc == 2  # null k + unmatched fk 99 violate
    # a clean table passes the gate
    clean = str(tmp_path / "qa_clean.parquet")
    spark.createDataFrame([(1, 10), (2, 20)], "k long, fk long").write.parquet(
        clean
    )
    rc = main(["--quality-audit", clean, str(spec),
               "--quality-ref-root", str(refroot),
               "--quality-fail-on-violation"])
    assert rc == 0
    # referential without a ref root is a usage error
    rc = main(["--quality-audit", tbl, str(spec)])
    assert rc == 1


def test_cli_single_call_snapshot_and_validate_two_tables(spark, tmp_path, capsys):
    """Snapshot + validate in ONE call on a two-table catalog: tables write
    concurrently, yet the snapshot and validate lines print in catalog
    order (not alphabetical); validate reads the written snapshot, so a
    source that disagrees with it exits 1 and names the bad chunk."""
    from tests.cdc_fixtures import write_cdc_file

    root = str(tmp_path / "bucket")
    cols_o = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    write_cdc_file(f"{root}/db/public/orders/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": i, "v": i}
                    for i in range(5)], cols_o)
    write_cdc_file(f"{root}/db/public/orders/2024/01/02/a.parquet",
                   [{"Op": "D", "_dms_ingestion_timestamp": "t", "id": 0, "v": 0}],
                   cols_o)
    write_cdc_file(f"{root}/db/public/users/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "k": 10, "name": "x"},
                    {"Op": "I", "_dms_ingestion_timestamp": "t", "k": 11, "name": "y"}],
                   ["Op", "_dms_ingestion_timestamp", "k", "name"])
    cat = tmp_path / "catalog.json"
    cat.write_text(json.dumps({"public": {
        "users": {"columns": {"k": "bigint", "name": "text"}, "primary_key": ["k"]},
        "orders": {"columns": {"id": "bigint", "v": "bigint"}, "primary_key": ["id"]},
    }}))
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    for src_root, orders in ((good, [(i, i) for i in range(1, 5)]),
                             (bad, [(i, i) for i in range(1, 4)])):
        spark.createDataFrame([(10, "x"), (11, "y")], "k long, name string") \
            .write.parquet(f"{src_root}/users")
        spark.createDataFrame(orders, "id long, v long") \
            .write.parquet(f"{src_root}/orders")
    argv = ["--bucket-root", root, "--database", "db", "--schema", "public",
            "--catalog-json", str(cat), "--start-date", "2020-01-01",
            "--output", str(tmp_path / "out")]

    capsys.readouterr()
    assert main([*argv, "--source-root", good]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split(":")[0] for ln in lines] == [
        "snapshot users", "snapshot orders", "validate users", "validate orders"]
    assert lines[1].startswith("snapshot orders: 4 rows")
    assert lines[3].startswith("validate orders: MATCH counts=4/4")

    assert main([*argv, "--source-root", bad]) == 1
    out = capsys.readouterr().out
    assert "validate users: MATCH" in out
    assert "validate orders: MISMATCH counts=3/4 bad_chunks=[0]" in out
