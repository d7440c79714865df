from __future__ import annotations

from datetime import datetime, timezone

from rust_cdc_validator_spark.api import CdcPayload, CdcValidator
from rust_cdc_validator_spark.sources.catalog import StaticCatalog
from tests.cdc_fixtures import write_cdc_file


def _bucket(tmp_path):
    root = str(tmp_path / "bucket")
    cols_a = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    write_cdc_file(f"{root}/db/public/alpha/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": i, "v": i}
                    for i in range(5)], cols_a)
    write_cdc_file(f"{root}/db/public/alpha/2024/01/02/a.parquet",
                   [{"Op": "D", "_dms_ingestion_timestamp": "t", "id": 0, "v": 0}], cols_a)
    cols_b = ["Op", "_dms_ingestion_timestamp", "k", "name"]
    write_cdc_file(f"{root}/db/public/beta/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "k": 10, "name": "x"},
                    {"Op": "I", "_dms_ingestion_timestamp": "t", "k": 11, "name": "y"}],
                   cols_b)
    catalog = StaticCatalog({"public": {
        "alpha": ({"id": "bigint", "v": "bigint"}, ["id"]),
        "beta": ({"k": "bigint", "name": "text"}, ["k"]),
    }})
    return root, catalog


def _payload(root, **kw):
    return CdcPayload(bucket_root=root, database="db", schema="public",
                      start_date=datetime(2020, 1, 1, tzinfo=timezone.utc), **kw)


def test_run_snapshots_all_tables_and_validates(spark, tmp_path):
    root, catalog = _bucket(tmp_path)
    v = CdcValidator(spark, catalog)
    snaps, reports = v.run(_payload(root), source_frames=None)
    assert set(snaps) == {"alpha", "beta"}
    assert snaps["alpha"].count() == 4  # id 0 deleted
    assert snaps["beta"].count() == 2
    assert reports == {}  # no source frames supplied → nothing to diff

    # validate snapshots against themselves → all match
    _, reports2 = v.run(_payload(root), source_frames=snaps)
    assert all(r.is_match for r in reports2.values())
    assert set(reports2) == {"alpha", "beta"}


def test_run_respects_include_exclude(spark, tmp_path):
    root, catalog = _bucket(tmp_path)
    v = CdcValidator(spark, catalog)
    snaps, _ = v.run(_payload(root, included_tables=["beta"], only_snapshot=True))
    assert set(snaps) == {"beta"}
    snaps2, _ = v.run(_payload(root, excluded_tables=["beta"], only_snapshot=True))
    assert set(snaps2) == {"alpha"}


def test_run_only_datadiff_requires_targets_and_diffs(spark, tmp_path):
    """only_datadiff skips the snapshot but must STILL diff (reference
    semantics). With no target_frames there is nothing to validate — that
    used to return an empty report dict that read as success; now it
    raises. With persisted snapshots supplied, the diff actually runs."""
    import pytest

    root, catalog = _bucket(tmp_path)
    v = CdcValidator(spark, catalog)
    snaps, _ = v.run(_payload(root, only_snapshot=True))

    with pytest.raises(ValueError, match="target_frames"):
        v.run(_payload(root, only_datadiff=True), source_frames=snaps)

    snapshots, reports = v.run(
        _payload(root, only_datadiff=True),
        source_frames=snaps,
        target_frames=snaps,
    )
    assert snapshots == {}  # snapshot stage skipped
    assert set(reports) == {"alpha", "beta"}
    assert all(r.is_match for r in reports.values())

    with pytest.raises(ValueError, match="zero tables"):
        v.run(
            _payload(root, only_datadiff=True),
            source_frames=snaps,
            target_frames={"nonexistent": snaps["alpha"]},
        )


def test_validate_reuses_chunk_specs(spark):
    """Specs from run N's reports feed run N+1 and reproduce identical
    verdicts (the standing-pipeline path)."""
    from rust_cdc_validator_spark.api import CdcPayload, CdcValidator
    from rust_cdc_validator_spark.sources.catalog import StaticCatalog
    from datetime import datetime

    catalog = StaticCatalog(
        {"public": {"t1": ({"id": "integer", "v": "integer"}, ["id"])}}
    )
    v = CdcValidator(spark, catalog)
    p = CdcPayload(bucket_root="/nonexistent", database="db", schema="public",
                   included_tables=["t1"], start_date=datetime(2024, 1, 1))
    a = spark.range(2500).selectExpr("id", "id % 7 as v")
    b = a.selectExpr("id", "case when id = 1500 then -1 else v end as v")
    first = v.validate(p, {"t1": a}, {"t1": b})
    specs = {t: r.details["chunk_spec"] for t, r in first.items()}
    second = v.validate(p, {"t1": a}, {"t1": b}, chunk_specs=specs)
    assert second["t1"].mismatched_chunks == first["t1"].mismatched_chunks == [1]
    assert second["t1"].details["chunk_spec"] == specs["t1"]


def test_validate_diffs_tables_concurrently(spark, tmp_path, monkeypatch):
    """Both tables' diffs must be in flight at once (reference: 80-wide
    table pipeline, cdc_operator.rs:237-248): each patched diff blocks on a
    2-party barrier — sequential submission would deadlock the first call
    and trip the barrier timeout."""
    import threading

    import rust_cdc_validator_spark.api as api_mod

    root, catalog = _bucket(tmp_path)
    v = CdcValidator(spark, catalog)
    snaps = v.snapshot(_payload(root))

    barrier = threading.Barrier(2, timeout=30)
    real_diff = api_mod.diff_tables

    def synced_diff(*args, **kwargs):
        barrier.wait()  # raises BrokenBarrierError if calls are sequential
        return real_diff(*args, **kwargs)

    monkeypatch.setattr(api_mod, "diff_tables", synced_diff)
    reports = v.validate(_payload(root), snaps, snaps)
    assert set(reports) == {"alpha", "beta"}
    assert all(r.is_match for r in reports.values())


def test_payload_reads_num_of_buffers_when_built(monkeypatch):
    """The table pool width follows NUM_OF_BUFFERS as set when each payload
    is built, not as it was when the module was imported."""
    monkeypatch.setenv("NUM_OF_BUFFERS", "3")
    assert _payload("/nonexistent").max_parallel_tables == 3
    monkeypatch.setenv("NUM_OF_BUFFERS", "5")
    assert _payload("/nonexistent").max_parallel_tables == 5
