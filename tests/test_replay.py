from __future__ import annotations

from datetime import datetime, timezone

import pytest

from rust_cdc_validator_spark.operators.replay import net_effect, replay_snapshot
from rust_cdc_validator_spark.sources.manifest import FileMode, discover_files
from tests.cdc_fixtures import customers_scenario, sequential_apply, write_cdc_file


def test_replay_matches_sequential_apply(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cdc"))
    root, expected = customers_scenario(base)
    entries = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=datetime(2024, 1, 1, tzinfo=timezone.utc),
    )
    assert entries[0].is_load and entries[0].path.endswith("LOAD00000001.parquet")
    result = replay_snapshot(spark, entries, ["id"],
                             expected_columns=["id", "name", "score", "active"])
    got = sorted(
        (r["id"], r["name"], r["score"], r["active"])
        for r in result.collect()
    )
    want = sorted((e["id"], e["name"], e["score"], e["active"]) for e in expected)
    assert got == want
    # envelope columns dropped
    assert set(result.columns) == {"id", "name", "score", "active"}


def test_replay_composite_pk(spark, tmp_path):
    cols = ["Op", "_dms_ingestion_timestamp", "order_id", "line_no", "qty"]
    root = str(tmp_path / "db/public/order_items")
    load = [{"Op": "I", "_dms_ingestion_timestamp": "t", "order_id": o, "line_no": l, "qty": 1}
            for o in (1, 2) for l in (1, 2)]
    cdc = [
        {"Op": "U", "_dms_ingestion_timestamp": "t", "order_id": 1, "line_no": 2, "qty": 9},
        {"Op": "D", "_dms_ingestion_timestamp": "t", "order_id": 2, "line_no": 1, "qty": 0},
    ]
    write_cdc_file(f"{root}/LOAD00000001.parquet", load, cols)
    write_cdc_file(f"{root}/2024/01/02/a.parquet", cdc, cols)
    entries = discover_files(spark, root, FileMode.DATE_AWARE,
                             start_date=datetime(2020, 1, 1, tzinfo=timezone.utc))
    got = sorted((r["order_id"], r["line_no"], r["qty"])
                 for r in replay_snapshot(spark, entries, ["order_id", "line_no"]).collect())
    want = sorted((e["order_id"], e["line_no"], e["qty"])
                  for e in sequential_apply([load, cdc], ["order_id", "line_no"]))
    assert got == want


def test_replay_no_pk_append_only(spark, tmp_path):
    cols = ["Op", "_dms_ingestion_timestamp", "event_id", "payload"]
    root = str(tmp_path / "db/public/events_log")
    load = [{"Op": "I", "_dms_ingestion_timestamp": "t", "event_id": "a", "payload": "x"}]
    cdc = [{"Op": "I", "_dms_ingestion_timestamp": "t", "event_id": "a", "payload": "x"},
           {"Op": "D", "_dms_ingestion_timestamp": "t", "event_id": "a", "payload": "x"}]
    write_cdc_file(f"{root}/LOAD00000001.parquet", load, cols)
    write_cdc_file(f"{root}/2024/01/02/a.parquet", cdc, cols)
    entries = discover_files(spark, root, FileMode.DATE_AWARE,
                             start_date=datetime(2020, 1, 1, tzinfo=timezone.utc))
    # append-only: duplicates kept, deletes ignored → 2 rows
    assert replay_snapshot(spark, entries, []).count() == 2


def test_schema_drift_raises(spark, tmp_path):
    cols = ["Op", "_dms_ingestion_timestamp", "id", "legacy_col"]
    root = str(tmp_path / "db/public/customers")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "legacy_col": "x"}],
                   cols)
    entries = discover_files(spark, root, FileMode.FULL_LOAD_ONLY)
    with pytest.raises(ValueError, match="schema drift"):
        replay_snapshot(spark, entries, ["id"], expected_columns=["id"])


def test_date_pruning_excludes_out_of_window_cdc(spark, tmp_path):
    import os, time
    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    old = f"{root}/2020/01/01/old.parquet"
    write_cdc_file(old, [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 99}], cols)
    past = time.mktime((2020, 1, 1, 0, 0, 0, 0, 0, 0))
    os.utime(old, (past, past))
    entries = discover_files(spark, root, FileMode.DATE_AWARE,
                             start_date=datetime(2024, 1, 1, tzinfo=timezone.utc))
    # LOAD always kept; stale CDC file pruned by mtime window
    assert [e.is_load for e in entries] == [True]
    rows = replay_snapshot(spark, entries, ["id"]).collect()
    assert rows[0]["v"] == 1


def test_date_narrowed_listing_never_lists_out_of_range_folders(spark, tmp_path):
    """The DATE_AWARE listing itself is range-scanned by date folder
    (reference: start_after, s3_operator.rs:220-226) — a file in a folder
    before start_date is never LISTED, even when its filesystem mtime is
    inside the window (fresh mtime, as a backfill copy would have). The old
    recursive-list-then-filter approach would have kept this file; the
    reference's range scan never sees its key."""
    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    # folder date 2020 (before start) but mtime = now (inside the window)
    write_cdc_file(f"{root}/2020/01/01/stale.parquet",
                   [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 99}], cols)
    in_range = f"{root}/2024/06/01/ok.parquet"
    write_cdc_file(in_range,
                   [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 2}], cols)
    entries = discover_files(spark, root, FileMode.DATE_AWARE,
                             start_date=datetime(2024, 1, 1, tzinfo=timezone.utc))
    paths = [e.path for e in entries]
    assert not any("stale" in p for p in paths)
    assert any(p.endswith("ok.parquet") for p in paths)
    assert entries[0].is_load


def test_date_narrowed_listing_stop_side_and_boundaries(spark, tmp_path):
    """Start/stop day folders are inclusive at the listing level (the mtime
    filter still applies afterwards); folders strictly outside are pruned."""
    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    for frag, name in [("2024/03/15", "start_day"), ("2024/04/10", "mid"),
                       ("2024/05/20", "stop_day"), ("2024/05/21", "after"),
                       ("2025/01/01", "next_year")]:
        write_cdc_file(f"{root}/{frag}/{name}.parquet",
                       [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 2}], cols)
    entries = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=datetime(2024, 3, 15, tzinfo=timezone.utc),
        stop_date=datetime(2999, 1, 1, tzinfo=timezone.utc),
    )
    names = {e.path.rsplit("/", 1)[-1] for e in entries}
    # mtimes are "now" (< far-future stop), so survivors = listing decision alone
    assert names == {"LOAD00000001.parquet", "start_day.parquet", "mid.parquet",
                     "stop_day.parquet", "after.parquet", "next_year.parquet"}
    entries = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=datetime(2024, 3, 15, tzinfo=timezone.utc),
        stop_date=datetime(2024, 5, 20, tzinfo=timezone.utc),
    )
    names = {e.path.rsplit("/", 1)[-1] for e in entries}
    # stop-day folder is listed (inclusive) but its file is dropped by the
    # mtime filter (mtime=now >= stop); after/next_year pruned at listing
    assert names == {"LOAD00000001.parquet"}


def test_date_narrowed_listing_uses_utc_folder_dates_for_offset_bounds(
    spark, tmp_path
):
    """DMS date folders are UTC dates, so a bound with a UTC offset selects
    the same files as the same instant written in UTC, on both sides: the
    start 2024-01-02T03:00+05:00 is 2024-01-01T22:00Z (day folder 01/01)
    and the stop 2024-01-01T20:00-05:00 is 2024-01-02T01:00Z (day folder
    01/02)."""
    import os
    from datetime import timedelta

    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    for rel, mtime in [
        ("2024/01/01/a.parquet", datetime(2024, 1, 1, 23, 0, tzinfo=timezone.utc)),
        ("2024/01/02/b.parquet", datetime(2024, 1, 2, 0, 30, tzinfo=timezone.utc)),
    ]:
        write_cdc_file(f"{root}/{rel}",
                       [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 2}], cols)
        os.utime(f"{root}/{rel}", (mtime.timestamp(), mtime.timestamp()))

    def names(start, stop=None):
        entries = discover_files(spark, root, FileMode.DATE_AWARE,
                                 start_date=start, stop_date=stop)
        return [e.path.rsplit("/", 1)[-1] for e in entries]

    want = ["LOAD00000001.parquet", "a.parquet", "b.parquet"]
    east = timezone(timedelta(hours=5))
    west = timezone(timedelta(hours=-5))
    start = datetime(2024, 1, 2, 3, 0, tzinfo=east)
    stop = datetime(2024, 1, 1, 20, 0, tzinfo=west)
    assert names(start.astimezone(timezone.utc)) == want
    assert names(start) == want
    assert names(start.astimezone(timezone.utc), stop.astimezone(timezone.utc)) == want
    assert names(start, stop) == want


def test_date_narrowed_listing_non_date_dirs_fall_back(spark, tmp_path):
    """Layouts without date folders keep full-recursive semantics."""
    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    write_cdc_file(f"{root}/batch-7/part-0.parquet",
                   [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 3}], cols)
    entries = discover_files(spark, root, FileMode.DATE_AWARE,
                             start_date=datetime(2024, 1, 1, tzinfo=timezone.utc))
    assert any(e.path.endswith("part-0.parquet") for e in entries)


def test_date_narrowed_listing_year_and_month_levels(spark, tmp_path):
    """Year and month levels of the date walk: data files directly in a
    year or month dir are kept, non-date dirs inside them are listed
    recursively, and months of the same year outside [start, stop] are
    pruned. Every mtime is inside the window, so survivors are the
    listing decision alone."""
    import os
    import time

    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    kept = ["LOAD00000001.parquet", "2024/in_year.parquet",
            "2024/03/in_month.parquet", "2024/extra/in_year_dir.parquet",
            "2024/03/extra/in_month_dir.parquet", "2024/04/15/mid.parquet"]
    pruned = ["2024/01/05/month_before.parquet", "2024/07/01/month_after.parquet"]
    inside = time.mktime((2024, 4, 1, 0, 0, 0, 0, 0, 0))
    for rel in kept + pruned:
        write_cdc_file(f"{root}/{rel}",
                       [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 2}], cols)
        os.utime(f"{root}/{rel}", (inside, inside))
    entries = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=datetime(2024, 3, 10, tzinfo=timezone.utc),
        stop_date=datetime(2024, 5, 20, tzinfo=timezone.utc),
    )
    assert {e.path.split("/db/public/t/", 1)[1] for e in entries} == set(kept)


def test_absolute_path_mode(spark, tmp_path):
    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    path = f"{root}/LOAD00000001.parquet"
    write_cdc_file(path, [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 7}], cols)
    entries = discover_files(spark, root, FileMode.ABSOLUTE_PATH, absolute_path=path)
    assert [e.path for e in entries] == [path]
    rows = replay_snapshot(spark, entries, ["id"]).collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, 7)]
    with pytest.raises(ValueError, match="absolute_path"):
        discover_files(spark, root, FileMode.ABSOLUTE_PATH)


def test_net_effect_shuffled_input_order_independent(spark):
    # property-style: net_effect depends only on _seq, not on input row order
    rows = [(i % 7, "U" if i % 3 else "I", i, f"v{i}") for i in range(200)]
    rows += [(k, "D", 200 + k, None) for k in (1, 3)]
    df = spark.createDataFrame(rows, "id int, Op string, _seq long, val string")
    a = net_effect(df, ["id"], drop_envelope=False)
    b = net_effect(df.orderBy("val"), ["id"], drop_envelope=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.filter("id in (1,3)").count() == 0


def test_window_boundary_mtime_belongs_to_exactly_one_window(spark, tmp_path):
    """Half-open [start, stop): a CDC file whose mtime lands EXACTLY on the
    shared boundary of two chained windows (stop of run N == start of run
    N+1, the advance_state contract) is picked up by run N+1 and ONLY run
    N+1. Under the old open-open filter (drop ts <= start AND ts >= stop)
    it fell into neither window — silent loss in an incremental chain.
    Deliberate divergence from the reference's strict
    ``last_modified > start_date`` (s3_operator.rs:247-260)."""
    import os

    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    p = f"{root}/2024/03/02/boundary.parquet"
    write_cdc_file(p, [{"Op": "U", "_dms_ingestion_timestamp": "t", "id": 1, "v": 2}], cols)
    boundary = datetime(2024, 3, 2, 12, 0, 0, tzinfo=timezone.utc)
    os.utime(p, (boundary.timestamp(), boundary.timestamp()))

    run_n = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=datetime(2024, 3, 1, tzinfo=timezone.utc),
        stop_date=boundary,
    )
    run_n1 = discover_files(
        spark, root, FileMode.DATE_AWARE,
        start_date=boundary,
        stop_date=datetime(2024, 3, 4, tzinfo=timezone.utc),
    )
    cdc_n = [e.path for e in run_n if not e.is_load]
    cdc_n1 = [e.path for e in run_n1 if not e.is_load]
    assert cdc_n == []
    assert [p.rsplit("/", 1)[-1] for p in cdc_n1] == ["boundary.parquet"]


# --------------------------------------------------------- scd2_history


def test_scd2_intervals_currency_and_delete_chains(spark):
    from rust_cdc_validator_spark.operators.replay import scd2_history

    log = [
        # key A: insert, update, delete -> two CLOSED versions, none current
        ("A", 10.0, "I", 1), ("A", 11.0, "U", 5), ("A", 11.0, "D", 9),
        # key B: insert only -> one OPEN current version
        ("B", 20.0, "I", 2),
        # key C: insert, delete, re-insert -> disjoint chains, last current
        ("C", 30.0, "I", 3), ("C", 30.0, "D", 4), ("C", 31.0, "I", 6),
    ]
    df = spark.createDataFrame(log, "pk string, price double, Op string, _seq long")
    rows = {
        (r["pk"], r["valid_from"]): (r["valid_to"], r["is_current"], r["price"])
        for r in scd2_history(df, ["pk"]).collect()
    }
    assert rows[("A", 1)] == (5, False, 10.0)
    assert rows[("A", 5)] == (9, False, 11.0)   # closed by the delete
    assert ("A", 9) not in rows                  # deletes open no version
    assert rows[("B", 2)] == (None, True, 20.0)
    assert rows[("C", 3)] == (4, False, 30.0)
    assert rows[("C", 6)] == (None, True, 31.0)
    assert len(rows) == 5


def test_scd2_net_effect_consistency(spark):
    """The open current versions ARE net_effect's live rows."""
    import random

    from rust_cdc_validator_spark.operators.replay import (
        net_effect,
        scd2_history,
    )

    random.seed(5)
    log, seq = [], 0
    for _ in range(300):
        k = f"k{random.randrange(20)}"
        op = random.choice(["I", "U", "U", "D"])
        log.append((k, float(random.randrange(100)), op, seq))
        seq += 1
    df = spark.createDataFrame(log, "pk string, v double, Op string, _seq long")
    current = {
        (r["pk"], r["v"])
        for r in scd2_history(df, ["pk"]).filter("is_current").collect()
    }
    live = {(r["pk"], r["v"]) for r in net_effect(df, ["pk"]).collect()}
    assert current == live


def test_scd2_requires_pk(spark):
    from rust_cdc_validator_spark.operators.replay import scd2_history

    df = spark.createDataFrame([("A", "I", 1)], "pk string, Op string, _seq long")
    with pytest.raises(ValueError, match="primary key"):
        scd2_history(df, [])


# ------------------------------------------------- scd2_asof / asof_diff


def _scd2_fixture(spark):
    from rust_cdc_validator_spark.operators.replay import scd2_history

    log = [
        ("A", 10.0, "I", 1), ("A", 11.0, "U", 5), ("A", 11.0, "D", 9),
        ("B", 20.0, "I", 2),
        ("C", 30.0, "I", 3), ("C", 30.0, "D", 4), ("C", 31.0, "I", 6),
        ("E", None, "I", 7),          # visible version with NULL value
    ]
    df = spark.createDataFrame(log, "pk string, price double, Op string, _seq long")
    return scd2_history(df, ["pk"])


def test_scd2_asof_replays_each_instant(spark):
    from rust_cdc_validator_spark.operators.replay import scd2_asof

    hist = scd2_asof(_scd2_fixture(spark), 4)
    state = {r["pk"]: r["price"] for r in hist.collect()}
    # at t=4: A on version 1, B live, C just deleted, E not yet born
    assert state == {"A": 10.0, "B": 20.0}

    late = {r["pk"]: r["price"] for r in scd2_asof(_scd2_fixture(spark), 100).collect()}
    # final state: A deleted, C re-inserted, E live with NULL
    assert late == {"B": 20.0, "C": 31.0, "E": None}


def test_scd2_asof_diff_classifies_all_transitions(spark):
    from rust_cdc_validator_spark.operators.replay import scd2_asof_diff

    out = {
        r["pk"]: (r["change_type"], r["price_t1"], r["price_t2"])
        for r in scd2_asof_diff(
            _scd2_fixture(spark), ["pk"], 4, 100, ["price"]
        ).collect()
    }
    assert out["A"] == ("removed", 10.0, None)     # deleted by t2
    assert out["B"] == ("unchanged", 20.0, 20.0)
    assert out["C"] == ("changed", None, 31.0) or out["C"][0] == "added"
    # C was deleted AT t1 (valid_to=4 half-open) then re-inserted: added
    assert out["C"] == ("added", None, 31.0)
    assert out["E"] == ("added", None, None)       # NULL value, still added
    assert len(out) == 4


def test_scd2_asof_diff_changed_and_validation(spark):
    import pytest

    from rust_cdc_validator_spark.operators.replay import (
        scd2_asof_diff,
        scd2_history,
    )

    log = [("K", 1.0, "I", 1), ("K", 2.0, "U", 10)]
    df = spark.createDataFrame(log, "pk string, price double, Op string, _seq long")
    hist = scd2_history(df, ["pk"])
    row = scd2_asof_diff(hist, ["pk"], 5, 15, ["price"]).collect()[0]
    assert (row["change_type"], row["price_t1"], row["price_t2"]) == (
        "changed", 1.0, 2.0,
    )
    with pytest.raises(ValueError):
        scd2_asof_diff(hist, [], 1, 2, ["price"])
    with pytest.raises(ValueError):
        scd2_asof_diff(hist, ["pk"], 1, 2, [])


def test_net_effect_partial_column_merge_and_fence(spark):
    """Partial-image semantics: per column last non-null wins; a delete
    fences earlier writes; a revival must not resurrect fenced values."""
    from rust_cdc_validator_spark.operators.replay import net_effect_partial

    log = [
        # key 1: insert full, then price-only update → cust from insert
        (1, 100, 1.0, "I", 1),
        (1, None, 2.0, "U", 2),
        # key 2: insert, delete → gone
        (2, 200, 9.0, "I", 1),
        (2, None, None, "D", 2),
        # key 3: insert, update, delete, revive with cust-only image
        #        → price must be NULL (the 8.0 write is fenced)
        (3, 300, 7.0, "I", 1),
        (3, None, 8.0, "U", 2),
        (3, None, None, "D", 3),
        (3, 333, None, "I", 4),
        # key 4: update on absent key (upsert), partial image
        (4, None, 4.5, "U", 1),
    ]
    df = spark.createDataFrame(
        log, "id int, cust int, price double, Op string, _seq long"
    )
    out = {
        r["id"]: (r["cust"], r["price"])
        for r in net_effect_partial(df, ["id"]).collect()
    }
    assert out == {
        1: (100, 2.0),
        3: (333, None),
        4: (None, 4.5),
    }


def test_net_effect_partial_requires_pk(spark):
    import pytest as _pytest

    from rust_cdc_validator_spark.operators.replay import net_effect_partial

    df = spark.createDataFrame([(1, "I", 1)], "v int, Op string, _seq long")
    with _pytest.raises(ValueError):
        net_effect_partial(df, [])


def test_union_evolving_widens_schema(spark):
    """ALTER TABLE ADD COLUMN mid-stream: epochs align by NAME, the added
    column is NULL for pre-ALTER rows, and one net_effect spans both."""
    from rust_cdc_validator_spark.operators.replay import (
        net_effect,
        union_evolving,
    )

    e1 = spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 2)], "id int, name string, Op string, _seq long"
    )
    e2 = spark.createDataFrame(
        [(2, "b2", 99.0, "U", 10)],
        "id int, name string, score double, Op string, _seq long",
    )
    out = {
        r["id"]: (r["name"], r["score"])
        for r in net_effect(union_evolving([e1, e2]), ["id"]).collect()
    }
    assert out == {1: ("a", None), 2: ("b2", 99.0)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        union_evolving([])
