"""Bucketed snapshot state + co-located incremental merge (SCALE.md
deferred item, landed r5). Two contracts:

* CORRECTNESS: merging CDC batches one at a time into bucketed state gives
  bit-identical final state to replaying the whole LOAD+CDC log at once.
* SCALE SHAPE: the merge plan has NO Exchange above the bucketed state
  scan — only the delta shuffles. With the state being the 100 TB side,
  that asymmetry is the entire point.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.replay import net_effect
from rust_cdc_validator_spark.operators.state import (
    last_change_per_key,
    merge_into_state,
    save_state_bucketed,
)


@pytest.fixture()
def state_table(spark):
    name = f"state_{uuid.uuid4().hex[:10]}"
    yield name
    for t in (name, f"{name}_v2", f"{name}_v3"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _log(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val string, Op string, _seq long"
    )


def test_incremental_merge_equals_full_replay(spark, state_table):
    load = [(i, f"v{i}", None, i) for i in range(50)]
    batch1 = [
        (1, "updated-1", "U", 100),
        (2, None, "D", 101),
        (60, "new-60", "I", 102),
        (3, "mid-3", "U", 103),
        (3, "final-3", "U", 104),  # two changes to one key in one batch
    ]
    batch2 = [
        (60, None, "D", 200),      # delete a key inserted by batch1
        (2, "back-2", "I", 201),   # re-insert a deleted key
        (4, "updated-4", "U", 202),
    ]

    # incremental: LOAD → state, then merge each batch
    state0 = net_effect(_log(spark, load), ["id"])
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    s1 = merge_into_state(spark, state_table, _log(spark, batch1), ["id"])
    save_state_bucketed(s1, f"{state_table}_v2", ["id"], n_buckets=4)
    s2 = merge_into_state(spark, f"{state_table}_v2", _log(spark, batch2), ["id"])

    # reference: replay the whole log in one shot
    full = net_effect(_log(spark, load + batch1 + batch2), ["id"])

    got = sorted(map(tuple, s2.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want
    assert s2.columns == full.columns


def test_merge_plan_never_shuffles_the_state_side(spark, state_table):
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(100)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    delta = _log(spark, [(1, "x", "U", 10), (200, "y", "I", 11)])

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the SMJ path (a broadcast of the delta would ALSO leave the
        # state unshuffled, but gives a plan this assertion can't read)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = merge_into_state(spark, state_table, delta, ["id"])
        plan = merged._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "SortMergeJoin" in plan
    # exactly ONE hash exchange — the delta's (repartitioned to the bucket
    # count). The bucketed scan satisfies the join's distribution
    # requirement straight from the file layout.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 4 out of 4" in plan


def test_incremental_merge_property_random_logs(spark):
    """Property: for ANY change log split at ANY point into (history →
    bucketed state) + (tail batch), merge(state, tail) == replay(whole log).
    Hypothesis drives the log shape; the split point exercises empty-state,
    empty-batch, delete-then-reinsert and repeated-key orderings."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops = st.sampled_from(["I", "U", "D"])
    keys = st.integers(min_value=0, max_value=5)
    vals = st.integers(min_value=-99, max_value=99)
    logs = st.lists(st.tuples(keys, ops, vals), min_size=1, max_size=30)

    def to_df(log, offset=0):
        rows = [
            (k, str(v), op, offset + i) for i, (k, op, v) in enumerate(log)
        ]
        schema = "id long, val string, Op string, _seq long"
        return (
            spark.createDataFrame(rows, schema)
            if rows
            else spark.createDataFrame([], schema)
        )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(logs, st.data())
    def run(log, data):
        cut = data.draw(st.integers(min_value=0, max_value=len(log)))
        name = f"prop_state_{uuid.uuid4().hex[:10]}"
        try:
            save_state_bucketed(
                net_effect(to_df(log[:cut]), ["id"]), name, ["id"], n_buckets=4
            )
            merged = merge_into_state(spark, name, to_df(log[cut:], offset=cut), ["id"])
            got = sorted(map(tuple, merged.collect()))
            want = sorted(map(tuple, net_effect(to_df(log), ["id"]).collect()))
            assert got == want
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    run()


def test_last_change_per_key_keeps_deletes(spark):
    log = _log(spark, [(1, "a", "I", 0), (1, None, "D", 1), (2, "b", "I", 2)])
    got = {r["id"]: r["_op"] for r in last_change_per_key(log, ["id"]).collect()}
    assert got == {1: "D", 2: "I"}


# ---- touched-bucket-only writes (VERDICT r5 next-round #1) ----------------

from rust_cdc_validator_spark.operators.state import (  # noqa: E402
    _bucket_files,
    _table_location,
    bucket_id,
    merge_into_state_touched,
)


def _local(loc: str) -> str:
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _file_bytes(loc: str, name: str) -> bytes:
    import os

    with open(os.path.join(_local(loc), name), "rb") as f:
        return f.read()


def test_bucket_id_matches_file_layout(spark, state_table):
    """Empirical pin: bucket_id() == the bucket each file's rows actually
    landed in under bucketBy — the formula the touched-file reuse relies on."""
    df = spark.range(0, 500).select("id", F.col("id").cast("string").alias("val"))
    save_state_bucketed(df, state_table, ["id"], n_buckets=8)
    loc = _table_location(spark, state_table)
    files = _bucket_files(spark, loc)
    assert files and set(files) <= set(range(8))
    for b, names in files.items():
        for name in names:
            got = (
                spark.read.parquet(f"{loc}/{name}")
                .select(bucket_id(["id"], 8).alias("b"))
                .distinct()
                .collect()
            )
            assert [r["b"] for r in got] == [b]


def test_bucket_id_matches_file_layout_multicol(spark, state_table):
    df = spark.range(0, 200).select(
        "id", (F.col("id") % 7).alias("part"), F.lit("x").alias("val")
    )
    save_state_bucketed(df, state_table, ["id", "part"], n_buckets=4)
    loc = _table_location(spark, state_table)
    for b, names in _bucket_files(spark, loc).items():
        for name in names:
            got = (
                spark.read.parquet(f"{loc}/{name}")
                .select(bucket_id(["id", "part"], 4).alias("b"))
                .distinct()
                .collect()
            )
            assert [r["b"] for r in got] == [b]


def test_touched_merge_reuses_untouched_files_byte_identical(spark, state_table):
    """The batch sibling of test_streaming's untouched-bucket byte-identity:
    buckets the delta doesn't touch carry the OLD version's files verbatim;
    touched buckets are freshly written."""
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    delta_rows = [(1, "x", "U", 500), (2, None, "D", 501), (300, "n", "I", 502)]
    touched = {
        r[0]
        for r in spark.createDataFrame([(1,), (2,), (300,)], "id long")
        .select(bucket_id(["id"], 8).alias("b"))
        .distinct()
        .collect()
    }

    new = f"{state_table}_v2"
    got = merge_into_state_touched(
        spark, state_table, _log(spark, delta_rows), ["id"], new
    )
    want = merge_into_state(spark, state_table, _log(spark, delta_rows), ["id"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    old_loc = _table_location(spark, state_table)
    new_loc = _table_location(spark, new)
    old_files = _bucket_files(spark, old_loc)
    new_files = _bucket_files(spark, new_loc)
    untouched = set(old_files) - touched
    assert untouched, "fixture must exercise the carry-over path"
    import os

    for b in untouched:
        assert sorted(new_files[b]) == sorted(old_files[b])
        for name in old_files[b]:
            assert _file_bytes(new_loc, name) == _file_bytes(old_loc, name)
            # local store: carried files are hard LINKS — zero bytes
            # duplicated per version, not just byte-equal copies
            old_ino = os.stat(os.path.join(_local(old_loc), name)).st_ino
            new_ino = os.stat(os.path.join(_local(new_loc), name)).st_ino
            assert old_ino == new_ino
    for b in touched & set(new_files):
        assert not set(new_files[b]) & set(old_files.get(b, []))


def test_touched_merge_fully_deleted_bucket_writes_no_file(spark, state_table):
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(100)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=4)
    keys = [
        r["id"]
        for r in spark.table(state_table).filter(bucket_id(["id"], 4) == 0).collect()
    ]
    assert keys
    delta = _log(spark, [(k, None, "D", 1000 + i) for i, k in enumerate(keys)])
    new = f"{state_table}_v2"
    got = merge_into_state_touched(spark, state_table, delta, ["id"], new)
    assert 0 not in _bucket_files(spark, _table_location(spark, new))
    assert got.count() == 100 - len(keys)
    assert got.filter(F.col("id").isin(keys)).count() == 0


def test_touched_merge_read_strategies_equivalent(spark, state_table):
    """Both state reads of the touched merge give the state
    ``merge_into_state`` gives: pruned files (the delta touches at most ¼ of
    the buckets) and the exchange-free bucketed scan (more than ¼). The
    delta's size picks the read."""
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    by_bucket: dict[int, list[int]] = {}
    for r in spark.range(0, 400).select(
        "id", bucket_id(["id"], 8).alias("b")
    ).orderBy("id").collect():
        by_bucket.setdefault(r["b"], []).append(r["id"])
    old = [k for k in by_bucket[0] if k < 200]
    new = [k for k in by_bucket[0] if k >= 200]
    narrow = [(old[0], "x", "U", 500), (old[1], None, "D", 501),
              (new[0], "n", "I", 502)]
    wide = [(by_bucket[b][0], f"w{b}", "U", 600 + b) for b in range(8)]
    wide.append((by_bucket[3][1], None, "D", 700))

    def touched(rows):
        return _log(spark, rows).select(bucket_id(["id"], 8)).distinct().count()

    assert 4 * touched(narrow) <= 8 < 4 * touched(wide)
    for rows, new_table in ((narrow, f"{state_table}_v2"),
                            (wide, f"{state_table}_v3")):
        got = merge_into_state_touched(
            spark, state_table, _log(spark, rows), ["id"], new_table
        )
        want = merge_into_state(spark, state_table, _log(spark, rows), ["id"])
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dropping_old_version_leaves_linked_version_readable(spark, state_table):
    """Version isolation under hard-linked carry-over: dropping version N
    (managed-table drop deletes its directory) must leave version N+1 fully
    readable — links keep the shared bytes alive until the LAST version
    referencing them is dropped. This is what makes link-based versioning
    safe to GC from the tail."""
    state0 = net_effect(
        _log(spark, [(i, f"v{i}", None, i) for i in range(200)]), ["id"]
    )
    save_state_bucketed(state0, state_table, ["id"], n_buckets=8)
    new = f"{state_table}_v2"
    got = merge_into_state_touched(
        spark, state_table, _log(spark, [(1, "x", "U", 500)]), ["id"], new
    )
    want = sorted(map(tuple, got.collect()))

    spark.sql(f"DROP TABLE {state_table}")  # deletes v1's directory
    after = sorted(map(tuple, spark.table(new).collect()))
    assert after == want
    assert len(after) == 200
