"""Bucketed snapshot state: the at-scale layout for incremental CDC merge.

SCALE.md (CDC replay, deferred item): "write the final state as a bucketed
table on the PK so the next incremental merge co-locates without a
shuffle." This module is that step.

Shape of the problem at 100 TB: the replayed table STATE is huge (the full
table), each incremental CDC batch is a small DELTA. A naive merge
(``unionByName(state, delta)`` → ``net_effect``) re-shuffles the entire
state on every batch — 100 TB through the exchange to apply a few GB of
changes. The bucketed layout fixes the asymmetry:

* ``save_state_bucketed`` writes state as a Hive-bucketed parquet table,
  hash-bucketed AND sorted on the PK (``bucketBy`` + ``sortBy``).
* ``merge_into_state`` reduces the delta to its last change per key (one
  shuffle of DELTA-sized data), then full-outer-joins it against the
  bucketed state. Spark's bucketed-scan rule gives the state side its
  required hash distribution straight from the file layout — the plan has
  NO Exchange above the state scan (asserted in
  ``tests/test_state_bucketed.py``); only the delta moves.
* The merged result is written back with ``save_state_bucketed`` under the
  next snapshot version (write-ahead, never in place — Spark cannot
  overwrite a table it is reading, and versioned snapshots are what a
  production state store wants anyway).
* ``merge_into_state_touched`` closes the write side of the asymmetry:
  only the buckets the delta touches are rewritten into the new version;
  untouched buckets' files carry over byte-identical — hard-linked on
  local stores (zero bytes moved), copied elsewhere (their ``_NNNNN``
  bucket suffix keeps them scannable). Bytes written per merge ∝ delta
  buckets, not state size. The state read is fixed by the delta: the
  touched buckets' files alone when it touches at most ¼ of the buckets,
  else the exchange-free bucketed scan.

The reference has no incremental mode (it replays LOAD+CDC from scratch
each run, cdc_operator.rs:57-231); this is the Spark-first extension of
C2/C3 for standing pipelines, the batch-side sibling of
``streaming/incremental.py``'s partitioned state.
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_cdc_validator_spark.sources.manifest import hadoop_fs

from .replay import ENVELOPE_COLS, OP_COL, SEQ_COL

# Spark names bucketed files `part-<task>-<uuid>_<bucket:05d>.c000.<codec>...`
# (BucketingUtils.bucketIdToString); the suffix is how the bucketed scan
# reassembles buckets, so copied files keep their bucket identity for free.
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.")


def save_state_bucketed(
    df: DataFrame,
    table: str,
    primary_key: list[str],
    n_buckets: int = 64,
) -> None:
    """Persist table state hash-bucketed + sorted on the PK, as a managed
    table in the session warehouse (overwriting any table of that name).

    ``n_buckets`` sizes the merge parallelism: each bucket is one task in
    every downstream co-located join, so pick ≈ 2-4× cluster cores at the
    expected state size (64 is the small-fixture floor, NOT a 100 TB
    setting).
    """
    if not primary_key:
        raise ValueError("bucketed state requires a primary key")
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *primary_key)
        .sortBy(*primary_key)
        .saveAsTable(table)
    )


def _describe(spark: SparkSession, table: str, key: str, missing: str) -> str:
    """One ``DESCRIBE FORMATTED`` detail of ``table``; ValueError naming
    ``missing`` when the catalog has no such row."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if row["col_name"].strip() == key:
            return row["data_type"].strip()
    raise ValueError(f"table {table!r} {missing}")


def _bucket_count(spark: SparkSession, table: str) -> int:
    """Bucket count of a saved state table, from the catalog."""
    return int(_describe(spark, table, "Num Buckets",
                         "is not bucketed — not a state table"))


def _table_location(spark: SparkSession, table: str) -> str:
    return _describe(spark, table, "Location", "has no location")


def last_change_per_key(changes: DataFrame, primary_key: list[str]) -> DataFrame:
    """Reduce a sequenced change log to its LAST change per key, keeping the
    op code (unlike ``net_effect``, which resolves deletes away — a merge
    needs to see them to remove state rows). Output: data columns + ``_op``.
    """
    w = Window.partitionBy(*primary_key).orderBy(F.col(SEQ_COL).desc())
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn("_op", F.coalesce(F.col(OP_COL), F.lit("I")))
        .drop("_rn", SEQ_COL, *ENVELOPE_COLS)
    )
    return last


def merge_into_state(
    spark: SparkSession,
    state_table: str,
    changes: DataFrame,
    primary_key: list[str],
) -> DataFrame:
    """Apply a sequenced CDC delta to bucketed state; return the new state.

    One shuffle total, sized by the DELTA: ``last_change_per_key`` hashes
    the delta on the PK; the full-outer join then reads the bucketed state
    pre-distributed (no Exchange on the state side — the 100 TB side never
    moves). Rows whose last change is a delete drop out; updated/inserted
    keys take the delta's values; untouched keys pass through.

    The result streams straight into ``save_state_bucketed(new_version)``
    — state in, state out, so merges chain batch after batch.

    The delta is repartitioned to the state table's bucket count on the PK
    BEFORE its dedup window, so the window and the join share that single
    delta-sized exchange whatever ``spark.sql.shuffle.partitions`` is —
    this also keeps Spark's DisableUnnecessaryBucketedScan rule from
    dropping the bucketed scan (it does when the join's sides would land on
    mismatched partition counts).
    """
    state = spark.table(state_table)
    n_buckets = _bucket_count(spark, state_table)
    changes = changes.repartition(n_buckets, *primary_key)
    delta = last_change_per_key(changes, primary_key)
    return _merge_frames(state, delta, primary_key)


def _merge_frames(state: DataFrame, delta: DataFrame, primary_key: list[str]) -> DataFrame:
    """Full-outer merge of a last-change-per-key delta (data cols + ``_op``)
    into a state frame; deletes drop out, updates/inserts win, untouched
    rows pass through."""
    data_cols = [c for c in state.columns]
    changed = F.col("c._op").isNotNull()  # key present in the delta
    picked = [
        F.when(changed, F.col(f"c.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
        if c not in primary_key
        # PK columns: coalesce (full outer leaves one side null)
        else F.coalesce(F.col(f"s.{c}"), F.col(f"c.{c}")).alias(c)
        for c in data_cols
    ]
    cond = None
    for k in primary_key:  # explicit condition keeps both sides' PK columns
        eq = F.col(f"s.{k}") == F.col(f"c.{k}")
        cond = eq if cond is None else (cond & eq)
    return (
        state.alias("s")
        .join(delta.alias("c"), on=cond, how="full_outer")
        .filter(~(changed & (F.col("c._op") == F.lit("D"))))
        .select(*picked)
    )


def bucket_id(primary_key: list[str], n_buckets: int) -> Column:
    """The bucket id ``bucketBy(n_buckets, *primary_key)`` assigns a row:
    ``pmod(murmur3_hash(pk...), n)`` — Spark's HashPartitioning
    partitionIdExpression, which is what the bucketed write evaluates.
    Pinned against the physical file layout in
    ``tests/test_state_bucketed.py::test_bucket_id_matches_file_layout``.
    """
    return F.pmod(F.hash(*[F.col(k) for k in primary_key]), F.lit(n_buckets))


def _bucket_files(spark: SparkSession, location: str) -> dict[int, list[str]]:
    """Data files of a bucketed table grouped by bucket id (from the
    ``_NNNNN`` file-name suffix)."""
    fs, root, _ = hadoop_fs(spark, location)
    out: dict[int, list[str]] = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = _BUCKET_FILE_RE.search(name)
        if status.isFile() and m:
            out.setdefault(int(m.group(1)), []).append(name)
    return out


def merge_into_state_touched(
    spark: SparkSession,
    state_table: str,
    changes: DataFrame,
    primary_key: list[str],
    new_state_table: str,
) -> DataFrame:
    """Apply a sequenced CDC delta to bucketed state, writing ONLY the
    buckets the delta touches; untouched buckets' files carry over
    byte-identical from the old version (hard links locally, copy
    otherwise — see ``_carry_files``). Returns the new state DataFrame
    (``spark.table(new_state_table)``).

    ``merge_into_state`` got the SHUFFLE delta-sized (only the delta moves
    through an Exchange); this gets the WRITE delta-sized too (VERDICT r5
    "Next round" #1): bytes written per version ∝ touched buckets, not
    total state. The batch sibling of the streaming path's
    dynamic-partition overwrite (``streaming/incremental.py:94-126``).

    Mechanics:
    * the delta is ``changes`` reduced to its last change per key on a
      ``n_buckets``-wide PK exchange, persisted for the merge. Its touched
      bucket ids are collected through :func:`bucket_id`, the same
      ``pmod(hash(pk), n)`` the bucketed write uses, so "touched" is exact
      (bounded by ``n_buckets`` ints).
    * the state READ is one of two plans, because file pruning and
      exchange-freedom are mutually exclusive on a bucketed table Spark
      can't bucket-prune by a hash predicate. The choice is fixed: pruned
      files when the delta touches at most ¼ of the buckets, else the full
      bucketed scan — below ¼, shuffling k/N of the state costs less than
      scanning the other (N−k)/N. Both plans are result-identical
      (equivalence-tested):
      - pruned files: ONLY the touched buckets' files are read (the same
        file→bucket map the copy step uses); a plain parquet read has no
        known partitioning, so the join re-shuffles the touched fraction.
        Reads AND shuffles (k/N)·|state| instead of reading all of it —
        the standing-pipeline steady state (small deltas).
      - bucketed scan: the full bucketed scan, row-filtered to touched
        buckets — outputPartitioning survives a Filter, so the merge join
        stays Exchange-free on the state side (same plan assertion as
        ``merge_into_state``), but every state file is read (backfills).
    * untouched buckets: the old version's files keep their
      ``_NNNNN`` bucket suffix when copied, so the new table's bucketed
      scan picks them up unchanged (Spark groups multiple files per bucket
      id). A touched bucket whose rows were ALL deleted simply writes no
      file — correct, and no stale-dir cleanup is needed because every
      version is a fresh directory.
    """
    n_buckets = _bucket_count(spark, state_table)
    old_loc = _table_location(spark, state_table)
    old_files = _bucket_files(spark, old_loc)
    changes = changes.repartition(n_buckets, *primary_key)
    delta = last_change_per_key(changes, primary_key).persist()
    try:
        touched = sorted(
            r[0]
            for r in delta.select(
                bucket_id(primary_key, n_buckets).alias("_b")
            ).distinct().collect()
        )
        state = spark.table(state_table)
        if 4 * len(touched) <= n_buckets:
            paths = [
                posixpath.join(old_loc, name)
                for b in touched
                for name in old_files.get(b, [])
            ]
            state_touched = (
                spark.read.schema(state.schema).parquet(*paths)
                if paths
                else spark.createDataFrame([], state.schema)
            )
        else:
            state_touched = state.filter(
                bucket_id(primary_key, n_buckets).isin(touched)
            )
        merged = _merge_frames(state_touched, delta, primary_key)
        save_state_bucketed(merged, new_state_table, primary_key,
                            n_buckets=n_buckets)
    finally:
        delta.unpersist()

    # carry untouched buckets' files from the old version into the new one
    touched_set = set(touched)
    carry = [
        name
        for b, names in old_files.items()
        if b not in touched_set
        for name in names
    ]
    _carry_files(spark, old_loc, _table_location(spark, new_state_table), carry)
    spark.catalog.refreshTable(new_state_table)
    return spark.table(new_state_table)


def _local_path(loc: str) -> str | None:
    """Filesystem path for a ``file:`` URI (or bare path); None otherwise."""
    if loc.startswith("file:"):
        return loc[len("file:"):]
    if "://" not in loc and not loc.startswith(("hdfs:", "s3a:", "s3:", "gs:", "abfs")):
        return loc
    return None


def _carry_files(
    spark: SparkSession, old_loc: str, new_loc: str, names: list[str]
) -> None:
    """Bring old-version files into the new version's directory WITHOUT
    duplicating data where the store allows it.

    * local / ``file:`` stores: hard links — O(1) metadata per file, zero
      bytes moved; a version chain of N merges stores each untouched
      bucket's bytes once (parquet files are immutable once written, so
      shared inodes are safe; deleting an old version never corrupts the
      new one).
    * other stores: ``FileUtil.copy``. On S3A this is the portable
      fallback; production deployments should prefer the store's
      SERVER-SIDE copy (S3 CopyObject — no bytes through the cluster) or,
      at large version counts, a manifest layer that lists files per
      version instead of materializing directories — the design point
      table formats (Iceberg/Delta) exist for. The operator keeps the
      directory-per-version layout because it is what plain
      ``saveAsTable`` bucketed reads understand.
    """
    import os

    old_local, new_local = _local_path(old_loc), _local_path(new_loc)
    if old_local is not None and new_local is not None:
        for name in names:
            dst = os.path.join(new_local, name)
            if not os.path.exists(dst):
                os.link(os.path.join(old_local, name), dst)
        return
    src_fs, _, jvm = hadoop_fs(spark, old_loc)
    dst_fs, _, _ = hadoop_fs(spark, new_loc)
    hpath = jvm.org.apache.hadoop.fs.Path
    for name in names:
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            src_fs, hpath(posixpath.join(old_loc, name)),
            dst_fs, hpath(posixpath.join(new_loc, name)),
            False, dst_fs.getConf(),
        )
