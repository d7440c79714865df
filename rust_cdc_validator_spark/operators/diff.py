"""Distributed table diff — the validator half of the reference, native.

The reference delegates validation to the external crate ``rust-pgdatadiff``
v0.1.6 (src/cdc/cdc_operator.rs:254-288): per table, compare row counts, then
compare PK-ordered chunks of ``chunk_size`` rows (default 1000,
dms-cdc-operator-client/src/main.rs:75-77) by content hash, starting at chunk
``start_position``. Here the whole comparison is a Spark plan:

1. chunk-hash diff   — row digest → arithmetic PK-range chunk id
                       (floor((key - min) / span), min/span from ONE source
                       aggregate) → ONE aggregate over the side-tagged union
                       of both tables: per-chunk digest sums and row counts
                       per side, then a global fold to both row counts,
                       chunks compared and the mismatched chunk ids;
2. row drill-down    — anti-join both directions on (pk, row digest), i.e.
                       EXCEPT ALL semantics.

No-PK tables compare as multisets in ONE grouped aggregate over the tagged
union (group by every column, count per side) — Spark's own EXCEPT ALL
rewrite, so NULL grouping and float normalization (-0.0, NaN) match
``exceptAll`` exactly.

Scale notes: the row digest is computed scan-side (whole-stage codegen,
xxhash64/md5 are JVM built-ins). Chunking is PK-RANGE based, not
position-based like pgdatadiff: a global row_number would be a
single-partition sort (unusable at 100 TB) and one missing row would shift
every later chunk; range buckets need no global sort, stay aligned across
tables, and localize each defect to the chunk containing its key. The chunk
digest is an order-insensitive SUM over per-row hashes — associative, so
Spark computes it with partial (map-side) aggregation. All knobs keep the
reference defaults (chunk_size 1000, start_position 0).

The diff's own columns get names no user column has (``_internal_names``):
a table may legitimately carry a column called ``_row_hash`` or ``_chunk``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_digest(df: DataFrame, cols: list[str] | None = None) -> F.Column:
    """Deterministic per-row digest over ``cols`` (default: all columns).

    Canonical string form before hashing (SURVEY.md §7 hard-part 3): every
    value cast to string with a NULL sentinel, joined with an unlikely
    separator, then md5. Decimals/timestamps render canonically via cast.
    """
    cols = cols or df.columns
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols]
    return F.md5(F.concat_ws("\x1f", *parts))


@dataclass
class DiffReport:
    """Per-table verdicts, mirroring pgdatadiff's report shape."""

    table: str
    source_count: int
    target_count: int
    chunks_compared: int
    mismatched_chunks: list[int]
    rows_only_in_source: DataFrame | None = None
    rows_only_in_target: DataFrame | None = None
    details: dict = field(default_factory=dict)

    @property
    def counts_match(self) -> bool:
        return self.source_count == self.target_count

    @property
    def is_match(self) -> bool:
        # a no-PK diff has no chunks: its verdict is the multiset difference
        return (
            self.counts_match
            and not self.mismatched_chunks
            and not self.details.get("rows_only_in_source")
            and not self.details.get("rows_only_in_target")
        )


def compute_chunk_spec(
    df: DataFrame, primary_key: list[str], chunk_size: int
) -> tuple[float, float, int]:
    """(min_key, span, n_chunks) for arithmetic PK-range chunking.

    Public so standing validation pipelines can compute it ONCE per table
    snapshot and pass it to every subsequent ``diff_tables(...,
    chunk_spec=spec)`` run — reusing the spec skips this source pass
    entirely (SCALE.md known-delta #2), and a shared spec is also what
    keeps chunk ids comparable across runs in monitoring dashboards.

    ONE min/max/count aggregate over the source — O(1) driver state and an
    O(1) Catalyst expression regardless of n_chunks. (Round 1 used
    approxQuantile with n_chunks-1 probabilities plus a literal when-ladder,
    which at the reference default chunk_size=1000 over 10^9 rows meant a
    ~10^6-element driver list and a ~10^6-term expression — a scale-killer,
    VERDICT r1 #2.) Chunk sizes are uneven when keys are non-uniform; the
    hash fallback in _pk_order_key is uniform by construction, and for
    numeric keys uneven chunks only change digest granularity, not
    correctness.
    """
    agg = df.select(_pk_order_key(primary_key).alias("_k")).agg(
        F.min("_k").alias("lo"), F.max("_k").alias("hi"), F.count(F.lit(1)).alias("n")
    ).first()
    n = agg["n"] or 0
    n_chunks = max(1, (n + chunk_size - 1) // chunk_size)
    lo = agg["lo"] if agg["lo"] is not None else 0.0
    hi = agg["hi"] if agg["hi"] is not None else 0.0
    span = (hi - lo) / n_chunks if hi > lo else 1.0
    return float(lo), float(span), int(n_chunks)


def _pk_order_key(primary_key: list[str]) -> F.Column:
    """Single orderable double derived from the PK. Numeric first column
    carries real key order (range chunks are contiguous keyspans); non-numeric
    keys fall back to hash order — buckets lose contiguity but remain
    consistent across both tables, which is all the diff needs."""
    first = F.col(primary_key[0])
    # try_cast, not cast: ANSI mode (Spark 4 default) throws on non-numeric
    # strings; NULL routes the key to the hash fallback instead.
    return F.coalesce(
        first.try_cast("double"), F.xxhash64(first).cast("double")
    )


def _internal_names(taken: list[str], *names: str) -> list[str]:
    """The diff's own column names, each prefixed with underscores until no
    user column (``taken``) has it — a user column named ``_row_hash`` must
    survive the drill-down, not be overwritten and dropped. Compared
    case-insensitively, as Spark resolves column names by default."""
    taken = {c.lower() for c in taken}
    out = []
    for name in names:
        while name.lower() in taken:
            name = "_" + name
        taken.add(name.lower())
        out.append(name)
    return out


def _digest_value(digest: F.Column) -> F.Column:
    """Row digest → summable number: its first 14 hex digits (56 bits) as a
    decimal, so a chunk digest is an order-insensitive SUM — associative,
    hence map-side partial aggregation and no per-chunk sort."""
    return F.conv(F.substring(digest, 1, 14), 16, 10).cast("decimal(38,0)")


def diff_tables(
    source: DataFrame,
    target: DataFrame,
    primary_key: list[str],
    chunk_size: int = 1000,
    start_position: int = 0,
    table: str = "table",
    drill_down: bool = True,
    chunk_spec: tuple[float, float, int] | None = None,
) -> DiffReport:
    """Compare two tables; defaults match the reference CLI
    (chunk_size=1000, start_position=0, main.rs:75-83).

    ``start_position`` skips the first k chunks (reference semantics of the
    pgdatadiff ``start_position`` knob, cdc_operator.rs:274).

    No-PK tables fall back to a whole-row multiset comparison (SURVEY.md §7
    hard-part 2): ``details`` carries the EXCEPT ALL row counts per side.

    Scan economy: a defect-free PK diff is the spec pass (one source
    aggregate) plus ONE action — a union-aggregate that scans each table
    once, folds rows into per-chunk digest sums and counts per side, and
    returns both row counts, ``chunks_compared`` and the mismatched chunk
    ids in a single row. ``chunk_spec`` (from ``compute_chunk_spec``)
    removes the spec pass for standing pipelines that validate the same
    table repeatedly; the spec's [min, span] need not be exact —
    out-of-range keys clamp into the edge chunks — so a spec computed at
    snapshot T remains CORRECT for T+1, only chunk granularity drifts. A
    no-PK diff is one grouped aggregate; its ``rows_only_in_*`` frames stay
    lazy ``exceptAll`` plans.
    """
    common = [c for c in source.columns if c in set(target.columns)]
    source = source.select(*common)
    target = target.select(*common)
    side, row_hash, chunk, s_n, t_n, s_d, t_d = _internal_names(
        common, "_side", "_row_hash", "_chunk", "_src_n", "_tgt_n",
        "_src_d", "_tgt_d",
    )
    is_src = F.col(side) == 0
    is_tgt = F.col(side) == 1

    if not primary_key:
        # multiset compare: per distinct row, its multiplicity on each side
        per_row = (
            source.withColumn(side, F.lit(0))
            .union(target.withColumn(side, F.lit(1)))
            .groupBy(*common)
            .agg(F.count(F.when(is_src, 1)).alias(s_n),
                 F.count(F.when(is_tgt, 1)).alias(t_n))
        )
        totals = per_row.agg(
            F.sum(s_n), F.sum(t_n),
            F.sum(F.greatest(F.col(s_n) - F.col(t_n), F.lit(0))),
            F.sum(F.greatest(F.col(t_n) - F.col(s_n), F.lit(0))),
        ).first()
        src_count, tgt_count, n_src, n_tgt = (int(v or 0) for v in totals)
        return DiffReport(
            table=table,
            source_count=src_count,
            target_count=tgt_count,
            chunks_compared=0,
            mismatched_chunks=[],
            rows_only_in_source=source.exceptAll(target),
            rows_only_in_target=target.exceptAll(source),
            details={"mode": "full-row-hash", "rows_only_in_source": n_src,
                     "rows_only_in_target": n_tgt},
        )

    # chunk spec computed once from the source side and shared (same min/span
    # literals on both sides), so both tables bucket identically; callers
    # with a precomputed spec skip this pass
    spec = chunk_spec or compute_chunk_spec(source, primary_key, chunk_size)
    lo, span, n_chunks = spec
    # Keys outside the spec's [min, max] (target-only rows, or a stale spec)
    # clamp into the first/last chunk, so they still surface as a mismatch.
    chunk_id = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_chunks - 1),
            F.floor((_pk_order_key(primary_key) - F.lit(lo)) / F.lit(span)),
        ),
    ).cast("long")

    def tagged(df: DataFrame, tag: int) -> DataFrame:
        return df.select(
            chunk_id.alias(chunk),
            _digest_value(row_digest(df, common)).alias(row_hash),
            F.lit(tag).alias(side),
        )

    per_chunk = (
        tagged(source, 0)
        .union(tagged(target, 1))
        .groupBy(chunk)
        .agg(
            F.sum(F.when(is_src, F.col(row_hash))).alias(s_d),
            F.sum(F.when(is_tgt, F.col(row_hash))).alias(t_d),
            F.count(F.when(is_src, 1)).alias(s_n),
            F.count(F.when(is_tgt, 1)).alias(t_n),
        )
    )
    compared = F.col(chunk) >= start_position
    differs = ~(
        F.col(s_d).eqNullSafe(F.col(t_d))
        & (F.col(s_n) == F.col(t_n))
    )
    totals = per_chunk.agg(
        F.sum(s_n), F.sum(t_n),
        F.count(F.when(compared, 1)),
        # collect_list skips the NULLs the when() leaves for good chunks
        F.collect_list(F.when(compared & differs, F.col(chunk))),
    ).first()
    src_count, tgt_count, chunks_compared = (int(v or 0) for v in totals[:3])
    bad_chunks = sorted(totals[3])

    only_src = only_tgt = None
    if drill_down and bad_chunks:
        # Row-level drill-down via keyed hash anti-join, both directions.
        s_h = source.withColumn(row_hash, row_digest(source, common))
        t_h = target.withColumn(row_hash, row_digest(target, common))
        keys = [*primary_key, row_hash]
        only_src = s_h.join(t_h, on=keys, how="left_anti").drop(row_hash)
        only_tgt = t_h.join(s_h, on=keys, how="left_anti").drop(row_hash)

    return DiffReport(
        table=table,
        source_count=src_count,
        target_count=tgt_count,
        chunks_compared=chunks_compared,
        mismatched_chunks=bad_chunks,
        rows_only_in_source=only_src,
        rows_only_in_target=only_tgt,
        details={
            "chunk_size": chunk_size,
            "start_position": start_position,
            # hand this back into diff_tables(chunk_spec=...) next run
            "chunk_spec": spec,
        },
    )
