"""Standing dedup at ingest: a Structured Streaming query that maintains
the persisted MinHash index (``operators/dedup.py:build_minhash_index``)
as new documents arrive.

Per micro-batch (``foreachBatch`` — index writes are batch-sink territory):

1. probe: ``near_dup_against_index`` finds the batch's near-dups against
   everything indexed so far (corpus signatures never recompute, corpus
   memberships never shuffle — the probe broadcasts the BATCH);
2. emit: the pairs append to a parquet log (``pairs_path``) for the
   downstream keep/drop policy;
3. append: the batch's own signatures/memberships join the index
   (``append_to_minhash_index``), so the NEXT batch dedups against this
   one too.

Probe-before-append gives clean semantics: a batch is never compared with
itself (batch-internal dups are ``minhash_near_dup_pairs`` on the batch,
run by the caller if wanted), and a doc is indexed exactly once.

At 100 TB the index is the corpus-sized side and lives in the object
store; each micro-batch costs ∝ |batch| signatures + the probed buckets'
populations — the streaming sibling of the day-2 story
``build_minhash_index`` documents. foreachBatch re-runs on recovery are
idempotent for the PAIRS log only if ids are later deduped downstream;
exact-once appends need a transactional table format underneath — called
out here rather than papered over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rust_cdc_validator_spark.operators.dedup import (
    append_to_minhash_index,
    near_dup_against_index,
)


def maintain_minhash_index(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
):
    """Build (not start) the maintenance query; caller ``.start()``s it.

    ``doc_stream`` is any streaming DataFrame of (id, text) — file source
    over a landing prefix in production, memory/file source in tests.
    """

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        pairs = near_dup_against_index(
            batch, index_path, text_col=text_col, id_col=id_col,
            threshold=threshold,
        )
        pairs.write.mode("append").parquet(pairs_path)
        append_to_minhash_index(
            batch, index_path, text_col=text_col, id_col=id_col
        )

    return (
        doc_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def maintain_lsh_index(
    vec_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
):
    """The embedding sibling of :func:`maintain_minhash_index`: per
    micro-batch, probe the persisted hyperplane-LSH index
    (``operators/similarity.py:build_lsh_index``) for near-dups of the
    batch's vectors, log the verified pairs, then append the batch's
    memberships + unit vectors. Same probe-before-append semantics and
    the same ∝|batch| cost shape."""
    from rust_cdc_validator_spark.operators.similarity import (
        append_to_lsh_index,
        near_dup_against_lsh_index,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        pairs = near_dup_against_lsh_index(
            batch, index_path, id_col=id_col, vec_col=vec_col,
            threshold=threshold,
        )
        pairs.write.mode("append").parquet(pairs_path)
        append_to_lsh_index(batch, index_path, id_col=id_col, vec_col=vec_col)

    return (
        vec_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def maintain_ivf_index(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refit_flag_path: str | None = None,
    max_imbalance: float = 4.0,
):
    """Keep a persisted IVF index (``operators/similarity.py:
    build_ivf_index``) fresh from an embedding stream: each micro-batch is
    assigned map-side against the STORED centroids and appended into its
    cells' partitions — no shuffle, no scan of existing vectors, cost
    ∝ |batch|. Unlike the near-dup maintainers there is nothing to probe;
    retrieval freshness IS the product.

    After each append the cell-balance cue is checked
    (``ivf_refit_needed`` — bounded, n_cells rows); when drift crosses
    ``max_imbalance`` a one-row marker is written under
    ``refit_flag_path`` (if given) so an external scheduler can rebuild
    with a fresh quantizer fit — the refit itself is a batch job, not a
    per-micro-batch cost.
    """
    from rust_cdc_validator_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_refit_needed,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        append_to_ivf_index(batch, index_path, id_col=id_col, vec_col=vec_col)
        if refit_flag_path is not None and ivf_refit_needed(
            batch.sparkSession, index_path, max_imbalance=max_imbalance
        ):
            batch.sparkSession.createDataFrame(
                [(int(batch_id),)], "flagged_at_batch long"
            ).write.mode("append").parquet(refit_flag_path)

    return (
        vec_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def init_edge_state_log(spark, versions_path: str, initial_path: str) -> None:
    """Register an already-built edge state (``graphstate.build_edge_state``)
    as version -1 of a maintenance log — the seed :func:`maintain_edge_state`
    advances from."""
    spark.createDataFrame(
        [(-1, initial_path)], "batch_id long, path string"
    ).write.mode("overwrite").parquet(versions_path)


def current_edge_state(spark, versions_path: str, before: int | None = None) -> str:
    """Resolve the newest complete edge-state version from the log —
    optionally only versions strictly OLDER than ``before`` (the retry
    guard: a re-run batch must advance from its original parent, never
    from its own half-registered output)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(versions_path)
    if before is not None:
        df = df.filter(F.col("batch_id") < before)
    row = df.orderBy(F.col("batch_id").desc()).first()
    if row is None:
        raise ValueError(
            f"edge-state log {versions_path} has no version before {before} "
            "— seed it with init_edge_state_log"
        )
    return row["path"]


def maintain_edge_state(
    edge_stream: DataFrame,
    state_root: str,
    versions_path: str,
    checkpoint_dir: str,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
):
    """Standing graph maintenance — the edge-state sibling of
    :func:`maintain_minhash_index`: each micro-batch of edge deltas folds
    into the persisted graph state (``graphstate.advance_edge_state``,
    CDC semantics — negative weights retract) as an immutable NEW version
    under ``{state_root}/v{batch_id}``, then registers in the version
    log. Every ``*_from_state`` analytic reads
    :func:`current_edge_state`'s resolution and always sees a COMPLETE
    version — readers never race a half-written advance.

    Recovery semantics (foreachBatch may re-run a batch): if this
    batch's version is ALREADY in the log, the prior attempt completed
    its advance and registered it — the retry is a no-op. Re-advancing
    would overwrite a version concurrent readers may be resolving
    (parquet ``mode=overwrite`` deletes before it rewrites, so a reader
    of ``current_edge_state`` could observe missing files mid-rewrite).
    If the prior attempt died BEFORE the log append, ``v{batch_id}`` is
    at worst a half-written orphan no reader can resolve, and the retry
    re-advances from its ORIGINAL parent (newest version with
    ``batch_id <`` this batch's) and overwrites the orphan — never
    double-counting the delta. Old versions are the caller's to vacuum
    once no reader pins them (:func:`vacuum_edge_state_versions`).

    At 100 TB: per batch cost is O(|E| state read + |batch|) with zero
    fact-table scans — the graph stays current at streaming cadence
    while the expensive from-facts build runs exactly once, ever.
    """
    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if not batch.head(1):
            return
        spark = batch.sparkSession
        # retry no-op guard: an already-registered version is COMPLETE —
        # rewriting it in place would race readers (see docstring)
        already = (
            spark.read.parquet(versions_path)
            .filter(F.col("batch_id") == batch_id)
            .head(1)
        )
        if already:
            return
        parent = current_edge_state(spark, versions_path, before=batch_id)
        new_path = f"{state_root}/v{batch_id}"
        advance_edge_state(
            spark, parent, batch, new_path,
            src=src, dst=dst, weight_col=weight_col,
        )
        spark.createDataFrame(
            [(batch_id, new_path)], "batch_id long, path string"
        ).write.mode("append").parquet(versions_path)

    return (
        edge_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def vacuum_edge_state_versions(
    spark,
    state_root: str,
    versions_path: str,
    keep_last: int = 2,
    heal_orphans: bool = True,
    dry_run: bool = False,
) -> dict:
    """Retention for :func:`maintain_edge_state`'s version chain.

    The bucket-selective advance makes versions SHARE adjacency files
    (an untouched bucket's file is referenced by every later manifest
    until next touched), so deleting an old version's directory outright
    would corrupt newer versions. Vacuum therefore works by
    REACHABILITY, like table-format snapshot expiry:

    * keep the newest ``keep_last`` REGISTERED versions (the resolved
      current version is always among them — resolution is newest-row);
    * a file is LIVE iff it lives under a kept version's directory or a
      kept version's adj manifest references it;
    * dropped registered versions lose their non-live files; their
      directories survive while still holding live (shared) files;
    * with ``heal_orphans``, an UNREGISTERED ``v{n}`` directory under
      ``state_root`` — a batch that died between its advance write and
      its log append, invisible to every reader — is deleted whole (the
      retried batch rewrites it from its original parent anyway).

    Only paths under ``state_root`` are ever touched: the seed version
    (``init_edge_state_log``'s ``initial_path``) typically lives
    elsewhere and is never vacuumed here. Log rows for dropped versions
    are KEPT — the log is append-only and tiny, resolution reads only
    the newest row, and rewriting the log in place would race readers.

    Call from the maintenance scheduler when no advance is in flight
    (``heal_orphans`` cannot tell a crashed orphan from an advance that
    is mid-write right now). Returns ``{"kept", "dropped",
    "deleted_files", "retained_shared_files", "healed_orphans"}``;
    ``dry_run`` reports without deleting.
    """
    import posixpath
    import re

    from rust_cdc_validator_spark.operators.graphstate import (
        _fs_list_names,
        _load_adj_manifest,
        _resolve_adj_entry,
    )
    from rust_cdc_validator_spark.sources.manifest import hadoop_fs

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 — vacuum never drops HEAD")

    rows = spark.read.parquet(versions_path).collect()
    by_id = {}
    for r in rows:  # duplicate rows (crash between write and checkpoint)
        by_id[int(r["batch_id"])] = r["path"]
    ordered = sorted(by_id)  # oldest -> newest
    kept_ids = ordered[-keep_last:]
    dropped_ids = [v for v in ordered if v not in kept_ids]
    root_norm = state_root.rstrip("/")

    def _under_root(p: str) -> bool:
        return (p.rstrip("/") + "/").startswith(root_norm + "/")

    fs, _, jvm = hadoop_fs(spark, state_root)
    hpath = jvm.org.apache.hadoop.fs.Path

    def _walk_files(base: str) -> list[str]:
        out = []
        stack = [base]
        while stack:
            cur = stack.pop()
            for name in _fs_list_names(spark, cur):
                child = posixpath.join(cur, name)
                if fs.isDirectory(hpath(child)):
                    stack.append(child)
                else:
                    out.append(child)
        return out

    # live set: every file under a kept dir + every file a kept
    # manifest references (shared files living in DROPPED version dirs)
    live: set[str] = set()
    for v in kept_ids:
        p = by_id[v]
        if fs.exists(hpath(p)):
            live.update(_walk_files(p))
            m = _load_adj_manifest(spark, p)
            for files in m["buckets"].values():
                for rel in files:
                    live.add(_resolve_adj_entry(p, rel))

    deleted, retained = [], []
    for v in dropped_ids:
        p = by_id[v]
        if not _under_root(p) or not fs.exists(hpath(p)):
            continue  # the seed or an external version: never touched
        for f in _walk_files(p):
            if f in live:
                retained.append(f)
                continue
            deleted.append(f)
            if not dry_run:
                fs.delete(hpath(f), False)
        if not dry_run:
            # prune now-empty subtrees (a dir holding live files stays)
            stack, dirs = [p], []
            while stack:
                cur = stack.pop()
                dirs.append(cur)
                for name in _fs_list_names(spark, cur):
                    child = posixpath.join(cur, name)
                    if fs.isDirectory(hpath(child)):
                        stack.append(child)
            for d in sorted(dirs, key=len, reverse=True):
                if not _fs_list_names(spark, d):
                    fs.delete(hpath(d), False)

    healed = []
    if heal_orphans:
        registered = {by_id[v].rstrip("/") for v in ordered}
        for name in _fs_list_names(spark, state_root):
            if not re.fullmatch(r"v-?\d+", name):
                continue
            child = posixpath.join(root_norm, name)
            if child in registered or not fs.isDirectory(hpath(child)):
                continue
            # unregistered orphan: but its files may be LIVE through a
            # kept manifest? impossible — manifests only reference their
            # own files and ANCESTOR versions, and an unregistered dir
            # was never anyone's parent. Still, guard by reachability.
            own = set(_walk_files(child))
            if own & live:
                retained.extend(sorted(own & live))
                continue
            healed.append(child)
            if not dry_run:
                fs.delete(hpath(child), True)

    return {
        "kept": kept_ids,
        "dropped": dropped_ids,
        "deleted_files": sorted(deleted),
        "retained_shared_files": sorted(set(retained)),
        "healed_orphans": sorted(healed),
    }


def maintain_kmv_sketch(
    vstream: DataFrame,
    state_root: str,
    versions_path: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    k: int = 256,
):
    """Standing KMV/theta sketches (``operators/sketch.kmv_sketch``)
    maintained from a stream — the set-algebra sibling of
    :func:`maintain_minhash_index`: per micro-batch, sketch the batch,
    merge into the persisted per-group sketches (k smallest of the
    hash union — EXACTLY the sketch of the unioned data, the
    order-statistics twin of HLL's register-max property,
    pytest-pinned), and write an immutable ``{state_root}/v{batch_id}``
    version registered in the same append-only log format as
    :func:`maintain_edge_state` (shared ``init_edge_state_log`` /
    ``current_edge_state`` resolution; same already-registered retry
    no-op, so readers never race a rewrite).

    State is groups × k longs — KBs; each micro-batch costs ∝ |batch|
    plus one groups-sized merge join. Downstream
    ``kmv_pair_overlap`` reads the resolved version for live
    union/intersection/difference estimates."""
    from rust_cdc_validator_spark.operators.sketch import (
        _KMV_FULL,
        kmv_sketch,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if not batch.head(1):
            return
        spark = batch.sparkSession
        already = (
            spark.read.parquet(versions_path)
            .filter(F.col("batch_id") == batch_id)
            .head(1)
        )
        if already:
            return
        parent = current_edge_state(spark, versions_path, before=batch_id)
        old = spark.read.parquet(parent).select(
            F.col(group_col), F.col("hashes").alias("_old")
        )
        delta = kmv_sketch(batch, [group_col], value_col, k=k).select(
            F.col(group_col), F.col("hashes").alias("_new")
        )
        merged_hashes = F.slice(
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce("_old", F.array().cast("array<long>")),
                        F.coalesce("_new", F.array().cast("array<long>")),
                    )
                )
            ),
            1,
            k,
        )
        nz = F.size(F.col("hashes"))
        merged = (
            old.join(delta, group_col, "full_outer")
            .select(group_col, merged_hashes.alias("hashes"))
            .select(
                group_col,
                "hashes",
                (nz >= k).alias("saturated"),
                F.when(nz < k, nz.cast("double"))
                .otherwise(
                    F.lit(float(k - 1))
                    * F.lit(_KMV_FULL)
                    / F.element_at(F.col("hashes"), k).cast("double")
                )
                .alias("est"),
            )
        )
        new_path = f"{state_root}/v{batch_id}"
        merged.write.mode("overwrite").parquet(new_path)
        spark.createDataFrame(
            [(batch_id, new_path)], "batch_id long, path string"
        ).write.mode("append").parquet(versions_path)

    return (
        vstream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
