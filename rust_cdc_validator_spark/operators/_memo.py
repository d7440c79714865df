"""Per-path driver-fact memo for build-once/probe-many artifacts.

The ANN index families (MinHash/LSH/IVF/IVF-PQ) and the graph edge state
are immutable-once-built by contract: params rows, centroid matrices,
codebooks and adjacency manifests never change under a path after the
build (appends add membership/vector rows under the SAME pinned
params/centroids). Yet every probe-query EXECUTION re-ran the driver-side
loads — a params ``first()`` job here, a centroids ``toPandas()`` + a
fresh ``broadcast()`` there — paying 2-4 extra Spark jobs per execution
and leaking one broadcast per run (guide §1.2: remove passes the job does
not need; §5: the driver should do almost no data work).

This memo keys on (applicationId, normalized path, fact key) so a
restarted session never sees another context's broadcast handles or
checkpointed blocks, and a rebuild addressed via a differently-spelled
path (trailing slash, ``..`` segment) still evicts. Facts are scalars,
parsed records, Broadcast handles, or the graph state's derived
DataFrame relations (the long-encoded node dict and adjacency, pivot-BFS
levels, HyperBall registers — each ``localCheckpoint``ed where derived).
BUILD functions invalidate their path (rebuild-in-place safety); appends
do not touch the pinned facts, so they do not invalidate. Invalidation
destroys the Broadcasts and unpersists the DataFrames being dropped, and
entries for dead applicationIds are evicted on the next lookup. The memo
is in-process only — exactly the scope of the memoized builds the
bench's warm-up amortizes — and never holds query RESULTS.
"""

from __future__ import annotations

import posixpath
from typing import Any, Callable, Hashable

_CACHE: dict[tuple, Any] = {}


def _norm_path(p: str) -> str:
    """Non-scheme paths go through ``posixpath.normpath`` (collapses ANY
    run of redundant separators and ``.``/``..`` segments);
    scheme-qualified paths only lose the trailing slash (normpath would
    mangle ``s3://``)."""
    if "://" in p:
        return p.rstrip("/")
    return posixpath.normpath(p)


def _release(value: Any) -> None:
    """Free what a dropped fact pins: destroy a Broadcast (a leaked
    handle pins its blocks on every executor for the app lifetime) and
    unpersist a DataFrame (a checkpointed relation's blocks), looking
    inside tuples, lists and dicts. Best effort: plain facts and
    already-dead contexts pass through."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
        return
    if isinstance(value, dict):
        for v in value.values():
            _release(v)
        return
    if not callable(getattr(value, "unpersist", None)):
        return
    try:
        destroy = getattr(value, "destroy", None)
        (destroy if callable(destroy) else value.unpersist)()
    except Exception:
        pass


def index_fact(
    spark, path: str, key: Hashable, compute: Callable[[], Any]
) -> Any:
    """Memoized driver-side fact of an immutable artifact under ``path``."""
    app = spark.sparkContext.applicationId
    stale = [k for k in _CACHE if k[0] != app]
    for k in stale:  # a restarted session: the old app's handles are dead
        _CACHE.pop(k, None)
    k = (app, _norm_path(path), key)
    if k not in _CACHE:
        _CACHE[k] = compute()
    return _CACHE[k]


def invalidate_index(path: str) -> None:
    """Drop every cached fact under ``path`` (a rebuild replaced it)."""
    norm = _norm_path(path)
    for k in [k for k in _CACHE if k[1] == norm]:
        _release(_CACHE.pop(k))
