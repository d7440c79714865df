"""Keyword retrieval: BM25 top-k over an implicit inverted index.

The reference has no text-retrieval surface; this is part of the
beyond-reference training-pipeline layer (COVERAGE.md "Beyond-reference"),
complementing the embedding-based similarity operators
(operators/similarity.py) with the sparse/lexical half of a data-curation
stack (e.g. mining docs related to a benchmark prompt before
decontamination, or building retrieval-labelled training pairs).

Scale design (the part that matters at 100 TB):

* There is NO materialized index. The "posting list" for the query's terms
  is produced map-side by filtering each document's token array against the
  (tiny, broadcast) query-term set BEFORE anything shuffles — so shuffle
  volume is proportional to *matching* (doc, term) pairs, not corpus size.
* Document length (needed by BM25's length normalization) is computed in
  the same map-side pass (`size(split(...))`), never via a corpus-wide
  token groupBy.
* Corpus stats (N, avgdl) are one all-map-side-partial aggregate producing
  a single row, attached with a broadcast cross join.
* Per-term document frequencies come from the already-tiny match relation.
* Final top-k is `orderBy(...).limit(k)` — TakeOrderedAndProject, never a
  global window.

Engine portability: with ``log_idf=False`` the scorer uses the monotone
non-log idf ``(N - df + 0.5) / (df + 0.5)``; every op is then IEEE
add/mul/div on exactly-representable inputs, so an independent SQL engine
reproduces the scores bit-for-bit (``ln`` may differ in the last ulp
across libm implementations). The default
``log_idf=True`` is the classic BM25+ formula for production use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def corpus_stats(
    docs: DataFrame, text_col: str = "text"
) -> tuple[int, float]:
    """(n_docs, avg token length) — the two corpus-level constants BM25
    needs. One column-pruned pass; a production deployment computes this
    once per corpus snapshot and passes it to ``bm25_topk(stats=...)`` so
    per-query cost is a single scan."""
    row = (
        docs.select(F.size(F.split(F.col(text_col), " ")).alias("dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a"))
        .collect()[0]
    )
    return row["n"], row["a"]


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    log_idf: bool = True,
    stats: tuple[int, float] | None = None,
    max_autostats_docs: int = 10_000_000,
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25.

    Returns (id_col, bm25 double, n_terms long) ordered by score desc with
    the id as deterministic tiebreaker. With ``stats`` (precomputed
    ``corpus_stats``) the whole query is ONE corpus scan; without it, two
    (Spark cannot fuse the global-average branch with the per-doc branch
    short of a single-partition window, and exchange reuse does not apply —
    column pruning makes the two subtrees non-identical).

    Guard (VERDICT r2 #8): auto-computing stats doubles the corpus scans,
    which is fine interactively but silently doubles per-query cost at
    scale. If the corpus turns out to exceed ``max_autostats_docs`` docs,
    this raises instead of proceeding — precompute ``corpus_stats`` once
    per corpus snapshot and pass ``stats=``. (The check rides on the n_docs
    the stats pass already produced — small corpora pay nothing extra.)
    """
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    terms = F.array(*[F.lit(t) for t in sorted(set(query_terms))])

    arr = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select(
        id_col,
        F.size("_toks").alias("dl"),
        # map-side: keep only query terms; everything else never leaves the
        # scan stage
        F.filter("_toks", lambda t: F.array_contains(terms, t)).alias("_hits"),
    )

    matches = (
        arr.filter(F.size("_hits") > 0)
        .select(id_col, "dl", F.explode("_hits").alias("tok"))
        .groupBy(id_col, "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    # per-term document frequency as a count window over the match relation
    # (partitioned by token, no ordering — a full-partition count). This
    # reuses the matches shuffle output instead of re-scanning the corpus:
    # a groupBy-join formulation plans a second scan+explode because column
    # pruning makes the two aggregate subtrees non-identical, defeating
    # ReuseExchange.
    with_df = matches.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )

    if stats is not None:
        n_docs, avgdl = stats
        if n_docs == 0 or avgdl is None:
            raise ValueError(
                "bm25_topk: stats describe an empty corpus — "
                "avg document length is undefined"
            )
    else:
        n_docs, avgdl = corpus_stats(docs, text_col)
        if n_docs == 0 or avgdl is None:
            raise ValueError(
                "bm25_topk: corpus is empty (or all-null text) — "
                "avg document length is undefined"
            )
        if n_docs > max_autostats_docs:
            raise ValueError(
                f"bm25_topk computed corpus_stats on the fly over {n_docs} "
                f"docs (> max_autostats_docs={max_autostats_docs}); at this "
                f"size the implicit second corpus scan per query is the "
                f"dominant cost. Precompute corpus_stats(docs) once and "
                f"pass stats=, or raise max_autostats_docs explicitly."
            )

    idf_raw = (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    idf = F.log(idf_raw + F.lit(1.0)) if log_idf else idf_raw
    term_score = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
    )

    scored = (
        with_df.withColumn("_s", term_score)
        .groupBy(id_col)
        .agg(
            F.sum("_s").alias("bm25"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


def recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Recall@k of an approximate retriever against an exact one — the
    index-quality monitor every standing ANN deployment needs (recall
    drifts as the corpus grows away from the fitted quantizer/planes; this
    is the number that says when to refit). Both inputs are ranked result
    frames ``(query_col, neighbor_col, rank_col)`` — any retriever pair
    composes: brute-force vs LSH, LSH vs IVF-PQ, old index vs new.

    Returns one row per query: ``(query_col, n_exact, n_hit, recall)``.
    Queries with NO exact neighbors are absent (recall undefined).
    Aggregate ``avg(recall)`` for the headline number.

    Scale: inputs are top-k lists (queries × k rows), so the semi-join and
    counts here are micro-scale regardless of corpus size — the corpus
    work happened in the retrievers."""
    e = exact.filter(F.col(rank_col) <= k).select(query_col, neighbor_col)
    a = approx.filter(F.col(rank_col) <= k).select(query_col, neighbor_col)
    totals = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        e.join(a, [query_col, neighbor_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, query_col, "left")
        .fillna(0, subset=["n_hit"])
        .select(
            query_col,
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def ndcg_report(
    ranked: DataFrame,
    rel_col: str,
    query_col: str | None = None,
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """nDCG@k of a ranked list with graded relevance — recall@k's graded
    companion (:func:`recall_report`): did the retriever put the MOST
    relevant results first, not just somewhere in the top k.
    ``DCG = Σ_{i≤k} rel_i / log2(i+1)`` over the given ranking;
    IDCG re-sorts the SAME list by relevance (desc, rank as deterministic
    tiebreak) — list-level nDCG, the standard offline formulation when the
    full corpus ideal is unknowable. Returns ``(query_col?, dcg, idcg,
    ndcg)``; ``ndcg`` is null when the list has no relevant rows.

    Micro-scale like the other monitors: inputs are top-k lists, the
    windows partition per query (or over the single list)."""
    keys = [query_col] if query_col else []
    part = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    top = ranked.filter(F.col(rank_col) <= k)
    iw = part.orderBy(F.col(rel_col).desc(), F.col(rank_col).asc())
    gains = top.select(
        *keys,
        (
            F.col(rel_col).cast("double")
            / F.log2(F.col(rank_col).cast("double") + 1.0)
        ).alias("_g"),
        (
            F.col(rel_col).cast("double")
            / F.log2(F.row_number().over(iw).cast("double") + 1.0)
        ).alias("_ig"),
    )
    agg = gains.groupBy(*keys).agg(
        F.sum("_g").alias("dcg"), F.sum("_ig").alias("idcg")
    )
    return agg.select(
        *keys,
        "dcg",
        "idcg",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def mmr_rerank(
    candidates: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.7,
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick ``k`` results per query maximizing
    ``lam·relevance − (1−lam)·max_sim_to_already_selected`` — the standard
    diversification pass after a retriever, so near-duplicate hits don't
    crowd the result list. Input is a per-query CANDIDATE set
    ``(query_col, id_col, score_col, vec_col)`` — a retriever's top-N —
    and output is ``(query_col, id_col, mmr_rank, mmr_score)``.

    Scale shape: MMR is inherently sequential per query, but it only ever
    runs on top-N candidate sets (queries × N rows — micro-scale relative
    to the corpus the retriever scanned), so each query's greedy loop is
    one Arrow-batched group: ``applyInPandas`` over ``query_col``, one
    unit-normalized matmul for the within-group similarity matrix, numpy
    argmax per step. Deterministic: candidates are pre-sorted by
    ``(score desc, id)``, groups over ``max_candidates`` keep only the
    top ``max_candidates`` by that order (documented truncation — MMR
    over more candidates than that belongs upstream in the retriever),
    and score ties break on the smaller id.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    qt = candidates.schema[query_col].dataType.simpleString()
    it = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {qt}, {id_col} {it}, mmr_rank int, mmr_score double"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).head(max_candidates)
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.linalg.norm(v, axis=1, keepdims=True)
        n[n == 0] = 1.0
        v = v / n
        sim = v @ v.T
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        cand = np.arange(len(pdf))
        chosen: list[int] = []
        scores: list[float] = []
        while len(cand) and len(chosen) < k:
            if chosen:
                penalty = sim[np.ix_(cand, chosen)].max(axis=1)
                mmr = lam * rel[cand] - (1.0 - lam) * penalty
            else:
                mmr = lam * rel[cand]
            # argmax with smaller-id tiebreak, order-stable
            best = cand[np.lexsort((ids[cand], -mmr))[0]]
            chosen.append(int(best))
            scores.append(float(mmr[cand == best][0]))
            cand = cand[cand != best]
        return pd.DataFrame(
            {
                query_col: [pdf[query_col].iloc[0]] * len(chosen),
                id_col: ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "mmr_score": np.array(scores, dtype=np.float64),
            }
        )

    return candidates.groupBy(query_col).applyInPandas(_mmr, out_schema)


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    weights: list[float] | None = None,
    query_col: str | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    ranked lists: score(d) = Σ_i w_i / (k + rank_i(d)) over the lists d
    appears in — the standard way to combine lexical (BM25) and vector
    (ANN) retrieval without score calibration, since it consumes only the
    RANKS. Returns (id_col, rrf_score, n_lists, rank) ordered by score
    desc with the id as deterministic tiebreaker.

    Scale: inputs are top-k lists — queries·k rows — so the union +
    groupBy here is micro-scale no matter the corpus behind the lists;
    the heavy lifting happened in the retrievers. For BATCHED fusion pass
    ``query_col``: fusion groups on (query, id) and the final ranking
    window partitions per query instead of running one global sort.
    """
    if not ranked:
        raise ValueError("need at least one ranked list")
    w = weights or [1.0] * len(ranked)
    if len(w) != len(ranked):
        raise ValueError("weights must match ranked lists")
    keys = ([query_col] if query_col else []) + [id_col]
    parts = [
        df.select(
            *[F.col(c) for c in keys],
            (F.lit(float(wi)) / (F.lit(k) + F.col(rank_col))).alias("_c"),
        )
        for df, wi in zip(ranked, w)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(*keys).agg(
        F.sum("_c").alias("rrf_score"), F.count(F.lit(1)).alias("n_lists")
    )
    base = Window.partitionBy(query_col) if query_col else Window
    win = base.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return fused.withColumn("rank", F.row_number().over(win))
