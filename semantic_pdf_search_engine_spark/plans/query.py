"""Query-time top-k over the compressed inverted index.

Pipeline (replacing the reference's Qdrant search,
/root/reference/src/qdrant.rs:70-96):

  1. driver tokenizes the query with the pinned tokenizer (tiny — the
     analog of in-process embed_query, /root/reference/src/embed.rs:65-78);
  2. posting scan pruned two ways: parquet partition pruning on
     `term_bucket` (buckets computed driver-side from the query terms,
     pushed as a partition filter) + row-group min/max skipping on
     `term`;
  3. **stripe pruning (block-max)**: per stripe, bounds recomputed
     from RAW block facts under CURRENT stats —
     ub = Σ_terms idf·contrib(max_tf, dl→0) (no doc can beat it);
     lb = max_terms idf·contrib(top_tf, top_dl) (achievable: (top_tf,
     top_dl) is a real stored posting, so some doc in the stripe scores
     ≥ lb). Threshold T = k-th largest lb across stripes — at least k
     distinct docs (one per stripe) score ≥ T, so any stripe with
     ub < T cannot contribute to the top k. The lb top-k is a tiny
     TakeOrdered over stripe metadata; the kept-stripe set is
     broadcast back.
  4. per-stripe document-at-a-time scoring in one Arrow UDF: decode
     blocks, dense float64 accumulation over the ≤STRIPE_DOCS-wide
     doc range in canonical (sorted-term) order — bit-identical to the
     numpy oracle's summation order — emit the stripe-local top-k;
  5. global merge: candidates ≤ (#stripes_kept × k) rows through
     TakeOrderedAndProject (ORDER BY score DESC, doc_id LIMIT k).

Stripe-level block-max pruning is the engine's moral twin of the
reference's anchor-based candidate pruning before expensive scoring
(/root/reference/src/fuzzy.rs:31-51): skip regions whose upper bound
cannot beat the current threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import (
    B,
    DEFAULT_TOP_K,
    K1,
    SCORE_DECIMALS,
)
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
from semantic_pdf_search_engine_spark.functions.rounding import round_half_up
from semantic_pdf_search_engine_spark.sources.index_store import (
    InvertedIndex,
    term_bucket_of,
)


def _bm25_bounds(avgdl: float):
    """(ub, lb) Column exprs over a block's RAW posting facts under
    CURRENT stats — ONE definition shared by the single-query and batch
    paths (they must stay bit-identical for batch ≡ single to hold):

      ub: dl→0 limit of the contribution at the block's max tf — no
          posting can exceed it under any dl;
      lb: exact contribution of a real stored posting (top_tf, top_dl)
          — achievable now, however stats drifted since the block was
          built (append/merge-proof)."""
    ub = F.col("idf") * (
        F.col("max_tf") * F.lit(K1 + 1.0)
    ) / (F.col("max_tf") + F.lit(K1 * (1.0 - B)))
    lb = (
        F.col("idf") * (F.col("top_tf") * F.lit(K1 + 1.0))
    ) / (
        F.col("top_tf")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("top_dl") / F.lit(avgdl))
    )
    return ub, lb


def _kept_stripes(meta: DataFrame, k: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Stripes whose ub can reach the k-th-largest lb threshold, per
    `keys` group (empty keys = one global group). The threshold stays
    IN-PLAN — two windows over the stripe-METADATA rows (#stripes per
    group, tiny) instead of a driver collect + second plan compile.
    _t is NULL when a group has fewer than k stripes ⇒ no valid
    threshold ⇒ nothing pruned. The 1e-12 relative shave is the
    cross-runtime (JVM lb vs numpy scores) 1-ulp guard."""
    from pyspark.sql.window import Window

    rnk = F.row_number().over(
        Window.partitionBy(*keys).orderBy(F.col("lb").desc())
    )
    wall = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        meta.withColumn("_r", rnk)
        .withColumn("_t", F.max(F.when(F.col("_r") == k, F.col("lb"))).over(wall))
        .filter(
            F.col("_t").isNull() | (F.col("ub") >= F.col("_t") * (1.0 - 1e-12))
        )
        .select(*keys, "stripe_id")
    )


def _daat_stripe_topk(
    pdf: pd.DataFrame,
    stripe_docs: int,
    avgdl: float,
    k: int,
    scope_ids=None,
    scope_range=None,
):
    """The per-stripe DAAT scoring kernel — ONE definition shared by the
    single-query and batch paths: decode blocks, dense float64
    accumulation in canonical (sorted-term) order — bit-identical to
    the numpy oracle's summation order — stripe-local top-k with doc_id
    tie-break. Returns (doc_id int64 array, score float64 array)."""
    from semantic_pdf_search_engine_spark.operators.codec import decode_block

    k1, b = K1, B
    stripe = int(pdf["stripe_id"].iloc[0])
    base = stripe * stripe_docs
    scores = np.zeros(stripe_docs, dtype=np.float64)
    seen = np.zeros(stripe_docs, dtype=bool)
    pdf = pdf.sort_values("term", kind="mergesort")
    for row in pdf.itertuples(index=False):
        docs, tfs, dls = decode_block(row.gaps, row.tfs, row.dls, base)
        if scope_ids is not None:
            mask = np.isin(docs, scope_ids)  # exact membership
            if not mask.any():
                continue
            docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
        elif scope_range is not None:
            mask = (docs >= scope_range[0]) & (docs <= scope_range[1])
            if not mask.any():
                continue
            docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
        off = docs - base
        idf = row.idf
        # op order pinned to match oracle.bm25_term bit-for-bit
        contrib = (idf * (tfs * (k1 + 1.0))) / (
            tfs + k1 * (1.0 - b + b * dls / avgdl)
        )
        scores[off] += contrib
        seen[off] = True
    hit = np.flatnonzero(seen)
    if hit.size == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    s = scores[hit]
    order = np.lexsort((hit, -s))[:k]  # stripe-local top-k, doc_id tie-break
    return (hit[order] + base).astype("int64"), s[order]


# Above this many member docIDs, a non-contiguous conversation's
# membership is NOT collected to the driver as a numpy mask; the scoped
# search falls back to an in-plan broadcast semi-join (see score_topk).
NONCONTIG_MEMBERSHIP_CAP = 100_000


def score_topk(
    index: InvertedIndex,
    query: str,
    k: int = DEFAULT_TOP_K,
    round_scores: bool = True,
    prune: bool = True,
    conv_id: str | None = None,
    membership_cap: int | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) from the compressed posting blocks.

    `conv_id` scopes the search to one conversation — the reference's
    filename filter evaluated INSIDE the index (/root/reference/src/
    qdrant.rs:84-90), not as a post-filter: when appends arrive
    log-structured (new conv_ids sort after old) docIDs are dense in
    (conv_id, turn_idx) order, so a conversation is one contiguous
    docID range; blocks whose [min_doc, max_doc] miss the range are
    skipped at the scan, and the scorer masks the range inside the
    stripe. Contiguity is VERIFIED, not assumed: the same aggregate
    that finds [lo, hi] also counts the conversation's docs — if
    count < hi−lo+1 (an append added turns to an existing conv), the
    exact docID set (bounded by the conversation's size) is collected
    and the scorer masks by membership instead of range, so docs of
    OTHER conversations inside the range are never scored into scoped
    results. Above NONCONTIG_MEMBERSHIP_CAP member docs (override with
    `membership_cap`) the driver collect is skipped entirely: the
    scorer masks by range with per-stripe truncation off, and the
    candidates are semi-joined against the conversation's doc_ids
    IN-PLAN before the global top-k (no broadcast hint — AQE picks
    broadcast only when the membership is measured small; a forced
    broadcast would itself collect the membership to the driver) —
    same results (pinned by test), no data-shaped driver
    materialization. Stats stay global
    (scoped BM25 semantics, same as the relational path). Threshold
    pruning is disabled under scope: a block's top posting may lie
    outside the range, making the lower bound unachievable in scope.
    """
    spark = index.spark
    q_terms = sorted(set(tokenize_py(query)))
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not q_terms:
        return empty  # empty-query guard (reference P8, search.rs:20-22)

    scope_range: tuple[int, int] | None = None
    scope_ids: np.ndarray | None = None
    scope_semi: DataFrame | None = None
    if conv_id is not None:
        row = (
            index.docs.filter(F.col("conv_id") == conv_id)
            .agg(
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        if row["lo"] is None:
            return empty
        scope_range = (int(row["lo"]), int(row["hi"]))
        if int(row["n"]) != scope_range[1] - scope_range[0] + 1:
            cap = NONCONTIG_MEMBERSHIP_CAP if membership_cap is None else membership_cap
            if int(row["n"]) <= cap:
                # non-contiguous conversation: exact membership mask,
                # bounded by one conversation's size (≤ cap)
                scope_ids = np.array(
                    sorted(
                        r["doc_id"]
                        for r in index.docs.filter(F.col("conv_id") == conv_id)
                        .select("doc_id")
                        .collect()
                    ),
                    dtype=np.int64,
                )
            else:
                # pathological million-turn conversation: keep the
                # membership IN-PLAN — the scorer masks by the [lo, hi]
                # range only and skips per-stripe truncation (a range hit
                # outside the membership must not displace a member from
                # a stripe's local top-k), then the candidate set is
                # semi-joined against the conversation's doc_ids before
                # the global top-k. NO broadcast hint: a forced
                # F.broadcast would collect the membership to the driver
                # to build the broadcast relation — the exact
                # data-shaped driver materialization this fallback
                # exists to avoid (and past Spark's 8 GB broadcast cap
                # it would fail outright instead of degrading). Left as
                # a plain join, AQE broadcasts it only when its measured
                # size is safely small and shuffles otherwise.
                scope_semi = index.docs.filter(
                    F.col("conv_id") == conv_id
                ).select("doc_id")
        prune = False  # lb not achievable-in-scope; range skipping below

    buckets = sorted({term_bucket_of(t) for t in q_terms})
    qblocks = index.postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(q_terms)
    )
    if scope_range is not None:
        lo, hi = scope_range
        # block-range skipping: pushed to the scan via min/max stats
        qblocks = qblocks.filter(
            (F.col("max_doc") >= lo) & (F.col("min_doc") <= hi)
        )
    # idf arrives by broadcast-joining the (cached/vocab-sized) docfreq
    # restricted to the query terms — NOT a per-query driver collect:
    # this drops one Spark job per query (scheduling dominates latency
    # at serving scale; fresh stored idf stays valid across appends).
    # Absent terms simply don't join; an all-absent query falls through
    # to an empty candidate set.
    qidf = index.docfreq.filter(F.col("term").isin(q_terms)).select("term", "idf")
    qblocks = qblocks.join(F.broadcast(qidf), "term")

    avgdl = index.avgdl

    if prune:
        ub, lb = _bm25_bounds(avgdl)
        meta = qblocks.groupBy("stripe_id").agg(
            F.sum(ub).alias("ub"), F.max(lb).alias("lb")
        )
        qblocks = qblocks.join(F.broadcast(_kept_stripes(meta, k)), "stripe_id")

    stripe_docs = index.stripe_docs

    # semi-join fallback: per-stripe truncation OFF (k_local = the
    # stripe width, so every in-range hit survives to the join) —
    # candidates stay ≤ stripe_docs per stripe either way
    k_local = stripe_docs if scope_semi is not None else k

    def score_stripe(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, s = _daat_stripe_topk(
            pdf, stripe_docs, avgdl, k_local, scope_ids=scope_ids,
            scope_range=scope_range,
        )
        return pd.DataFrame({"doc_id": ids, "score": s})

    candidates = qblocks.groupBy("stripe_id").applyInPandas(
        score_stripe, schema="doc_id long, score double"
    )
    if scope_semi is not None:
        candidates = candidates.join(scope_semi, "doc_id", "left_semi")
    if round_scores:
        candidates = candidates.withColumn(
            "score", round_half_up(F.col("score"), SCORE_DECIMALS)
        )
    return candidates.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def score_topk_batch(
    index: InvertedIndex,
    queries: list[str],
    k: int = DEFAULT_TOP_K,
    round_scores: bool = True,
    prune: bool = True,
) -> DataFrame:
    """(query_id, doc_id, score): top-k for MANY queries in ONE job —
    the amortized serving shape (query replay, offline evaluation,
    batch retrieval for a training pipeline). query_id = position in
    `queries`.

    Identical per-query results to score_topk (pinned by test), but the
    postings scan happens ONCE for the union of all query terms:

      * the (query_id, term) map is broadcast and joined onto the
        blocks — a block row used by m queries is duplicated m× (block
        rows are compact; the alternative is m scans);
      * block-max stripe pruning runs PER QUERY via windows partitioned
        by query_id over the (query, stripe) metadata — each query gets
        exactly the threshold the single-query path computes;
      * per-(query, stripe) DAAT scoring in one applyInPandas, then a
        per-query window top-k.

    At 20 queries this replaces 20×(scan+schedule) with one DAG —
    scheduling dominates warm-index latency at sandbox scale, so the
    amortized per-query cost drops well under the single-query p50
    (measured in bench.py as query_batch_per_query)."""
    from pyspark.sql.window import Window

    spark = index.spark
    qterms = {qi: sorted(set(tokenize_py(q))) for qi, q in enumerate(queries)}
    pairs = [(qi, t) for qi, ts in qterms.items() for t in ts]
    empty = spark.createDataFrame([], "query_id int, doc_id long, score double")
    if not pairs:
        return empty

    all_terms = sorted({t for _, t in pairs})
    buckets = sorted({term_bucket_of(t) for t in all_terms})
    blocks = index.postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(all_terms)
    )
    qidf = index.docfreq.filter(F.col("term").isin(all_terms)).select("term", "idf")
    blocks = blocks.join(F.broadcast(qidf), "term")
    qmap = spark.createDataFrame(pairs, "query_id int, term string")
    qblocks = blocks.join(F.broadcast(qmap), "term")

    avgdl = index.avgdl
    stripe_docs = index.stripe_docs

    if prune:
        # the SAME bounds/threshold/guard as score_topk (_bm25_bounds /
        # _kept_stripes), thresholded per query via the keys argument
        ub, lb = _bm25_bounds(avgdl)
        meta = qblocks.groupBy("query_id", "stripe_id").agg(
            F.sum(ub).alias("ub"), F.max(lb).alias("lb")
        )
        kept = _kept_stripes(meta, k, keys=("query_id",))
        qblocks = qblocks.join(F.broadcast(kept), ["query_id", "stripe_id"])

    def score_stripe_q(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        ids, s = _daat_stripe_topk(pdf, stripe_docs, avgdl, k)
        return pd.DataFrame(
            {
                "query_id": np.full(ids.size, qid, dtype="int32"),
                "doc_id": ids,
                "score": s,
            }
        )

    candidates = qblocks.groupBy("query_id", "stripe_id").applyInPandas(
        score_stripe_q, schema="query_id int, doc_id long, score double"
    )
    if round_scores:
        candidates = candidates.withColumn(
            "score", round_half_up(F.col("score"), SCORE_DECIMALS)
        )
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        candidates.withColumn("_r", F.row_number().over(wfin))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def search(
    index: InvertedIndex,
    query: str,
    k: int = DEFAULT_TOP_K,
    **kw,
) -> DataFrame:
    """Top-k joined back to the stored turns — the full reference query
    pipeline shape (top-k → payload fetch → result rows with text;
    /root/reference/src/bin/app/handlers/search.rs:16-65).

    ONE collect per call (the ≤k winner rows); the returned plan fetches
    payloads with the winner ids pushed into the docs scan as an In
    filter and the k scored rows rejoined as a broadcast LOCAL relation
    — collecting the result does NOT re-run the scoring DAG (joining the
    live score_topk plan instead would re-score on materialize)."""
    rows = score_topk(index, query, k, **kw).collect()
    if not rows:
        return index.spark.createDataFrame(
            [], "doc_id long, score double, conv_id string, turn_idx int, text string"
        )
    hits = index.spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in rows],
        "doc_id long, score double",
    )
    docs = index.fetch_docs([r["doc_id"] for r in rows]).select(
        "doc_id", "conv_id", "turn_idx", "text"
    )
    return (
        docs.join(F.broadcast(hits), "doc_id")
        .select("doc_id", "score", "conv_id", "turn_idx", "text")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def more_like_this_indexed(
    index: InvertedIndex,
    orig_doc_id: int,
    m: int = 8,
    k: int = DEFAULT_TOP_K,
    id_col: str = "orig_doc_id",
) -> DataFrame:
    """Similar-document retrieval served entirely from the prebuilt
    index — the scale twin of operators/bm25.more_like_this (same
    output, pinned by the shared oracle): instead of 4 corpus rescans,
    term selection reads ONE doc row (pushed filter on the docs table)
    + the vocab-sized docfreq, and scoring runs score_topk's pruned
    posting-block path (<=|terms| of 32 term_bucket dirs).

    Term selection stays relational: the source doc's tokens explode
    from its stored text, join docfreq for df, rank by the
    tfidf_top_terms weight shape (tf x ln(N/df), half-up-rounded,
    ties to term ASC). The <=m winning terms are a bounded driver
    collect (the same k-bounded serving contract as fuzzy_spans
    winners); k+1 winners are fetched so dropping the source doc
    still leaves a full top-k page."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    n_docs = float(index.n_docs)
    src_tf = (
        index.docs.filter(F.col(id_col) == orig_doc_id)
        .select(F.explode(tokens_expr(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    weight = round_half_up(
        F.col("tf") * F.log(F.lit(n_docs) / F.col("df").cast("double")),
        SCORE_DECIMALS,
    )
    terms = [
        r["term"]
        for r in src_tf.join(index.docfreq.select("term", "df"), "term")
        .select("term", weight.alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(m)
        .collect()
    ]
    if not terms:
        return index.spark.createDataFrame([], "doc_id long, score double")
    winners = score_topk(index, " ".join(terms), k + 1)
    if id_col == "doc_id":
        return (
            winners.filter(F.col("doc_id") != orig_doc_id)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
    # broadcast the <=k+1 winner rows INTO the docs scan (two pruned
    # int columns), never the docs table itself — same in-plan id
    # mapping shape as the fuzzy_spans serving path
    return (
        index.docs.select("doc_id", id_col)
        .join(F.broadcast(winners), "doc_id")
        .filter(F.col(id_col) != orig_doc_id)
        .select(F.col(id_col).alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
