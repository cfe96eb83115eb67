"""Dedup operators on corpora with PLANTED duplicates — verifies the
operators actually find near-dups, not just that SQL twins agree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr
from semantic_pdf_search_engine_spark.operators.dedup import (
    SHINGLE_N,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)


def _shingles_expr(text, n: int = SHINGLE_N):
    """Distinct token n-gram shingles as ARRAY<STRING> (1-based
    element_at — mirrors DuckDB list indexing exactly)."""
    toks = tokens_expr(text)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _doc_shingles_column(docs, id_col="doc_id", text_col="text"):
    """Column-expression spec of dedup.doc_shingles."""
    return docs.select(
        F.col(id_col), F.explode(_shingles_expr(F.col(text_col))).alias("shingle")
    )


def _simhash_column(docs, id_col="doc_id", text_col="text"):
    """Pure-Column spec of dedup.simhash — the shape the DuckDB oracle
    mirrors: 16-way bit explode + two groupBys."""
    from semantic_pdf_search_engine_spark.operators.bm25 import tf_df

    tf = tf_df(docs, id_col, text_col).withColumn(
        "h", F.md5(F.col("term").cast("binary"))
    )
    bits = tf.select(
        F.col(id_col),
        F.col("tf"),
        F.col("h"),
        F.explode(F.sequence(F.lit(1), F.lit(16))).alias("j"),
    ).withColumn(
        "nibble",
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), F.col("j"), 1)) - 1,
    ).withColumn(
        "signed", F.col("tf") * F.when(F.col("nibble") >= 8, 1).otherwise(-1)
    )
    sj = bits.groupBy(id_col, "j").agg(F.sum("signed").alias("s"))
    return (
        sj.withColumn(
            "bitval",
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("j") - 1).cast("long")).otherwise(
                F.lit(0)
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different content about spark shuffle partitions and "
            "adaptive query execution with broadcast joins everywhere"),
        (4, "another unrelated text mentioning varbyte compression of posting "
            "lists and block max wand pruning for top k retrieval"),
        (5, BASE + " extra tail words appended here"),  # superset near-dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(planted):
    out = {r["rep_id"]: r["n_dups"] for r in exact_dedup(planted).collect()}
    assert out[0] == 2  # docs 0 and 1 share a fingerprint
    assert sum(out.values()) == 6


def test_ngram_jaccard_finds_planted(planted):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(planted, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 5) in pairs
    assert not any({a, b} & {3, 4} and {a, b} <= {0, 1, 2, 5, 3, 4} and
                   ({a, b} & {0, 1, 2, 5}) for (a, b) in pairs
                   if (a in (3, 4)) != (b in (3, 4)))


def test_minhash_lsh_candidates(planted):
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(planted).collect()}
    assert (0, 1) in pairs  # exact dups always collide on every band
    # unrelated docs must not collide
    assert not any((a in (3, 4)) != (b in (3, 4)) for a, b in pairs)


def test_simhash_near_dups_close(planted):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(planted).collect()}
    def hamming(x, y):
        return bin(x ^ y).count("1")
    assert sh[0] == sh[1]
    assert hamming(sh[0], sh[2]) <= 4  # near dup → few bits differ
    assert hamming(sh[0], sh[3]) >= 3  # unrelated → many bits differ


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(0, "two words"), (1, "")], "doc_id long, text string")
    assert ngram_jaccard_pairs(df).count() == 0
    assert minhash_lsh_pairs(df).count() == 0


def test_minhash_signature_match_probability(spark):
    """MinHash core property: for documents with shingle-Jaccard s, each
    permutation's signatures agree with probability s. Build two docs
    sharing half their shingles (s = 1/3... controlled below), compute
    64 permutations, and require the empirical match fraction within
    binomial 4-sigma of s. Also pins the banding estimate
    P(candidate) = 1 - (1 - s^r)^b used to pick production params."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )

    # 40 shared tokens + 20 distinct per doc → controlled overlap
    shared = " ".join(f"common{i}" for i in range(42))
    only_a = " ".join(f"alpha{i}" for i in range(20))
    only_b = " ".join(f"beta{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{shared} {only_a}"), (2, f"{shared} {only_b}")],
        "doc_id long, text string",
    )
    sh = doc_shingles(df).toPandas()
    a = set(sh[sh.doc_id == 1].shingle)
    b = set(sh[sh.doc_id == 2].shingle)
    s = len(a & b) / len(a | b)

    n_perms = 64
    sigs = minhash_signatures(df, n_perms=n_perms).toPandas().set_index("doc_id")
    matches = sum(
        sigs.loc[1, f"sig_{i}"] == sigs.loc[2, f"sig_{i}"]
        for i in range(1, n_perms + 1)
    )
    import math

    sigma = math.sqrt(s * (1 - s) / n_perms)
    assert abs(matches / n_perms - s) <= 4 * sigma, (matches / n_perms, s)

    # banding estimate is monotone and bounded — sanity-pin the formula
    for r, bnd in [(4, 16), (8, 8)]:
        p = 1 - (1 - s**r) ** bnd
        assert 0.0 <= p <= 1.0


def test_ngram_jaccard_materialized_equals_checkpoint(spark, planted, tmp_path):
    """The production-shaped parquet-materialized shingle table must
    give the identical pair set as the localCheckpoint fast path."""
    chk = {
        (r["a"], r["b"], r["jaccard"])
        for r in ngram_jaccard_pairs(planted, threshold=0.3).collect()
    }
    mat = {
        (r["a"], r["b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            planted, threshold=0.3, materialize_dir=str(tmp_path / "sh")
        ).collect()
    }
    assert mat == chk and len(mat) > 0


def test_minhash_prod_banding_probability(spark):
    """Certify the PRODUCTION banding configuration (64 perms / 16
    bands, r=4): P(candidate | shingle-Jaccard J) must track the
    analytic banding curve 1 − (1 − J⁴)¹⁶. Pairs are constructed with
    EXACT Jaccard — m shared + u per-side unique tokens gives
    J = (m−2)/(m−2+2u) on 3-gram shingle sets — over per-pair disjoint
    vocabularies, so cross-pair candidates would be hash collisions."""
    from semantic_pdf_search_engine_spark.operators.dedup import doc_shingles

    # (m, u, expected J): high / threshold / low similarity levels
    levels = [(18, 2, 0.8), (18, 8, 0.5), (6, 11, 4 / 26)]
    n_per = 40
    rows = []
    meta = {}
    pid = 0
    for m, u, j_want in levels:
        for _ in range(n_per):
            shared = [f"p{pid}x{i}" for i in range(m)]
            a = shared + [f"p{pid}a{i}" for i in range(u)]
            b = shared + [f"p{pid}b{i}" for i in range(u)]
            rows.append((2 * pid, " ".join(a)))
            rows.append((2 * pid + 1, " ".join(b)))
            meta[pid] = j_want
            pid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # sanity: the constructed Jaccard is exactly as designed (spot-check
    # via the shingle operator itself)
    sh = {
        r["doc_id"]: set()
        for r in docs.filter(F.col("doc_id") < 4).select("doc_id").collect()
    }
    for r in doc_shingles(docs.filter(F.col("doc_id") < 4)).collect():
        sh[r["doc_id"]].add(r["shingle"])
    j01 = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    assert abs(j01 - levels[0][2]) < 1e-9

    got = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(
            docs, n_perms=64, n_bands=16, hash_family="universal"
        ).collect()
    }
    assert all(b == a + 1 for a, b in got), "cross-pair candidate (J=0) emitted"

    import math

    for m, u, j in levels:
        pids = [p for p, jw in meta.items() if jw == j]
        hit = sum((2 * p, 2 * p + 1) in got for p in pids)
        rate = hit / len(pids)
        p_true = 1 - (1 - j**4) ** 16
        sigma = math.sqrt(p_true * (1 - p_true) / len(pids))
        assert abs(rate - p_true) <= max(4 * sigma, 0.1), (
            f"J={j:.3f}: observed {rate:.3f} vs analytic {p_true:.3f}"
        )


def test_minhash_arrow_equals_sql_semantics(spark):
    """The Arrow signature path must be byte-identical to the DuckDB
    definition: min over md5('{i}:' || shingle) hex strings."""
    import duckdb

    from semantic_pdf_search_engine_spark.operators.dedup import minhash_signatures

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared words here") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        minhash_signatures(df, n_perms=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = con.execute("""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
            FROM tk WHERE len(toks) >= 3
        )
        SELECT doc_id,
               list_min(list_transform(shingles, s -> md5('1:' || s))) AS sig_1,
               list_min(list_transform(shingles, s -> md5('2:' || s))) AS sig_2,
               list_min(list_transform(shingles, s -> md5('3:' || s))) AS sig_3,
               list_min(list_transform(shingles, s -> md5('4:' || s))) AS sig_4
        FROM sh ORDER BY doc_id
    """).df().reset_index(drop=True)
    for c in ["sig_1", "sig_2", "sig_3", "sig_4"]:
        assert list(got[c]) == list(want[c]), c


def test_simhash_neardup_exact_vs_brute(spark):
    """Pigeonhole banding must find EXACTLY the pairs with Hamming ≤ 3
    (recall 1.0 — unlike probabilistic MinHash banding) on a corpus
    with planted near-identical docs."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        simhash,
        simhash_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" tail{i % 3}") for i in range(12)] + [
        (100, "completely different content about spark shuffles"),
        (101, "completely different content about spark shuffles plus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    want = {
        (a, b)
        for a in hashes
        for b in hashes
        if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    got = {(r["a"], r["b"]) for r in simhash_neardup_pairs(df).collect()}
    assert got == want


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: latest right.ts <= left.ts per key;
    equal timestamps match (inclusive); no prior right row -> nulls."""
    import datetime as dt

    from semantic_pdf_search_engine_spark.operators.temporal import asof_join

    def T(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, 7, T(10)), (2, 7, T(20)), (3, 7, T(5)), (4, 8, T(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 7, T(10), 1.5), (101, 7, T(15), 2.5), (102, 9, T(1), 9.9)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = {
        r["event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join(left, right).collect()
    }
    assert rows[1] == (100, 1.5)   # equal ts -> inclusive match
    assert rows[2] == (101, 2.5)   # latest of the two priors
    assert rows[3] == (None, None) # nothing at or before 12:05
    assert rows[4] == (None, None) # user 8 has no right rows at all


def test_asof_bucketed_equals_base_under_skew(spark):
    """asof_join_bucketed must return EXACTLY asof_join's answer while
    splitting a hot key's rows across many (key, bucket) window groups
    — including matches that reach across empty buckets (carry-in), the
    first-bucket no-match case, and equal-timestamp inclusivity."""
    import datetime as dt
    import random

    from semantic_pdf_search_engine_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    rng = random.Random(7)
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    # hot key 7: 3000 left + 400 right rows over ~60 days; cold keys
    # sparse; key 8 has right rows only DAYS before its left rows
    # (carry must cross many empty hourly buckets)
    lrows, rrows = [], []
    eid = 0
    for _ in range(3000):
        eid += 1
        lrows.append((eid, 7, t0 + dt.timedelta(seconds=rng.randrange(5_000_000))))
    for _ in range(400):
        eid += 1
        rrows.append(
            (eid, 7, t0 + dt.timedelta(seconds=rng.randrange(5_000_000)),
             round(rng.random(), 3))
        )
    for k in (8, 9):
        eid += 1
        rrows.append((eid, k, t0 + dt.timedelta(hours=1), 1.25))
        for d in (10, 20, 30):
            eid += 1
            lrows.append((eid, k, t0 + dt.timedelta(days=d)))
    eid += 1
    lrows.append((eid, 10, t0))  # key with no right rows at all
    # duplicate right timestamps on one key: max-tiebreak dedup parity
    dup_t = t0 + dt.timedelta(days=2)
    for v in (1.0, 2.0):
        eid += 1
        rrows.append((eid, 9, dup_t, v))

    left = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "event_id long, user_id long, ts timestamp, value double"
    )

    base = {
        r["event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join(left, right).collect()
    }
    bucketed = {
        r["event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join_bucketed(left, right, bucket_sec=3600).collect()
    }
    assert bucketed == base

    # the hot key genuinely splits: its rows span many window groups
    n_buckets = (
        left.filter(F.col("user_id") == 7)
        .selectExpr("floor(cast(ts as double) / 3600) b")
        .distinct()
        .count()
    )
    assert n_buckets > 100


def test_kmv_estimate_accuracy(spark):
    """KMV estimator: exact below k, within ~3/sqrt(k) relative error
    above k (k=64 → 37.5% bound; typical ~12%)."""
    from semantic_pdf_search_engine_spark.registry import q_distinct_kmv

    # build a fake events table with controlled distinct counts
    rows = []
    for et, n in [("tiny", 20), ("mid", 500), ("big", 3000)]:
        rows += [(et, u) for u in range(n)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    import tempfile
    d = tempfile.mkdtemp()
    df.selectExpr(
        "cast(1 as long) event_id", "timestamp('2026-01-01') ts",
        "user_id", "event_type", "cast(1.0 as double) value", "'x' props"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["event_type"]: r for r in q_distinct_kmv(spark, d).collect()}
    assert got["tiny"]["kmv_estimate"] == 20.0  # below k → exact
    for et, n in [("mid", 500), ("big", 3000)]:
        est = got[et]["kmv_estimate"]
        assert abs(est - n) / n < 3 / (64 ** 0.5), (et, est, n)


def test_asof_join_null_payload_not_backfilled(spark):
    """A NULL field inside the matched right row must stay NULL — the
    payload is carried as one struct, never mixed across right rows."""
    import datetime as dt

    from semantic_pdf_search_engine_spark.operators.temporal import asof_join

    def T(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, 7, T(20))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 7, T(10), 5.0), (101, 7, T(15), None)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right).collect()[0]
    assert row["r_event_id"] == 101 and row["r_value"] is None

    # NULL-key right rows never match (SQL equality semantics)
    right2 = spark.createDataFrame(
        [(100, None, T(10), 5.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row2 = asof_join(left, right2).collect()[0]
    assert row2["r_event_id"] is None

    # collision guard
    import pytest

    with pytest.raises(ValueError):
        asof_join(left.withColumnRenamed("event_id", "r_score"), right)


def test_range_join_subsecond_boundary(spark):
    """Fractional-second deltas: a pair at 300.5s must be EXCLUDED from
    a 300s window (whole-second flooring would admit it)."""
    import datetime as dt

    from semantic_pdf_search_engine_spark.operators.temporal import range_join_binned

    base = dt.datetime(2026, 1, 1, 12, 0, 0, 0, tzinfo=dt.timezone.utc)
    left = spark.createDataFrame(
        [(1, 7, base)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (100, 7, base + dt.timedelta(seconds=300, microseconds=500_000), 1.0),
            (101, 7, base + dt.timedelta(seconds=299, microseconds=999_999), 2.0),
            (102, 7, base - dt.timedelta(seconds=300), 3.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {r["r_event_id"] for r in range_join_binned(left, right, window_sec=300).collect()}
    assert got == {101, 102}  # 300.5s excluded; 299.999999s and -300s in


def test_doc_shingles_arrow_equals_column(spark, planted):
    """The Arrow shingle pass and the Column-expr spec emit the exact
    same (doc, shingle) set."""
    from semantic_pdf_search_engine_spark.operators.dedup import doc_shingles

    a = {(r["doc_id"], r["shingle"]) for r in doc_shingles(planted).collect()}
    c = {(r["doc_id"], r["shingle"]) for r in _doc_shingles_column(planted).collect()}
    assert a == c and len(a) > 0


# --- dup_passage_stats / repetition_metrics ------------------------------


def test_dup_passages_planted_shared_window(spark):
    """A 5-token passage shared by exactly two docs flags one window in
    each; a doc with no shared windows reports 0; a doc shorter than k
    tokens produces no row."""
    from semantic_pdf_search_engine_spark.operators.dedup import dup_passage_stats

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "xx alpha beta gamma delta epsilon yy"),
            (3, "unique words only here nothing shared"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_passage_stats(docs, k=5).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_windows"], got[1]["n_dup_windows"]) == (2, 1)
    assert got[1]["dup_frac"] == 0.5
    assert (got[2]["n_windows"], got[2]["n_dup_windows"]) == (3, 1)
    assert got[2]["dup_frac"] == 0.333333
    assert (got[3]["n_windows"], got[3]["n_dup_windows"]) == (2, 0)
    assert got[3]["dup_frac"] == 0.0


def test_dup_passages_intra_doc_repeat_not_cross_doc(spark):
    """A window repeated WITHIN one doc only is not a cross-doc
    duplicate under min_docs=2 — and becomes one when a second doc
    shares it."""
    from semantic_pdf_search_engine_spark.operators.dedup import dup_passage_stats

    solo = spark.createDataFrame(
        [(1, "a b c d e a b c d e")], "doc_id long, text string"
    )
    got = dup_passage_stats(solo, k=5).collect()[0]
    assert got["n_dup_windows"] == 0

    both = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "a b c d e")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_passage_stats(both, k=5).collect()}
    # doc 1: windows at offsets 0..5; "a b c d e" occurs at 0 and 5 →
    # both occurrences count once shared with doc 2
    assert got[1]["n_windows"] == 6
    assert got[1]["n_dup_windows"] == 2
    assert got[2] ["n_dup_windows"] == 1


def test_repetition_metrics_known_values(spark):
    """'a b a b a b' pins every column for n = 2, 3, 5."""
    from semantic_pdf_search_engine_spark.operators.dedup import repetition_metrics

    docs = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    got = {r["n"]: r for r in repetition_metrics(docs).collect()}
    assert (got[2]["total_ngrams"], got[2]["distinct_ngrams"], got[2]["top_count"]) == (5, 2, 3)
    assert (got[2]["top_frac"], got[2]["dup_frac"]) == (0.6, 0.6)
    assert (got[3]["total_ngrams"], got[3]["distinct_ngrams"], got[3]["top_count"]) == (4, 2, 2)
    assert (got[3]["top_frac"], got[3]["dup_frac"]) == (0.5, 0.5)
    assert (got[5]["total_ngrams"], got[5]["distinct_ngrams"], got[5]["top_count"]) == (2, 2, 1)
    assert (got[5]["top_frac"], got[5]["dup_frac"]) == (0.5, 0.0)


def test_repetition_metrics_short_docs_partial_rows(spark):
    """A doc emits a row only for n-gram sizes it can form."""
    from semantic_pdf_search_engine_spark.operators.dedup import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "one"), (2, "one two"), (3, "one two three four")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["n"]) for r in repetition_metrics(docs).collect()}
    assert got == {(2, 2), (3, 2), (3, 3)}


# --- tf_cosine_pairs ------------------------------------------------------


def test_tf_cosine_known_values(spark):
    """Identical bags → 1.0 regardless of order; disjoint bags → no
    pair; a known mixed pair pins the exact rounded value."""
    from semantic_pdf_search_engine_spark.operators.dedup import tf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),      # vector {alpha:2, beta:1}
            (2, "beta alpha alpha"),      # same bag, different order
            (3, "gamma delta"),           # disjoint
            (4, "alpha beta"),            # cos with 1: (2+1)/(sqrt5*sqrt2)
        ],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]): r["sim"] for r in tf_cosine_pairs(docs, threshold=0.0).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got and (2, 3) not in got and (3, 4) not in got
    import math
    expect = math.floor(3 / (math.sqrt(5) * math.sqrt(2)) * 1e6 + 0.5) / 1e6
    assert got[(1, 4)] == expect == 0.948683


def test_tf_cosine_hot_term_cutoff(spark):
    """Terms above max_term_df are dropped from numerator AND norms:
    docs sharing only a hot term form no pair, and surviving sims are
    computed over the reduced vocabulary."""
    from semantic_pdf_search_engine_spark.operators.dedup import tf_cosine_pairs

    docs = spark.createDataFrame(
        [(i, "common uniq%d" % i) for i in range(4)],
        "doc_id long, text string",
    )
    # 'common' has df=4 > max_term_df=3 → dropped; remaining vectors
    # are disjoint singletons → no pairs at all
    got = tf_cosine_pairs(docs, threshold=0.0, max_term_df=3).collect()
    assert got == []
    # with the cutoff relaxed every pair shares exactly 'common':
    # sim = 1/(sqrt2*sqrt2) = 0.5
    got = {
        (r["a"], r["b"]): r["sim"]
        for r in tf_cosine_pairs(docs, threshold=0.0, max_term_df=10).collect()
    }
    assert len(got) == 6 and all(v == 0.5 for v in got.values())


# --- property tests (hypothesis) -----------------------------------------


def test_dup_passages_matches_python_twin_property(spark):
    """dup_passage_stats == a brute-force python fold over random small
    corpora drawn from a tiny alphabet (maximizing window collisions)."""
    import random

    from semantic_pdf_search_engine_spark.operators.dedup import dup_passage_stats

    rng = random.Random(7)
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice("ab cd ef gh".split()) for _ in range(rng.randint(0, 12))))
            for i in range(12)
        ]
        k = 3
        # python twin
        wins = {}
        for i, t in docs:
            toks = t.split()
            wins[i] = [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
        from collections import Counter

        owner = {}
        for i, ws in wins.items():
            for w in set(ws):
                owner.setdefault(w, set()).add(i)
        dup = {w for w, o in owner.items() if len(o) >= 2}
        want = {
            i: (len(ws), sum(1 for w in ws if w in dup))
            for i, ws in wins.items()
            if len(ws) >= 1
        }
        got = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in dup_passage_stats(
                spark.createDataFrame(docs, "doc_id long, text string"), k=k
            ).collect()
        }
        assert got == want, f"trial {trial}"


# --- connected components / dedup_clusters --------------------------------


def test_dedup_clusters_transitive_chain(spark):
    """A chain a-b, b-c clusters all three to min id even though a and
    c never share a pair (the transitive-closure property pair lists
    alone don't give); disconnected docs stay their own kept
    singletons."""
    from semantic_pdf_search_engine_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, "t") for i in (1, 2, 3, 7, 8, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 8)], "a long, b long"
    )
    got = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {
        1: (1, 1),
        2: (1, 0),
        3: (1, 0),
        7: (7, 1),
        8: (7, 0),
        9: (9, 1),
    }
    # method="star" must produce the identical decision
    star = {
        r["doc_id"]: (r["cluster_rep"], r["keep"])
        for r in dedup_clusters(docs, pairs, method="star").collect()
    }
    assert star == got


def test_connected_components_long_chain_converges(spark):
    """A 20-node path graph (worst diameter shape) still converges to
    one component within the iteration budget."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        connected_components,
    )

    n = 20
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in connected_components(ids, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_falls_back_to_star_on_budget(spark):
    """Exhausting the min-label diameter budget must auto-fall back to
    star contraction and return the COMPLETE correct labeling — never a
    partial one (which would keep duplicate docs), and no longer an
    error (round-3 behavior)."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        connected_components,
    )

    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    # max_iter=3 < diameter 11: min-label cannot finish; star must
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(ids, pairs, max_iter=3).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_star_chain_logn_rounds(spark):
    """The adversarial shape from VERDICT r3 'missing' #3: a 10k-node
    PATH graph (diameter 9,999 — min-label would need ~10k rounds).
    Star contraction must converge within a logarithmic round budget
    (log2(10k) ≈ 13.3; budget 30 rounds ≪ diameter) to a single
    component labeled by the minimum node."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        connected_components_star,
    )

    n = 10_000
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = (
        spark.range(n - 1)
        .selectExpr("id as a", "id + 1 as b")
    )
    res = connected_components_star(ids, pairs, max_iter=30)
    agg = res.groupBy("cluster_rep").count().collect()
    assert len(agg) == 1
    assert agg[0]["cluster_rep"] == 0 and agg[0]["count"] == n


def test_connected_components_star_equals_minlabel(spark):
    """Star contraction and min-label propagation agree exactly on a
    mixed graph: two cliques, a bridge chain, singletons, and a
    star-shaped component (deterministic edge list)."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique 0-4
        + [(10, 11), (11, 12), (12, 13)]  # chain
        + [(4, 10)]  # bridge: joins clique to chain
        + [(20, 21), (20, 22), (20, 23)]  # star at 20
        # 30, 31 are singletons (in ids, no edges)
    )
    ids = spark.createDataFrame(
        [(i,) for i in list(range(5)) + list(range(10, 14))
         + list(range(20, 24)) + [30, 31]],
        "doc_id long",
    )
    pairs = spark.createDataFrame(edges, "a long, b long")
    a = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(ids, pairs).collect()
    }
    b = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components_star(ids, pairs).collect()
    }
    assert a == b
    assert b[13] == 0 and b[23] == 20 and b[30] == 30 and b[31] == 31


def test_connected_components_star_string_ids(spark):
    """Star contraction must stay type-generic like min-label: string
    ids (content-hash fingerprints are a normal id choice for dedup)
    must cluster correctly — the former cast-to-long would null every
    edge and silently label all docs singletons (keeping every
    duplicate)."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    ids = spark.createDataFrame(
        [("ha",), ("hb",), ("hc",), ("hz",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("ha", "hb"), ("hb", "hc")], "a string, b string"
    )
    want = {"ha": "ha", "hb": "ha", "hc": "ha", "hz": "hz"}
    got_star = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components_star(ids, pairs).collect()
    }
    assert got_star == want
    # the auto-fallback path (min-label budget exhausted) inherits it
    got_fb = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(ids, pairs, max_iter=1).collect()
    }
    assert got_fb == want


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """In a 2-doc near-dup cluster where the HIGHER id has the higher
    quality, keep-best lands on it (min-id dedup_clusters would pick
    the other); duplicates carry its id as canonical_id; singletons
    keep themselves."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.operators.dedup import dedup_keep_best

    rows = [
        (1, "short text"),
        (2, "this is a much longer and cleaner duplicate of the page "
            "with the same content and plenty of words in it"),
        (3, "an unrelated singleton document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    quality = F.length("text").cast("double")  # proxy: longer = better
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs, quality).collect()}
    assert out[2]["keep"] == 1 and out[1]["keep"] == 0
    assert out[1]["canonical_id"] == 2 and out[2]["canonical_id"] == 2
    assert out[1]["cluster_rep"] == out[2]["cluster_rep"] == 1  # label stays min-id
    assert out[3]["keep"] == 1 and out[3]["canonical_id"] == 3


def test_minhash_prod_sql_generator_other_params(spark, sf_dir):
    """_minhash_prod_sql is a GENERATOR: pin it at a second parameter
    point (8 perms / 4 bands) so the 64/16 registry instance isn't the
    only shape it's ever been right for. Engine and DuckDB twin must
    agree on the exact candidate-pair set."""
    import duckdb

    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.operators.dedup import minhash_lsh_pairs
    from semantic_pdf_search_engine_spark.registry import _minhash_prod_sql

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 1000)
    )
    got = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(
            docs, n_perms=8, n_bands=4, hash_family="universal"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {(a, b) for a, b in con.execute(_minhash_prod_sql(8, 4)).fetchall()}
    assert got == want
    assert len(got) > 0  # the 31-word fixture vocab guarantees candidates


def test_simhash_arrow_equals_column_spec(spark, sf_dir):
    """The per-doc Arrow fingerprint pass (zero shuffles) must agree
    EXACTLY with the pure-Column spec the DuckDB oracle mirrors —
    including dropping zero-token docs."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
        # force the zero-token branch too
        .unionByName(
            spark.createDataFrame(
                [(99990, ""), (99991, None), (99992, "  ,, !! ")],
                "doc_id long, text string",
            )
        )
    )
    a = {(r["doc_id"], r["simhash"]) for r in simhash(docs).collect()}
    c = {(r["doc_id"], r["simhash"]) for r in _simhash_column(docs).collect()}
    assert a == c
    assert all(did < 99990 for did, _ in a)  # tokenless docs have no row
