"""The engine's Arrow tokenize+TF pass must agree EXACTLY with the
pure-JVM Column-expression spec on artifact-noised corpora."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.fixtures import make_transcripts
from semantic_pdf_search_engine_spark.functions.normalize import normalize_expr
from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr
from semantic_pdf_search_engine_spark.operators.docids import assign_doc_ids
from semantic_pdf_search_engine_spark.operators.postings import term_frequencies


def _term_frequencies_jvm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Reference spec: normalize_expr + tokens_expr + explode + hash
    aggregate, entirely whole-stage codegen — zero Python."""
    ft = tokens_expr(normalize_expr(F.col(text_col)))  # tokens_expr lowers
    return (
        docs.select("doc_id", ft.alias("_ft"))
        .select(
            "doc_id",
            F.size("_ft").cast("int").alias("dl"),
            F.explode("_ft").alias("term"),
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").cast("int").alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )


def test_jvm_equals_arrow(spark):
    docs = assign_doc_ids(spark.createDataFrame(make_transcripts(n_convs=25)))
    docs.persist()
    key = lambda r: (r["doc_id"], r["term"])
    jvm = sorted(
        ((r["doc_id"], r["term"], r["tf"], r["dl"])
         for r in _term_frequencies_jvm(docs).collect())
    )
    arrow = sorted(
        ((r["doc_id"], r["term"], r["tf"], r["dl"])
         for r in term_frequencies(docs).collect())
    )
    assert jvm == arrow
    docs.unpersist()


# --- boolean_search -------------------------------------------------------


def test_boolean_search_semantics(spark):
    """must = conjunctive, must_not = exclusion, should adds score but
    never qualifies a doc on its own; scores match bm25_topk over the
    same term set on the surviving candidates."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.operators.bm25 import (
        bm25_topk,
        boolean_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta bad gamma"),
            (3, "alpha gamma gamma"),   # missing beta → excluded
            (4, "beta gamma"),          # missing alpha → excluded
            (5, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in boolean_search(
            docs, must=["alpha", "beta"], should=["gamma"], must_not=["bad"]
        ).collect()
    }
    assert set(got) == {1, 5}
    # scores equal the disjunctive bm25 over the same terms, restricted
    # to the boolean survivors (global stats both sides)
    full = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, "alpha beta gamma", k=10).collect()
    }
    assert got == {i: full[i] for i in (1, 5)}


def test_boolean_search_empty_must_guard(spark):
    from semantic_pdf_search_engine_spark.operators.bm25 import boolean_search

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert boolean_search(docs, must=["  ..  "]).count() == 0


def test_tf_dl_fused_equals_separate(spark):
    """r6: bm25.tf_dl_df (dl carried through the aggregation key, one
    tokenization, explode_outer) must equal tf_df joined with dl_df on
    every (doc, term) — and its NULL-term rows (empty docs) must never
    change that projection."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.operators.bm25 import (
        dl_df,
        tf_df,
        tf_dl_df,
    )

    docs = (
        assign_doc_ids(spark.createDataFrame(make_transcripts(n_convs=25)))
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(10**12, ""), (10**12 + 1, None)], "doc_id long, text string"
            )
        )
    )
    fused = sorted(
        (r["doc_id"], r["term"], r["tf"], r["dl"])
        for r in tf_dl_df(docs).collect()
        if r["term"] is not None
    )
    sep = sorted(
        (r["doc_id"], r["term"], r["tf"], r["dl"])
        for r in tf_df(docs).join(dl_df(docs), "doc_id").collect()
    )
    assert fused == sep
