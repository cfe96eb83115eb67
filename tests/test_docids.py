"""Stable docID invariants (FIXTURES.md): dense rank over
(conv_id, turn_idx), permutation-invariant to input partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_pdf_search_engine_spark.fixtures import make_transcripts
from semantic_pdf_search_engine_spark.operators.docids import ORDER_COLS, assign_doc_ids


def _assign_doc_ids_small(df, order_cols=ORDER_COLS):
    """Window-based spec: single-partition sort, small data only."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("doc_id", F.row_number().over(w).cast("long") - F.lit(1))


def _collect_ids(df):
    return {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in df.select("conv_id", "turn_idx", "doc_id").collect()
    }


def test_matches_window_spec(spark):
    pdf = make_transcripts(n_convs=20)
    df = spark.createDataFrame(pdf)
    got = _collect_ids(assign_doc_ids(df, num_partitions=7))
    want = _collect_ids(_assign_doc_ids_small(df))
    assert got == want


def test_permutation_invariant(spark):
    pdf = make_transcripts(n_convs=15)
    df = spark.createDataFrame(pdf)
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=9).reset_index(drop=True)
    ).repartition(13)
    a = _collect_ids(assign_doc_ids(df, num_partitions=4))
    b = _collect_ids(assign_doc_ids(shuffled, num_partitions=11))
    assert a == b


def test_dense_contiguous(spark):
    pdf = make_transcripts(n_convs=10)
    df = spark.createDataFrame(pdf)
    ids = sorted(r["doc_id"] for r in assign_doc_ids(df).select("doc_id").collect())
    assert ids == list(range(len(pdf)))
