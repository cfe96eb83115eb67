"""Posting codec: delta+varbyte round-trip identity (property-based),
and refusal of any other recorded block format."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from semantic_pdf_search_engine_spark.operators import codec


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.vb_decode(codec.vb_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**31), min_size=1, max_size=300),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(gaps, base):
    # build a strictly increasing doc list from positive gaps
    doc_ids = base + np.cumsum(np.array(gaps, dtype=np.int64) + 1)
    tfs = np.arange(1, len(doc_ids) + 1, dtype=np.uint64)
    dls = tfs * 3 + 1
    g, t, d = codec.encode_block(doc_ids, tfs, dls, base)
    docs2, tfs2, dls2 = codec.decode_block(g, t, d, base)
    assert np.array_equal(docs2, doc_ids)
    assert np.array_equal(tfs2.astype(np.uint64), tfs)
    assert np.array_equal(dls2.astype(np.uint64), dls)


def test_empty():
    assert codec.vb_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.vb_decode(b"").size == 0


def test_compression_ratio():
    # dense gaps ≈1 → ~1 byte/posting vs 8 for raw int64
    docs = np.arange(0, 4096, dtype=np.int64)
    enc = codec.vb_encode(codec.delta_encode(docs))
    assert len(enc) == 4096  # one byte per gap


def test_vb_encode_groups_contract():
    flat = np.array([1, 200, 3, 70000, 5], dtype=np.uint64)
    starts = np.array([0, 2], dtype=np.int64)
    ends = np.array([2, 5], dtype=np.int64)
    buf, nbytes = codec.vb_encode_groups(flat, starts, ends)
    off = np.concatenate([[0], np.cumsum(nbytes)])
    assert np.array_equal(codec.vb_decode(buf[off[0] : off[1]]), flat[:2])
    assert np.array_equal(codec.vb_decode(buf[off[1] : off[2]]), flat[2:])


def test_load_index_rejects_foreign_codec(spark, tmp_path):
    """A manifest recording any block format other than vbyte is refused
    at load (live and snapshot handles), by append, and by decode_block
    itself."""
    from semantic_pdf_search_engine_spark.fixtures import make_transcripts
    from semantic_pdf_search_engine_spark.sources.index_store import (
        Manifest,
        append_to_index,
        build_index,
        load_index,
    )

    d = str(tmp_path / "idx")
    transcripts = spark.createDataFrame(make_transcripts(n_convs=3))
    build_index(spark, transcripts, d)
    sid = Manifest(d).data["snapshots"][-1]["snapshot_id"]
    load_index(spark, d)
    load_index(spark, d, snapshot_id=sid)

    m = Manifest(d)
    m.data["params"]["codec"] = "for"
    for snap in m.data["snapshots"]:
        snap["params"]["codec"] = "for"
    m.save()
    with pytest.raises(ValueError, match="'for'"):
        load_index(spark, d)
    with pytest.raises(ValueError, match="'for'"):
        load_index(spark, d, snapshot_id=sid)
    with pytest.raises(ValueError, match="'for'"):
        append_to_index(spark, transcripts, d)
    g, t, l = codec.encode_block(np.array([3, 5]), np.array([1, 2]), np.array([4, 4]), 0)
    with pytest.raises(ValueError, match="'for'"):
        codec.decode_block(g, t, l, 0, "for")
