"""Seeded benchmark inputs and the oracle answers they are checked against.

Every input is a pure function of the seed and is written to parquet
before any clock starts. Oracle answers come from the repo's own specs:
`oracle.BM25Oracle` for the index paths and the registry's DuckDB
`ORACLE_SQL` twins for the retrieval suite.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from semantic_pdf_search_engine_spark.config import SCORE_DECIMALS
from semantic_pdf_search_engine_spark.oracle import BM25Oracle

# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def read_frame(path: Path) -> pd.DataFrame:
    return pq.read_table(str(path)).to_pandas()


def write_frame(frame: pd.DataFrame, path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(frame, preserve_index=False),
        str(path / "part-0.parquet"),
        coerce_timestamps="us",  # Spark reads microsecond timestamps
    )


def expected_docs(segments: list[pd.DataFrame]) -> pd.DataFrame:
    """doc_id assignment the index must reproduce: the first segment is
    numbered by (conv_id, turn_idx), each later segment the same way,
    offset past the docs before it."""
    out, n = [], 0
    for seg in segments:
        seg = seg.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        seg = seg.assign(doc_id=np.arange(n, n + len(seg), dtype=np.int64))
        out.append(seg[["doc_id", "conv_id", "turn_idx", "text"]])
        n += len(seg)
    return pd.concat(out, ignore_index=True)


def text_bytes(frame: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in frame["text"]))


def round_score(x: float) -> float:
    scale = 10.0**SCORE_DECIMALS
    return math.floor(x * scale + 0.5) / scale


class RankOracle:
    """Top-k answers from the pinned BM25 oracle over a known doc set:
    the same doc_ids and 6-decimal scores, ties to ascending doc_id.
    A scoped answer keeps global corpus statistics and restricts the
    candidates to the conversation's docs."""

    def __init__(self, docs: pd.DataFrame):
        ids = docs["doc_id"].tolist()
        self.bm25 = BM25Oracle(list(zip(ids, docs["text"].tolist())))
        self.text = dict(zip(ids, docs["text"].tolist()))
        self.members = docs.groupby("conv_id")["doc_id"].apply(set).to_dict()
        self._scores: dict[str, dict[int, float]] = {}

    def top_k(self, query: str, k: int, conv: str | None = None):
        if query not in self._scores:
            self._scores[query] = self.bm25.score_all(query)
        items = self._scores[query].items()
        if conv is not None:
            scope = self.members.get(conv, set())
            items = [(d, s) for d, s in items if d in scope]
        ranked = sorted(((d, round_score(s)) for d, s in items), key=lambda x: (-x[1], x[0]))
        return ranked[:k]

    def check(self, query: str, k: int, got, conv: str | None = None) -> str | None:
        """`got`: [(doc_id, score, text-or-None)] in result order. Returns
        a description of the first difference, or None."""
        want = self.top_k(query, k, conv)
        pairs = [(int(d), float(s)) for d, s, _ in got]
        if pairs != want:
            return f"query {query!r} conv={conv}: got {pairs[:3]}.. want {want[:3]}.."
        for d, _, text in got:
            if text is not None and text != self.text[int(d)]:
                return f"query {query!r}: text of doc {d} differs from the input"
        return None


# ---------------------------------------------------------------------------
# retrieval-suite corpus
# ---------------------------------------------------------------------------

# The registry's fixed query constants (flagship terms, the `s` prefix,
# `grup` -> group/dup, synonyms, `sow filtr`) are written against this
# 30-word vocabulary plus one rare term.
SUITE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SUITE_RARE = "dup"
SUITE_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
SUITE_SOURCES = 20
EMBED_DIM = 64


def write_suite_corpus(sf_dir: Path, n_docs: int, seed: int) -> None:
    """`documents` and `embeddings` tables in the registry's schema."""
    rng = np.random.default_rng(seed)
    vocab = np.array(SUITE_VOCAB)
    texts = []
    for n_words in rng.integers(10, 101, size=n_docs):
        words = rng.choice(vocab, size=int(n_words))
        words[rng.random(int(n_words)) < 0.001] = SUITE_RARE
        texts.append(" ".join(words))
    langs, p = SUITE_LANGS
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(langs, size=n_docs, p=p), pa.string()),
            "source": pa.array([f"src{i % SUITE_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_vec = max(1, n_docs * 2 // 5)
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_vec), pa.int32()),
        }
    )
    sf_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(documents, str(sf_dir / "documents.parquet"))
    pq.write_table(embeddings, str(sf_dir / "embeddings.parquet"))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The repo's DuckDB gate: columns sorted by name, rows sorted,
    floats equal within 1e-9 (both sides round to 6 decimals), every
    other value equal as text."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g, w = g.astype(float).to_numpy(), w.astype(float).to_numpy()
            bad = ~((np.abs(g - w) < 1e-9) | (np.isnan(g) & np.isnan(w)))
        else:
            bad = (g.astype(str) != w.astype(str)).to_numpy()
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"{c}[{i}]: {g[i]!r} != {w[i]!r}"
    return None
