"""The benchmark's two workloads, each a closed loop with one client.

index  one transcript index through its life: build, an append
       followed by a cold query, compaction, then prepare() and the
       reference's search request (one in four scoped to a
       conversation); the traced run adds one score_topk_batch call
suite  the 18 relational retrieval registry queries plus
       more_like_this_indexed over a generated `documents` table

Every timed operation is recorded with its wall and CPU time and is
checked after the clock stops; a raising or wrong operation counts in
`failed`. The timed end-to-end figures are CPU seconds of the whole
process tree (driver, JVM, Python workers): on a shared host, time
the host steals from the VM moves wall-clock figures by a third between
runs of the same code, and CPU time far less (perfbench/README.md).
"""

from __future__ import annotations

import itertools
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
import proctree
from semantic_pdf_search_engine_spark import registry
from semantic_pdf_search_engine_spark.fixtures import make_queries, make_transcripts
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
from semantic_pdf_search_engine_spark.operators.codec import decode_block
from semantic_pdf_search_engine_spark.operators.spans import refine_spans
from semantic_pdf_search_engine_spark.plans.query import (
    score_topk,
    score_topk_batch,
    search,
)
from semantic_pdf_search_engine_spark.sources.index_store import (
    Manifest,
    append_to_index,
    build_index,
    compact_index,
    load_index,
    term_bucket_of,
)
from tracing import Tracer

K = 10
CYCLE = 8  # search requests per cycle of the index workload

SIZES = {
    "full": {
        "convs": 200,
        "segments": 1,
        "segment_convs": 50,
        "batch_queries": 200,
        "suite_docs": 600,
    },
    "tiny": {
        "convs": 12,
        "segments": 2,
        "segment_convs": 3,
        "batch_queries": 12,
        "suite_docs": 200,
    },
}

SUITE_QUERIES = (
    "bm25_topk bm25_scoped boolean_search boolean_msm search_collapse "
    "search_facets search_histogram search_page2 term_snippets best_passage "
    "hybrid_rrf more_like_this prf_expand prf_search fuzzy_search "
    "synonym_search wildcard_search regex_search more_like_this_indexed"
).split()

END_TO_END = {
    "request_cpu_ms": "ms",
    "write_cpu_s": "s",
    "setup_s": "s",
    "index_bytes_per_text_byte": "ratio",
}

PER_LAYER = {
    "host.steal_pct": "%",
    "host.load_avg_1m": "count",
    "host.peak_rss_mb": "MB",
    "wall.request_p50_ms": "ms",
    "wall.write_s": "s",
    "wall.setup_s": "s",
    "trace.request_ms": "ms",
    "trace.coverage_pct": "%",
    "trace.overhead_pct": "%",
    "tokenize.us_per_query": "us",
    "query.score_topk_ms": "ms",
    "query.score_topk_jobs": "count",
    "query.score_topk_tasks": "count",
    "query.scoped_score_topk_ms": "ms",
    "query.batch_ms_per_query": "ms",
    "query.batch_jobs": "count",
    "query.postings_per_query": "count",
    "query.hits_per_query": "count",
    "codec.decode_ms_per_query": "ms",
    "codec.postings_decoded_per_query": "count",
    "index_store.fetch_docs_ms": "ms",
    "index_store.fetch_docs_jobs": "count",
    "index_store.prepare_s": "s",
    "index_store.append_s": "s",
    "index_store.cold_query_ms": "ms",
    "index_store.block_rows_per_term_stripe_appended": "ratio",
    "index_store.block_rows_per_term_stripe_compacted": "ratio",
    "index_store.compact_s": "s",
    "index_store.compact_bytes_rewritten": "B",
    "build.docs_s": "s",
    "build.tf_s": "s",
    "build.docfreq_s": "s",
    "build.postings_s": "s",
    "build.jobs": "count",
    "build.postings_bytes": "B",
    "build.compression_ratio": "ratio",
    "spans.refine_ms": "ms",
    "spans.jobs": "count",
    **{f"suite.{q}_ms": "ms" for q in SUITE_QUERIES},
    **{f"suite.{q}_jobs": "count" for q in SUITE_QUERIES},
}


def median(xs, scale: float = 1.0) -> float:
    return statistics.median(xs) * scale if xs else 0.0


def mean_cpu(attempts, scale: float = 1.0) -> float:
    """Mean CPU seconds of (result, wall, cpu) attempts."""
    return statistics.fmean(a[2] for a in attempts) * scale if attempts else 0.0


class Bench:
    """State of one run: session, inputs dir, clock, tracer, op counts."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, trace: bool, tiny: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES["tiny" if tiny else "full"]
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    def span(self, name: str, request: int | None = None):
        return self.tracer.span(name, request) if self.tracer else nullcontext()

    def attempt(self, fn):
        """Run one timed operation: (result, wall seconds, CPU seconds),
        or None if it raised."""
        self.attempted += 1
        c0, t0 = proctree.cpu_seconds(), time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        t1 = time.perf_counter()
        return out, t1 - t0, proctree.cpu_seconds() - c0

    def check(self, problem: str | None) -> None:
        if problem:
            print(f"perfbench: wrong result: {problem}", file=sys.stderr)
            self.failed += 1

    def loop(self, items, min_ops: int):
        """Cycle through `items` until `seconds` have passed and at least
        `min_ops` items were taken."""
        deadline = time.perf_counter() + self.seconds
        for i, item in enumerate(itertools.cycle(items)):
            if i >= min_ops and time.perf_counter() >= deadline:
                return
            yield i, item

    def build_layers(self, index_dir: str) -> None:
        m = Manifest(index_dir).data
        stages, met = m["stages"], m["metrics"]
        for stage in ("docs", "tf", "docfreq", "postings"):
            self.layer[f"build.{stage}_s"] = stages[stage]["duration_sec"]
        self.layer["build.postings_bytes"] = met["postings_bytes"]
        self.layer["build.compression_ratio"] = met["compression_ratio_vs_raw16B"]
        if self.tracer:
            self.layer["build.jobs"] = median([s.jobs for s in self.tracer.named("build")])


def live_index_bytes(index_dir: str) -> int:
    """On-disk bytes of the tables the manifest currently points at."""
    params = Manifest(index_dir).data["params"]
    return sum(
        f.stat().st_size
        for base in ("docs", "tf", "docfreq", "postings")
        for f in (Path(index_dir) / params.get(f"{base}_rel", base)).rglob("*.parquet")
    )


class BlockReader:
    """A query's posting blocks read with pyarrow through the manifest,
    for timing the codec's `decode_block` outside Spark."""

    def __init__(self, index_dir: str):
        p = Manifest(index_dir).data["params"]
        self.codec = p.get("codec", "vbyte")
        self.stripe_docs = p["stripe_docs"]
        self.postings = ds.dataset(
            f"{index_dir}/{p.get('postings_rel', 'postings')}",
            format="parquet",
            partitioning="hive",
        )
        df = pq.read_table(f"{index_dir}/{p.get('docfreq_rel', 'docfreq')}", columns=["term", "df"])
        self.df = dict(zip(df.column("term").to_pylist(), df.column("df").to_pylist()))

    def postings_df(self, terms) -> int:
        return sum(self.df.get(t, 0) for t in terms)

    def decode(self, terms) -> tuple[float, int]:
        """(seconds decoding, postings decoded) for the terms' blocks."""
        if not terms:
            return 0.0, 0
        tbl = self.postings.to_table(
            columns=["stripe_id", "gaps", "tfs", "dls"],
            filter=ds.field("term_bucket").isin(sorted({term_bucket_of(t) for t in terms}))
            & ds.field("term").isin(sorted(terms)),
        )
        cols = [tbl.column(c).to_pylist() for c in ("stripe_id", "gaps", "tfs", "dls")]
        n = 0
        t0 = time.perf_counter()
        for stripe, gaps, tfs, dls in zip(*cols):
            docs, _, _ = decode_block(gaps, tfs, dls, stripe * self.stripe_docs, self.codec)
            n += docs.size
        return time.perf_counter() - t0, n


def query_layers(b: Bench, reader: BlockReader, queries, hits) -> None:
    """Workload properties and codec decode cost per query."""
    decode_s, decoded, postings = [], [], []
    for q in queries:
        terms = sorted(set(tokenize_py(q)))
        with b.span("codec.decode"):
            dt, n = reader.decode(terms)
        decode_s.append(dt)
        decoded.append(n)
        postings.append(reader.postings_df(terms))
    b.layer["codec.decode_ms_per_query"] = median(decode_s, 1e3)
    b.layer["codec.postings_decoded_per_query"] = median(decoded)
    b.layer["query.postings_per_query"] = median(postings)
    b.layer["query.hits_per_query"] = median(hits)


def trace_layers(b: Bench, root: str, plain_s: list[float]) -> None:
    tr = b.tracer
    roots = [s.seconds for s in tr.named(root)]
    b.layer["trace.request_ms"] = median(roots, 1e3)
    b.layer["trace.coverage_pct"] = tr.coverage(root) * 100.0
    if plain_s and roots:
        b.layer["trace.overhead_pct"] = (median(roots) / median(plain_s) - 1.0) * 100.0


# ---------------------------------------------------------------------------
# index: serve, batch scoring, appends and compaction on one index
# ---------------------------------------------------------------------------


def _request(idx, q: str, conv: str | None):
    """The reference's search request: top-10, stored text, highlight spans."""
    return refine_spans(search(idx, q, K, conv_id=conv), q).collect()


def _traced_request(b: Bench, idx, q: str, conv: str | None, rid: int):
    """The same request, one collect per layer, each inside its span."""
    with b.span("request", rid):
        with b.span("tokenize"):
            tokenize_py(q)
        with b.span("query.scoped_score_topk" if conv else "query.score_topk"):
            hits = score_topk(idx, q, K, conv_id=conv).collect()
        if not hits:
            return []
        with b.span("index_store.fetch_docs"):
            stored = {
                r["doc_id"]: r
                for r in idx.fetch_docs([h["doc_id"] for h in hits])
                .select("doc_id", "conv_id", "turn_idx", "text")
                .collect()
            }
        with b.span("spans.refine"):
            rows = [
                (h["doc_id"], h["score"], *(stored[h["doc_id"]][c] for c in ("conv_id", "turn_idx", "text")))
                for h in hits
            ]
            local = b.spark.createDataFrame(
                rows, "doc_id long, score double, conv_id string, turn_idx int, text string"
            )
            return refine_spans(local, q).collect()


def _batch(b: Bench, idx, queries: list[str]):
    """Traced run only: one score_topk_batch call, checked per query."""
    r = b.attempt(lambda: _span_call(b, "query.batch", lambda: score_topk_batch(idx, queries, K).collect()))
    if r is None:
        return []
    by_q: dict[int, list] = {qi: [] for qi in range(len(queries))}
    for row in r[0]:
        by_q[row["query_id"]].append((row["doc_id"], row["score"], None))
    for got in by_q.values():
        got.sort(key=lambda x: (-x[1], x[0]))
    return [(queries[qi], None, got) for qi, got in by_q.items()]


def _block_rows_per_term_stripe(index_dir: str) -> float:
    rel = Manifest(index_dir).data["params"].get("postings_rel", "postings")
    tbl = ds.dataset(f"{index_dir}/{rel}", format="parquet", partitioning="hive").to_table(
        columns=["term", "stripe_id"]
    )
    keys = tbl.group_by(["term", "stripe_id"]).aggregate([])
    return tbl.num_rows / max(1, keys.num_rows)


def _compaction_bytes(index_dir: str) -> int:
    """Bytes the compaction wrote: the merged postings plus any docs/tf
    tables it rewrote (stages re-recorded with `compacted_from`)."""
    stages = Manifest(index_dir).data["stages"]
    return sum(
        st.get("total_bytes", 0)
        for name, st in stages.items()
        if name.startswith("compact_") or "compacted_from" in st
    )


def _span_call(b: Bench, name: str, fn, *args, **kw):
    with b.span(name):
        return fn(*args, **kw)


def _write_inputs(b: Bench):
    """Base conversations plus append segments of new ones; the last
    segment also adds turns to an existing conversation, so that
    conversation's docIDs stop being contiguous. Returns the frames
    (base first), the segment paths and the grown conv_id."""
    s = b.size
    n, n_seg, per_seg = s["convs"], s["segments"], s["segment_convs"]
    everything = make_transcripts(n + n_seg * per_seg, b.seed)
    conv_no = everything["conv_id"].str[4:].astype(int)
    grown = f"conv{int(np.random.default_rng(b.seed).integers(n)):08d}"
    frames = [everything[conv_no < n]]
    for j in range(n_seg):
        lo = n + j * per_seg
        frames.append(everything[(conv_no >= lo) & (conv_no < lo + per_seg)])
    donor = frames[-1][frames[-1]["conv_id"] == f"conv{n + (n_seg - 1) * per_seg:08d}"]
    extra = donor.assign(
        conv_id=grown,
        turn_idx=(donor["turn_idx"] + int((frames[0]["conv_id"] == grown).sum())).astype("int32"),
    )
    frames[-1] = pd.concat([frames[-1], extra], ignore_index=True)
    paths = [b.work / "base"] + [b.work / f"seg{j}" for j in range(n_seg)]
    for frame, path in zip(frames, paths):
        inputs.write_frame(frame, path)
    return frames, paths[1:], grown


def index(b: Bench, session: tuple[float, float]) -> dict:
    spark, s = b.spark, b.size
    frames, seg_paths, grown = _write_inputs(b)
    rng = np.random.default_rng(b.seed + 1)
    convs = sorted(frames[0]["conv_id"].unique())
    # Requests run in whole cycles with one fixed mix: make_queries' six
    # kinds, then its first two again. The 4th is scoped to a seeded
    # conversation (one docID range), the 8th to the conversation the
    # append grew (a membership mask). A cycle cut short would change
    # the mix, and the mean with it.
    cycles = [
        [
            (q, None if i % 4 != 3 else str(rng.choice(convs)) if i < 4 else grown)
            for i, q in enumerate(make_queries(CYCLE, b.seed * 1000 + c))
        ]
        for c in range(16)
    ]
    later = make_queries(s["segments"], b.seed + 1)
    batch_queries = make_queries(s["batch_queries"], b.seed + 2)
    index_dir = str(b.work / "index")
    base = spark.read.parquet(str(b.work / "base"))
    checks = []  # (frames visible, query, conv, [(doc_id, score, text)])

    # -- set-up: the build is also the first write
    r = b.attempt(lambda: _span_call(b, "build", build_index, spark, base, index_dir, resume=False))
    if r is None:
        raise RuntimeError("index build failed; nothing to serve")
    setup = [session, r[1:]]  # (wall, cpu) of each set-up phase
    writes = [r]  # (result, wall, cpu) of the build, appends, compaction

    # -- timed: appends, each followed by a cold query, then compaction
    append_s, cold_s = [], []
    segments = [spark.read.parquet(str(p)) for p in seg_paths]
    for j, seg in enumerate(segments):
        ra = b.attempt(
            lambda: _span_call(b, "index_store.append", append_to_index, spark, seg, index_dir)
        )
        rq = b.attempt(
            lambda: _span_call(b, "index_store.cold_query", lambda: search(load_index(spark, index_dir), later[j], K).collect())
        )
        if ra:
            writes.append(ra)
            append_s.append(ra[1])
        if rq:
            cold_s.append(rq[1])
            checks.append((j + 2, later[j], None, [(x["doc_id"], x["score"], x["text"]) for x in rq[0]]))
    rows_appended = _block_rows_per_term_stripe(index_dir)
    rc = b.attempt(lambda: _span_call(b, "index_store.compact", compact_index, spark, index_dir))
    if rc:
        writes.append(rc)

    # -- set-up of serving: prepare() the compacted index, then one
    # unchecked request, as prepare() warms the scoring plan but not the
    # payload fetch and span refinement after it
    c0, t0 = proctree.cpu_seconds(), time.perf_counter()
    idx = load_index(spark, index_dir)
    with b.span("index_store.prepare"):
        t1 = time.perf_counter()
        idx.prepare()
        b.layer["index_store.prepare_s"] = time.perf_counter() - t1
    _request(idx, make_queries(1, b.seed + 3)[0], None)
    setup.append((time.perf_counter() - t0, proctree.cpu_seconds() - c0))
    b.build_layers(index_dir)

    # -- timed: interactive requests on the prepared index
    requests, plain = [], []  # (result, wall, cpu) of the plain requests
    for c, cycle in b.loop(cycles, 1):
        for i, (q, conv) in enumerate(cycle, start=c * CYCLE):
            # the traced run alternates which of the plain and the traced
            # request goes first
            order = (False,) if b.tracer is None else ((False, True) if i % 2 == 0 else (True, False))
            for traced in order:
                if traced:
                    r = b.attempt(lambda: _traced_request(b, idx, q, conv, i))
                else:
                    r = b.attempt(lambda: _request(idx, q, conv))
                    if r:
                        (requests if b.tracer is None else plain).append(r)
                if r:
                    checks.append((len(frames), q, conv, [(x["doc_id"], x["score"], x["text"]) for x in r[0]]))
    if b.tracer:
        checks += [(len(frames), *c) for c in _batch(b, idx, batch_queries)]
        # workload properties and codec decode cost on the served index
        served = [c for c in checks if c[0] == len(frames)]
        query_layers(b, BlockReader(index_dir), [c[1] for c in served], [len(c[3]) for c in served])
    idx.unpersist()

    # -- checks, after the clock
    oracles: dict[int, inputs.RankOracle] = {}
    for n_frames, q, conv, got in checks:
        if n_frames not in oracles:
            oracles[n_frames] = inputs.RankOracle(inputs.expected_docs(frames[:n_frames]))
        b.check(oracles[n_frames].check(q, K, got, conv))
    want = inputs.expected_docs(frames)
    docs_rel = Manifest(index_dir).data["params"].get("docs_rel", "docs")
    stored = inputs.read_frame(Path(index_dir) / docs_rel).sort_values("doc_id")
    same = len(stored) == len(want) and all(
        (stored[c].to_numpy() == want[c].to_numpy()).all() for c in ("doc_id", "conv_id", "text")
    )
    b.check(None if same else "stored docs differ from the input turns after compaction")

    if b.tracer is None:
        return {
            "request_cpu_ms": mean_cpu(requests, 1e3),
            "write_cpu_s": sum(w[2] for w in writes),
            "setup_s": sum(cpu for _, cpu in setup),
            "index_bytes_per_text_byte": live_index_bytes(index_dir)
            / sum(inputs.text_bytes(f) for f in frames),
        }
    tr = b.tracer
    n_q = len(batch_queries)
    trace_layers(b, "request", [p[1] for p in plain])
    b.layer["wall.request_p50_ms"] = median([p[1] for p in plain], 1e3)
    b.layer["wall.write_s"] = sum(w[1] for w in writes)
    b.layer["wall.setup_s"] = sum(wall for wall, _ in setup)
    b.layer["tokenize.us_per_query"] = tr.median("tokenize", scale=1e6)
    b.layer["query.score_topk_ms"] = tr.median("query.score_topk", scale=1e3)
    b.layer["query.score_topk_jobs"] = tr.median("query.score_topk", "jobs")
    b.layer["query.score_topk_tasks"] = tr.median("query.score_topk", "tasks")
    b.layer["query.scoped_score_topk_ms"] = tr.median("query.scoped_score_topk", scale=1e3)
    b.layer["query.batch_ms_per_query"] = tr.median("query.batch", scale=1e3 / n_q)
    b.layer["query.batch_jobs"] = tr.median("query.batch", "jobs")
    b.layer["index_store.fetch_docs_ms"] = tr.median("index_store.fetch_docs", scale=1e3)
    b.layer["index_store.fetch_docs_jobs"] = tr.median("index_store.fetch_docs", "jobs")
    b.layer["spans.refine_ms"] = tr.median("spans.refine", scale=1e3)
    b.layer["spans.jobs"] = tr.median("spans.refine", "jobs")
    b.layer["index_store.append_s"] = median(append_s)
    b.layer["index_store.cold_query_ms"] = median(cold_s, 1e3)
    b.layer["index_store.block_rows_per_term_stripe_appended"] = rows_appended
    b.layer["index_store.block_rows_per_term_stripe_compacted"] = _block_rows_per_term_stripe(index_dir)
    b.layer["index_store.compact_s"] = rc[1] if rc else 0.0
    b.layer["index_store.compact_bytes_rewritten"] = _compaction_bytes(index_dir)
    return {}


# ---------------------------------------------------------------------------
# suite
# ---------------------------------------------------------------------------


def _collect_frame(df) -> pd.DataFrame:
    cols = df.columns
    return pd.DataFrame([tuple(r) for r in df.collect()], columns=cols)


def suite(b: Bench, session: tuple[float, float]) -> dict:
    import duckdb

    sf = b.work / "sf"
    inputs.write_suite_corpus(sf, b.size["suite_docs"], b.seed)
    sf_dir = str(sf)

    # set-up: the registry's cache warm-up builds and prepares the index
    # over `documents`
    c0, t0 = proctree.cpu_seconds(), time.perf_counter()
    with b.span("registry.warmup"):
        docidx = registry._doc_index(b.spark, sf_dir)
    warmup = (time.perf_counter() - t0, proctree.cpu_seconds() - c0)

    records = []  # (query name, (result, wall, cpu))
    for i, name in b.loop(SUITE_QUERIES, len(SUITE_QUERIES)):
        fn = registry.QUERIES[name]
        r = b.attempt(lambda: _span_call(b, f"suite.{name}", lambda: _collect_frame(fn(b.spark, sf_dir))))
        if r:
            records.append((name, r))

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf / (t + '.parquet')}')")
    want = {}
    for name, (got, _, _) in records:
        if name not in want:
            want[name] = con.execute(registry.ORACLE_SQL[name]).df()
        problem = inputs.frames_differ(got, want[name])
        b.check(f"{name}: {problem}" if problem else None)
    con.close()

    if b.tracer is None:
        text = pq.read_table(str(sf / "documents.parquet"), columns=["text"]).to_pandas()
        return {
            "request_cpu_ms": mean_cpu([r for _, r in records], 1e3),
            "write_cpu_s": warmup[1],
            "setup_s": session[1] + warmup[1],
            "index_bytes_per_text_byte": live_index_bytes(docidx.index_dir)
            / inputs.text_bytes(text),
        }
    b.build_layers(docidx.index_dir)
    b.layer["wall.request_p50_ms"] = median([r[1] for _, r in records], 1e3)
    b.layer["wall.write_s"] = sum(
        st["duration_sec"] for st in Manifest(docidx.index_dir).data["stages"].values()
    )
    b.layer["wall.setup_s"] = session[0] + warmup[0]
    for q in SUITE_QUERIES:
        b.layer[f"suite.{q}_ms"] = b.tracer.median(f"suite.{q}", scale=1e3)
        b.layer[f"suite.{q}_jobs"] = b.tracer.median(f"suite.{q}", "jobs")
    return {}


WORKLOADS = {"index": index, "suite": suite}


def run(name: str, b: Bench, session: tuple[float, float]) -> dict:
    """Run one workload after a session start that took `session`
    (wall, CPU) seconds; metrics map name -> (value, unit)."""
    values = WORKLOADS[name](b, session)
    if b.tracer is None:
        metrics = {k: (values[k], u) for k, u in END_TO_END.items() if k in values}
    else:
        metrics = {
            k: (b.layer.get(k, 0.0), u) for k, u in PER_LAYER.items() if not k.startswith("host.")
        }
    return {"attempted": b.attempted, "failed": b.failed, "metrics": metrics}
