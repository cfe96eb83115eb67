"""Inverted-index storage: layout, lineage manifests, checkpoint resume.

Layout (parquet; Iceberg-shaped — no Iceberg runtime jar ships in this
sandbox, so table layout + snapshot/lineage manifests are implemented
directly; on a cluster these become `writeTo(...).append()` Iceberg
tables with the same columns and bucket(term) partitioning):

    index_dir/
      manifest.json      build params, per-stage lineage (status, rows,
                         files, duration, turns/sec), checksums
      docs/              (doc_id, conv_id, turn_idx, role, text, tool, ts)
      docfreq/           (term, df, idf)
      postings/          partitioned by term_bucket=NN
                         (term, stripe_id, n_postings, min_doc, max_doc,
                          gaps, tfs, dls, max_tf, top_tf, top_dl)

Resume (north_rule "resumable from checkpoint with per-partition
lineage + metrics"): each stage commits atomically (write → fsync
manifest update); a re-run skips stages whose manifest entry is
`complete` and whose files still exist — the analog of the reference's
ready-set (/root/reference/src/bin/app/handlers/upload.rs:52-70,
ready.rs:13-23), made durable.

`term_bucket` gives query-time partition pruning: buckets for the
query's terms are computed driver-side and pushed as a partition
filter, so a 3-term query touches ≤3 of NUM_TERM_BUCKETS directories
(the moral twin of the reference pushing the filename filter inside
Qdrant, /root/reference/src/qdrant.rs:84-90).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import STRIPE_DOCS
from semantic_pdf_search_engine_spark.operators import postings as P
from semantic_pdf_search_engine_spark.operators.codec import CODEC, check_codec
from semantic_pdf_search_engine_spark.operators.docids import (
    assign_doc_ids,
    unpersist_doc_ids,
)

NUM_TERM_BUCKETS = 32


def term_bucket_of(term: str) -> int:
    """Deterministic, engine-independent bucket (md5-based so the same
    function works driver-side and in SQL on any engine)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % NUM_TERM_BUCKETS


from pyspark.sql.types import IntegerType


@F.pandas_udf(IntegerType())  # DataType instance: no session needed at import
def term_bucket_udf(terms):
    import pandas as pd

    return pd.Series(
        [
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) % NUM_TERM_BUCKETS
            for t in terms
        ],
        dtype="int32",
    )


class Manifest:
    def __init__(self, index_dir: str):
        self.path = Path(index_dir) / "manifest.json"
        self.data: dict = {"stages": {}, "params": {}, "metrics": {}}
        if self.path.exists():
            self.data = json.loads(self.path.read_text())

    def stage_complete(self, stage: str) -> bool:
        st = self.data["stages"].get(stage)
        if not st or st.get("status") != "complete":
            return False
        return all(Path(f).exists() for f in st.get("files", []))

    def record(self, stage: str, out_dir: Path | None, rows: int, t0: float, extra=None):
        # per-partition lineage: one row per output file with its exact
        # row count (parquet footer read — no data scan) and size;
        # this is what resume validates and what an auditor replays
        files: list[dict] = []
        if out_dir:
            import pyarrow.parquet as pq

            for p in sorted(out_dir.rglob("*.parquet")):
                files.append(
                    {
                        "path": str(p),
                        "bytes": p.stat().st_size,
                        "rows": pq.ParquetFile(p).metadata.num_rows,
                    }
                )
        dt = time.time() - t0
        self.data["stages"][stage] = {
            "status": "complete",
            "rows": rows,
            "files": [f["path"] for f in files],
            "file_lineage": files,
            "n_files": len(files),
            "total_bytes": sum(f["bytes"] for f in files),
            "duration_sec": round(dt, 3),
            **(extra or {}),
        }
        self.save()
        return dt

    def save(self):
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.data, indent=2))
        os.replace(tmp, self.path)


_SNAPSHOT_BASES = ("postings", "docfreq", "docs", "tf")

# automatic history bound: record_snapshot expires beyond this many
# retained snapshots, so a streaming pipeline appending forever keeps
# bounded storage without an explicit maintenance call (Iceberg leaves
# expiry to maintenance jobs; an unattended default is safer here —
# raise it or call expire_snapshots yourself for longer history).
#
# CONCURRENCY CONTRACT: this store is SINGLE-WRITER and auto-expiry
# assumes NO OPEN READERS on expiring snapshots — a write (append/
# compact) that pushes history past the bound deletes version dirs
# that a still-live load_index(snapshot_id=...) handle may reference.
# The deletion guards protect RETAINED snapshots only; they cannot see
# driver-side handles. If readers hold snapshots across writes, set
# SNAPSHOT_KEEP_DEFAULT above your reader horizon or disable auto-
# expiry (raise it) and run expire_snapshots as an explicit maintenance
# call once readers are known to be closed — exactly Iceberg's
# operational model.
SNAPSHOT_KEEP_DEFAULT = 5


def parquet_files(table_dir) -> list[str]:
    """Sorted parquet file list of a table directory ([] if absent) —
    the one definition of 'a table's files' shared by both stores'
    snapshot recorders (index_store here, sources/ann_store)."""
    p = Path(table_dir)
    return sorted(str(f) for f in p.rglob("*.parquet")) if p.exists() else []


def record_snapshot(m: "Manifest", index_dir: str, label: str) -> int:
    """Append an Iceberg-style SNAPSHOT to the manifest: the current
    params plus the exact parquet file list of every table. Because
    appends only ever ADD files and version swaps only ever ADD new
    version dirs (old dirs referenced by a snapshot are retained — see
    the deletion guards and expire_snapshots), a snapshot's file list
    stays readable until the snapshot is expired, giving time-travel
    reads over the append-mode tables too: a query at snapshot s sees
    exactly the files that existed when s was taken."""
    params = dict(m.data["params"])
    d = Path(index_dir)
    tables: dict[str, list[str]] = {
        base: parquet_files(d / params.get(f"{base}_rel", base))
        for base in _SNAPSHOT_BASES
    }
    snaps = m.data.setdefault("snapshots", [])
    sid = (snaps[-1]["snapshot_id"] + 1) if snaps else 0
    snaps.append(
        {
            "snapshot_id": sid,
            "label": label,
            "ts": time.time(),
            "params": params,
            "tables": tables,
        }
    )
    m.save()
    if len(snaps) > SNAPSHOT_KEEP_DEFAULT:
        expire_snapshots(index_dir, keep_last=SNAPSHOT_KEEP_DEFAULT)
        m.data = Manifest(index_dir).data  # pick up the pruned list
    return sid


def _rel_referenced_by_snapshot(m: "Manifest", rel: str) -> bool:
    """True iff some retained snapshot still resolves a table through
    `rel` — deletion guards call this before removing a superseded
    version dir (the atomic-swap contract says delete after the flip;
    snapshots extend the dir's lifetime until expiry)."""
    for s in m.data.get("snapshots", []):
        for base in _SNAPSHOT_BASES:
            if s["params"].get(f"{base}_rel", base) == rel:
                return True
    return False


def docs_added_between(
    spark: SparkSession,
    index_dir: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental (CDC-style) read: the docs rows ADDED between two
    snapshots, resolved as a FILE-LIST DIFFERENCE — a downstream
    consumer (embedding refresh, replication, training-shard append)
    reads only the new segments' files, never rescanning the corpus.
    Exact because the docs table is append-only between snapshots
    (rewrites — compact_docs_tf — change the file set wholesale; the
    diff detects that and falls back to an anti-join on doc_id over
    the two snapshots' docs, still snapshot-consistent, with a logged
    warning since it scans both sides). `to_snapshot=None` means the
    CURRENT table state."""
    m = Manifest(index_dir)
    snaps = {s["snapshot_id"]: s for s in m.data.get("snapshots", [])}
    if from_snapshot not in snaps:
        raise ValueError(
            f"snapshot {from_snapshot} not found (retained: {sorted(snaps)})"
        )
    old_files = set(snaps[from_snapshot]["tables"].get("docs", []))
    if to_snapshot is None:
        rel = m.data["params"].get("docs_rel", "docs")
        p = Path(index_dir) / rel
        new_files = {str(f) for f in p.rglob("*.parquet")}
    else:
        if to_snapshot not in snaps:
            raise ValueError(
                f"snapshot {to_snapshot} not found (retained: {sorted(snaps)})"
            )
        new_files = set(snaps[to_snapshot]["tables"].get("docs", []))
    if old_files <= new_files:
        added = sorted(new_files - old_files)
        if not added:
            # empty diff: return an empty frame with the REAL docs
            # schema (downstream column access like `text` must work on
            # the no-new-rows edge too) — from the snapshot's files if
            # it has any, else from the current docs table
            if new_files:
                return spark.read.parquet(*sorted(new_files)).limit(0)
            cur = Path(index_dir) / m.data["params"].get("docs_rel", "docs")
            cur_files = parquet_files(cur)
            if cur_files:
                return spark.read.parquet(*cur_files).limit(0)
            # no docs files exist anywhere — the table was never built;
            # any schema is arbitrary, keep the minimal one
            return spark.createDataFrame([], "doc_id long")
        return spark.read.parquet(*added)
    # a rewrite (compaction) replaced files between the snapshots —
    # fall back to a doc_id anti-join, exact but two-sided
    import logging

    logging.getLogger(__name__).warning(
        "docs_added_between: file set was rewritten between snapshots "
        "(compaction); falling back to doc_id anti-join"
    )
    new_df = spark.read.parquet(*sorted(new_files))
    old_df = spark.read.parquet(*sorted(old_files)).select("doc_id")
    return new_df.join(old_df, "doc_id", "left_anti")


def expire_snapshots(index_dir: str, keep_last: int = 1) -> dict:
    """Drop all but the newest `keep_last` snapshots and delete version
    dirs no longer referenced by the current pointers or a retained
    snapshot (Iceberg's expire_snapshots). Returns what was kept and
    which dirs were removed."""
    import re
    import shutil

    d = Path(index_dir)
    m = Manifest(index_dir)
    snaps = m.data.get("snapshots", [])
    kept = snaps[-keep_last:] if keep_last > 0 else []
    m.data["snapshots"] = kept
    referenced = {
        m.data["params"].get(f"{b}_rel", b) for b in _SNAPSHOT_BASES
    } | {
        s["params"].get(f"{b}_rel", b) for s in kept for b in _SNAPSHOT_BASES
    }
    pat = re.compile(r"^(%s)(_v\d+)?$" % "|".join(_SNAPSHOT_BASES))
    removed = []
    for p in sorted(d.iterdir()):
        if p.is_dir() and pat.match(p.name) and p.name not in referenced:
            shutil.rmtree(p)
            removed.append(p.name)
    m.save()
    return {"kept": [s["snapshot_id"] for s in kept], "removed_dirs": removed}


@dataclass
class InvertedIndex:
    """Handle to a built index. Physical postings/docfreq directories
    are resolved through the manifest (versioned names), so swaps —
    docfreq merge on append, posting compaction — are ATOMIC: write
    the new version, flip one manifest pointer (os.replace), delete
    the old dir; a concurrent reader always sees a complete directory.
    Old version dirs referenced by a retained SNAPSHOT survive the
    swap (deletion guards) until expire_snapshots, enabling time-travel
    (`load_index(..., snapshot_id=s)` — tables then resolve to the
    snapshot's exact FILE LISTS, read with basePath so the term_bucket
    partition column survives explicit-file reads)."""

    spark: SparkSession
    index_dir: str
    n_docs: int
    avgdl: float
    stripe_docs: int
    postings_rel: str = "postings"
    docfreq_rel: str = "docfreq"
    docs_rel: str = "docs"
    tf_rel: str = "tf"
    postings_files: list[str] | None = None
    docfreq_files: list[str] | None = None
    docs_files: list[str] | None = None
    tf_files: list[str] | None = None

    _postings_cached: DataFrame | None = None
    _docfreq_cached: DataFrame | None = None

    @property
    def postings_path(self) -> str:
        return f"{self.index_dir}/{self.postings_rel}"

    @property
    def docfreq_path(self) -> str:
        return f"{self.index_dir}/{self.docfreq_rel}"

    def _read_postings(self) -> DataFrame:
        if self.postings_files is not None:
            return self.spark.read.option("basePath", self.postings_path).parquet(
                *self.postings_files
            )
        return self.spark.read.parquet(self.postings_path)

    def _read_docfreq(self) -> DataFrame:
        if self.docfreq_files is not None:
            return self.spark.read.parquet(*self.docfreq_files)
        return self.spark.read.parquet(self.docfreq_path)

    @property
    def postings(self) -> DataFrame:
        if self._postings_cached is not None:
            return self._postings_cached
        return self._read_postings()

    @property
    def docfreq(self) -> DataFrame:
        if self._docfreq_cached is not None:
            return self._docfreq_cached
        return self._read_docfreq()

    def prepare(self, warm: bool = True) -> "InvertedIndex":
        """Pin the hot read path in executor memory for a query-serving
        session (a real deployment keeps postings resident; per-query
        parquet re-reads are a cold-start artifact). Lazy on first use.

        `warm=True` additionally runs ONE throwaway top-k query through
        the full serving plan — Lucene's searcher-warming posture
        (IndexWriter.IndexReaderWarmer / warming queries on a new
        searcher): the first few queries on a fresh session otherwise
        pay whole-stage-codegen compilation, Python-worker pool
        spin-up for the Arrow scoring kernel, and first-touch of the
        cached blocks (measured 3-9x the steady-state latency). The
        warm-up term is read from the pinned docfreq (resident after
        persist, so the lookup is cheap) and the result is discarded."""
        # resolve through the same file-list logic as the lazy
        # properties — on a snapshot handle, prepare() must pin the
        # SNAPSHOT's files, not the current table state
        self._postings_cached = self._read_postings().persist()
        self._docfreq_cached = self._read_docfreq().persist()
        self._postings_cached.count()
        self._docfreq_cached.count()
        if warm:
            row = self._docfreq_cached.select("term").head(1)
            if row:
                from semantic_pdf_search_engine_spark.plans.query import (
                    score_topk,
                )

                score_topk(self, row[0]["term"], 10).collect()
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release prepare()'s pinned executor storage. Call when a
        serving session replaces this handle (source data regenerated,
        handle cache invalidated) — otherwise each replaced handle
        leaks a resident postings+docfreq copy for the session's
        lifetime."""
        for cached in (self._postings_cached, self._docfreq_cached):
            if cached is not None:
                try:
                    cached.unpersist()
                except Exception:
                    pass  # session already stopped — nothing to release
        self._postings_cached = None
        self._docfreq_cached = None
        return self

    @property
    def docs(self) -> DataFrame:
        if self.docs_files is not None:
            return self.spark.read.parquet(*self.docs_files)
        return self.spark.read.parquet(f"{self.index_dir}/{self.docs_rel}")

    @property
    def tf(self) -> DataFrame:
        """(doc_id, term, tf, dl) — the stage-2 table the build keeps
        for merges/compaction; also the term-vectors serving surface
        (per-doc term statistics without re-tokenizing the corpus).
        On a snapshot handle this resolves to the snapshot's exact
        file list (same contract as postings/docfreq/docs): appends
        after the snapshot are invisible, and a compaction's dir swap
        cannot break the handle."""
        if self.tf_files is not None:
            return self.spark.read.parquet(*self.tf_files)
        return self.spark.read.parquet(f"{self.index_dir}/{self.tf_rel}")

    def fetch_docs(self, doc_ids: list[int]) -> DataFrame:
        """Payload fetch of winners — the analog of the reference's
        with_payload(true) point lookup (/root/reference/src/qdrant.rs:92)."""
        return self.docs.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))


def load_index(
    spark: SparkSession, index_dir: str, snapshot_id: int | None = None
) -> InvertedIndex:
    """Open the index at its CURRENT pointers, or — with snapshot_id —
    TIME-TRAVEL to a retained snapshot: corpus stats come from the
    snapshot's params and every table resolves to the snapshot's exact
    parquet file list (files appended or swapped in afterwards are
    invisible), so queries return what they returned when the snapshot
    was taken. Raises if the snapshot was expired or its files are
    gone, or if the manifest records a posting codec other than
    vbyte (blocks in a foreign format would otherwise be misread)."""
    m = Manifest(index_dir)
    if snapshot_id is None:
        p = m.data["params"]
        check_codec(p.get("codec", CODEC))
        return InvertedIndex(
            spark,
            index_dir,
            p["n_docs"],
            p["avgdl"],
            p.get("stripe_docs", STRIPE_DOCS),
            postings_rel=p.get("postings_rel", "postings"),
            docfreq_rel=p.get("docfreq_rel", "docfreq"),
            docs_rel=p.get("docs_rel", "docs"),
            tf_rel=p.get("tf_rel", "tf"),
        )
    snaps = {s["snapshot_id"]: s for s in m.data.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not found (retained: {sorted(snaps)}) — "
            "expired snapshots cannot be read"
        )
    s = snaps[snapshot_id]
    p = s["params"]
    check_codec(p.get("codec", CODEC))
    missing = [
        f
        for base in _SNAPSHOT_BASES
        for f in s["tables"].get(base, [])
        if not Path(f).exists()
    ]
    if missing:
        raise ValueError(
            f"snapshot {snapshot_id} is unreadable: {len(missing)} file(s) "
            f"missing (first: {missing[0]})"
        )
    for base in ("postings", "docfreq", "docs"):
        if not s["tables"].get(base):
            # fail at LOAD time with a clear message — an empty file
            # list would otherwise surface as an opaque read error on
            # the first query
            raise ValueError(
                f"snapshot {snapshot_id} records no files for table "
                f"{base!r} — the snapshot predates that table or the "
                "manifest is damaged"
            )
    return InvertedIndex(
        spark,
        index_dir,
        p["n_docs"],
        p["avgdl"],
        p.get("stripe_docs", STRIPE_DOCS),
        postings_rel=p.get("postings_rel", "postings"),
        docfreq_rel=p.get("docfreq_rel", "docfreq"),
        docs_rel=p.get("docs_rel", "docs"),
        tf_rel=p.get("tf_rel", "tf"),
        postings_files=s["tables"]["postings"],
        docfreq_files=s["tables"]["docfreq"],
        docs_files=s["tables"]["docs"],
        # pre-tf-snapshot manifests may record no tf files; fall back
        # to the live path rather than an empty (unreadable) list
        tf_files=s["tables"].get("tf") or None,
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    stripe_docs: int = STRIPE_DOCS,
    resume: bool = True,
    text_col: str = "text",
) -> InvertedIndex:
    """Full index build: docids → tf → stats/docfreq → posting blocks.

    The manifest params record the block format (`codec`: "vbyte");
    load_index refuses any other recorded value.

    Stages commit independently with lineage manifests; `resume=True`
    skips completed stages (checkpoint resume). Resume is for an
    INTERRUPTED BUILD only: once an index has taken appends, its
    docs/tf hold post-build segments and the stage lineage is stale, so
    a partially-resumable state is refused rather than silently served
    with pre-append stats.
    """
    from pyspark.sql import Observation

    d = Path(index_dir)
    m = Manifest(index_dir)
    metrics = m.data["metrics"]

    if resume and any(s.startswith("append_") for s in m.data["stages"]):
        # UNCONDITIONAL: stage-level resume after appends would serve
        # pre-append stats over post-append segments no matter which
        # stage files still exist (before snapshots this was detected
        # via the deleted old docfreq dir; retention broke that signal,
        # so the refusal is now explicit)
        raise ValueError(
            "index has incremental appends; stage-level resume would "
            "rebuild with pre-append stats — rebuild with resume=False "
            "or keep using append_to_index"
        )
    if not resume:
        # full rebuild: NO prior lineage describes this index any more.
        # Dropping only the append markers would be a trap: stage 1's
        # record() persists the cleared manifest, so an INTERRUPTED
        # rebuild followed by resume=True would reuse stale tf/postings
        # entries (whose files still exist — appends only add files)
        # against the new docs table. Clearing everything makes the
        # interrupted-rebuild resume start from stage 1, which is the
        # only sound interpretation.
        m.data["stages"] = {}
        # snapshots point at files the rebuild overwrites — drop them
        # (time-travel across a destructive rebuild is undefined)
        m.data["snapshots"] = []

    # Row counts and Σdl come from Observations attached to the SAME
    # action that writes each stage — a post-write .count() would
    # re-read the full parquet output (Spark does not push count() to
    # footers by default), doubling every stage's IO.

    # --- stage 1: stable docIDs + docs table -------------------------------
    # physical dirs resolve through params (docs_rel/tf_rel), same
    # versioned-pointer pattern as postings/docfreq — compaction swaps
    # them atomically (see compact_docs_tf)
    docs_rel = m.data["params"].get("docs_rel", "docs")
    tf_rel = m.data["params"].get("tf_rel", "tf")
    if not (resume and m.stage_complete("docs")):
        t0 = time.time()
        docs = assign_doc_ids(transcripts)
        obs = Observation("docs")
        docs.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(str(d / docs_rel))
        unpersist_doc_ids(docs)
        n_rows = int(obs.get["rows"])
        dt = m.record("docs", d / docs_rel, n_rows, t0)
        metrics["docs_turns_per_sec"] = round(n_rows / dt, 1)
    docs = spark.read.parquet(str(d / docs_rel))
    n_turns = m.data["stages"]["docs"]["rows"]

    # --- stage 2: term frequencies (persisted: the expensive stage) --------
    if not (resume and m.stage_complete("tf")):
        t0 = time.time()
        tf = P.term_frequencies(docs, text_col=text_col)
        obs = Observation("tf")
        tf.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(str(d / tf_rel))
        dt = m.record("tf", d / tf_rel, int(obs.get["rows"]), t0)
        metrics["tokenize_turns_per_sec"] = round(n_turns / dt, 1)
    tf = spark.read.parquet(str(d / tf_rel))

    # --- stage 3: corpus stats + docfreq/idf --------------------------------
    docfreq_rel = m.data["params"].get("docfreq_rel", "docfreq")
    if not (resume and m.stage_complete("docfreq")):
        t0 = time.time()
        # n_docs = stage-1 row count (docIDs are dense over all turns);
        # Σdl == Σtf comes out of the docfreq aggregation itself via an
        # Observation — corpus stats cost ZERO extra passes over tf.
        n_docs = n_turns
        dfreq_raw = P.docfreq_with_tfsum(tf)
        obs = Observation("df")
        dfreq_cnt = dfreq_raw.observe(
            obs,
            F.sum("tf_sum").alias("total_tokens"),
            F.count(F.lit(1)).alias("rows"),
        )

        # idf via numpy on executors — ONE libm implementation shared
        # bit-exactly by stored idf, block-max bounds, and the numpy
        # oracle (Java Math.log can differ by 1 ulp, which would make
        # pruning bounds inconsistent with scoring).
        @F.pandas_udf("double")
        def idf_udf(dfs):
            import numpy as np

            return np.log(1.0 + (float(n_docs) - dfs + 0.5) / (dfs + 0.5))

        dfreq_cnt.withColumn("idf", idf_udf(F.col("df").cast("double"))).drop(
            "tf_sum"
        ).write.mode("overwrite").parquet(str(d / docfreq_rel))
        total_tokens = int(obs.get["total_tokens"] or 0)
        avgdl = (float(total_tokens) / n_docs) if n_docs else 0.0
        m.data["params"].update(
            {
                "n_docs": n_docs,
                "avgdl": avgdl,
                "stripe_docs": stripe_docs,
                "total_tokens": total_tokens,
            }
        )
        dt = m.record(
            "docfreq", d / docfreq_rel, int(obs.get["rows"]), t0,
            {"n_docs": n_docs, "avgdl": avgdl},
        )
        metrics["stats_turns_per_sec"] = round(n_turns / dt, 1)
    n_docs = m.data["params"]["n_docs"]
    avgdl = m.data["params"]["avgdl"]
    dfreq = spark.read.parquet(str(d / docfreq_rel))

    # --- stage 4: compressed posting blocks ---------------------------------
    postings_rel = m.data["params"].get("postings_rel", "postings")
    if not (resume and m.stage_complete("postings")):
        t0 = time.time()
        m.data["params"]["codec"] = CODEC
        blocks = P.build_posting_blocks(
            tf, dfreq.select("term", "idf"), avgdl, stripe_docs
        ).withColumn("term_bucket", term_bucket_udf(F.col("term")))
        # repartition on the partition column first: otherwise every
        # shuffle partition writes a sliver into every bucket directory
        # (P × NUM_TERM_BUCKETS small files); blocks are compact, so
        # this extra shuffle moves little data
        obs = Observation("postings")
        blocks.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_postings").alias("n_postings"),
        ).repartition(NUM_TERM_BUCKETS, "term_bucket").write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(str(d / postings_rel))
        dt = m.record("postings", d / postings_rel, int(obs.get["rows"]), t0)
        metrics["postings_turns_per_sec"] = round(n_turns / dt, 1)
        n_postings = int(obs.get["n_postings"] or 0)
        stored = m.data["stages"]["postings"]["total_bytes"]
        metrics["n_postings"] = n_postings
        # raw = 16 B/posting (doc_id int64 + tf int32 + dl int32)
        metrics["postings_bytes"] = stored
        metrics["compression_ratio_vs_raw16B"] = (
            round(16.0 * n_postings / stored, 2) if stored else None
        )

    m.save()
    record_snapshot(m, index_dir, "build")
    return InvertedIndex(
        spark,
        index_dir,
        n_docs,
        avgdl,
        stripe_docs,
        postings_rel=postings_rel,
        docfreq_rel=docfreq_rel,
        docs_rel=docs_rel,
        tf_rel=tf_rel,
    )


def append_to_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_dir: str,
    text_col: str = "text",
) -> InvertedIndex:
    """Incremental segment append (the LSM move: Lucene segment commit
    re-expressed as Spark jobs; reference analog = per-upload async
    index job, /root/reference/src/bin/app/handlers/upload.rs:52-70).

    - new turns get docIDs offset past the existing corpus (docIDs stay
      dense; the global (conv_id, turn_idx) order invariant holds when
      appends arrive log-structured, i.e. new conv_ids sort after old).
      Appends into an EXISTING conv_id are allowed: scoped search
      verifies contiguity per query and falls back to an exact
      membership mask when violated (plans/query.score_topk);
    - new posting blocks land in NEW stripes (doc ranges are disjoint),
      so the merge is a pure append of block rows — no rewrite of old
      blocks. A stripe shared at the boundary simply has two block rows
      per term; the scorer accumulates both (doc ranges disjoint);
    - docfreq is merged (summed df, idf recomputed under the new N) and
      corpus stats updated. Old blocks stay VALID because pruning
      bounds are recomputed at query time from raw (max_tf, top_tf,
      top_dl) facts — nothing score-like is persisted (see
      operators/postings.POSTINGS_SCHEMA note).
    """
    d = Path(index_dir)
    m = Manifest(index_dir)
    params = m.data["params"]
    check_codec(params.get("codec", CODEC))  # never mix block formats
    n_old = params["n_docs"]
    total_old = params["total_tokens"]
    stripe_docs = params["stripe_docs"]
    postings_rel = params.get("postings_rel", "postings")
    docfreq_rel = params.get("docfreq_rel", "docfreq")
    docs_rel = params.get("docs_rel", "docs")
    tf_rel = params.get("tf_rel", "tf")

    t0 = time.time()
    assigned = assign_doc_ids(new_transcripts)
    new_docs = assigned.withColumn("doc_id", F.col("doc_id") + F.lit(n_old))
    new_docs.persist()
    n_new = new_docs.count()
    new_docs.write.mode("append").parquet(str(d / docs_rel))

    tf_new = P.term_frequencies(new_docs, text_col=text_col)
    tf_new.persist()
    total_new = (
        tf_new.agg(F.sum(F.col("tf").cast("long")).alias("t")).collect()[0]["t"] or 0
    )
    tf_new.write.mode("append").parquet(str(d / tf_rel))

    n_all = n_old + n_new
    total_all = total_old + int(total_new)
    avgdl = float(total_all) / n_all if n_all else 0.0

    # merge docfreq: old df + new per-term df, idf under the new N
    df_new = P.docfreq(tf_new)
    df_old = spark.read.parquet(str(d / docfreq_rel)).select("term", "df")
    merged = (
        df_old.unionByName(df_new)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )

    @F.pandas_udf("double")
    def idf_udf(dfs):
        import numpy as np

        return np.log(1.0 + (float(n_all) - dfs + 0.5) / (dfs + 0.5))

    merged = merged.withColumn("idf", idf_udf(F.col("df").cast("double")))
    # atomic swap: write the NEW version dir, flip the manifest pointer
    # (os.replace inside Manifest.save), only then remove the old dir —
    # a concurrent reader resolving through the manifest never sees a
    # half-deleted docfreq (the old rmtree→rename had that window)
    new_docfreq_rel = _next_version(docfreq_rel, "docfreq")
    merged.write.mode("overwrite").parquet(str(d / new_docfreq_rel))

    # new posting blocks — merged idf only steers the argmax pick
    dfreq_idf = spark.read.parquet(str(d / new_docfreq_rel)).select("term", "idf")
    blocks = P.build_posting_blocks(
        tf_new, dfreq_idf, avgdl, stripe_docs
    ).withColumn("term_bucket", term_bucket_udf(F.col("term")))
    blocks.repartition(NUM_TERM_BUCKETS, "term_bucket").write.mode(
        "append"
    ).partitionBy("term_bucket").parquet(str(d / postings_rel))

    new_docs.unpersist()
    tf_new.unpersist()
    unpersist_doc_ids(assigned)

    params.update(
        {
            "n_docs": n_all,
            "avgdl": avgdl,
            "total_tokens": total_all,
            "docfreq_rel": new_docfreq_rel,
            "postings_rel": postings_rel,
        }
    )
    seg_id = sum(1 for s in m.data["stages"] if s.startswith("append_"))
    m.record(
        f"append_{seg_id}",
        d / postings_rel,
        n_new,
        t0,
        {"n_new_turns": n_new, "n_docs_after": n_all},
    )  # .record() saves the manifest — this is the atomic pointer flip
    if (
        docfreq_rel != new_docfreq_rel
        and (d / docfreq_rel).exists()
        and not _rel_referenced_by_snapshot(m, docfreq_rel)
    ):
        import shutil

        shutil.rmtree(d / docfreq_rel)
    record_snapshot(m, index_dir, f"append_{seg_id}")
    return InvertedIndex(
        spark,
        index_dir,
        n_all,
        avgdl,
        stripe_docs,
        postings_rel=postings_rel,
        docfreq_rel=new_docfreq_rel,
        docs_rel=docs_rel,
        tf_rel=tf_rel,
    )


def _next_version(current_rel: str, base: str) -> str:
    """docfreq → docfreq_v1 → docfreq_v2 → … (versioned swap dirs)."""
    if current_rel == base:
        return f"{base}_v1"
    return f"{base}_v{int(current_rel.rsplit('_v', 1)[1]) + 1}"


def compact_docs_tf(
    spark: SparkSession,
    index_dir: str,
    target_rows_per_file: int = 1_000_000,
) -> InvertedIndex:
    """Fold the small files that appends accumulate in docs/ and tf/.

    Every append_to_index / streaming micro-batch APPENDS new parquet
    files; after thousands of batches the docs scan is file-listing-
    bound even though row volume barely grew. This job rewrites each
    table into ⌈rows / target_rows_per_file⌉ files via coalesce (NARROW
    — merges read partitions without a shuffle; content is unchanged
    and nothing depends on row order within the tables). Row counts
    come from parquet footers (driver-side, no data scan). The rewrite
    lands in a versioned dir; the manifest pointer flip (docs_rel/
    tf_rel, same pattern as postings/docfreq) is the atomic commit, and
    the stage lineage is re-recorded against the new files so
    checkpoint resume stays coherent."""
    import shutil

    import pyarrow.parquet as pq

    d = Path(index_dir)
    m = Manifest(index_dir)
    params = m.data["params"]
    for base in ("docs", "tf"):
        rel = params.get(f"{base}_rel", base)
        src = d / rel
        files = sorted(src.rglob("*.parquet"))
        if len(files) <= 1:
            continue
        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        n_files = max(1, -(-n_rows // target_rows_per_file))
        if n_files >= len(files):
            continue  # already at/below target — rewriting would not help
        new_rel = _next_version(rel, base)
        t0 = time.time()
        spark.read.parquet(str(src)).coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(str(d / new_rel))
        params[f"{base}_rel"] = new_rel
        # re-record under the ORIGINAL stage name: the stage is still
        # complete, its lineage just points at the rewritten files
        m.record(
            base, d / new_rel, n_rows, t0,
            {"compacted_from": rel, "files_before": len(files)},
        )  # record() saves the manifest — the atomic pointer flip
        if not _rel_referenced_by_snapshot(m, rel):
            shutil.rmtree(src)
    record_snapshot(m, index_dir, "compact_docs_tf")
    return load_index(spark, index_dir)


def compact_index(
    spark: SparkSession, index_dir: str, include_docs_tf: bool = True
) -> InvertedIndex:
    """LSM major compaction: merge every (term, stripe)'s block rows —
    one per append segment that touched the stripe — into a single
    block, bit-identical to what a one-shot build over the merged
    corpus would produce.

    Appends only ever ADD block rows (old blocks are never rewritten:
    doc ranges are disjoint, pruning bounds are recomputed from raw
    facts), so read amplification grows with segment count at shared
    boundary stripes; this job folds it back to 1. Mechanics mirror
    the build encoder: repartition on (term, stripe_id), decode +
    concatenate postings in doc order, re-encode, re-pick the argmax
    posting under CURRENT stats (same numpy expression as the build —
    required for the compact≡one-shot equality that tests pin).
    The rewritten table lands in a new versioned dir; the manifest
    pointer flip is the atomic commit (same pattern as docfreq).
    `include_docs_tf` additionally folds the docs/tf small files that
    appends accumulate (compact_docs_tf) — the full LSM maintenance
    pass the streaming compact_every hook runs."""
    import numpy as np
    import pandas as pd

    from semantic_pdf_search_engine_spark.config import B, K1
    from semantic_pdf_search_engine_spark.operators import codec
    from semantic_pdf_search_engine_spark.operators.postings import POSTINGS_SCHEMA

    idx = load_index(spark, index_dir)
    d = Path(index_dir)
    m = Manifest(index_dir)
    params = m.data["params"]
    stripe_docs = idx.stripe_docs
    avgdl = idx.avgdl
    k1, b = K1, B

    posts = idx.postings.join(
        F.broadcast(idx.docfreq.select("term", "idf")), "term"
    )

    def merge_partition(batches):
        def flush(rows: pd.DataFrame):
            # rows: all block rows of ONE (term, stripe), sorted by min_doc
            stripe = int(rows["stripe_id"].iloc[0])
            base = stripe * stripe_docs
            docs_l, tfs_l, dls_l = [], [], []
            for r in rows.itertuples(index=False):
                dd, tt, ll = codec.decode_block(r.gaps, r.tfs, r.dls, base)
                docs_l.append(dd)
                tfs_l.append(tt)
                dls_l.append(ll)
            docs = np.concatenate(docs_l)
            tfs = np.concatenate(tfs_l)
            dls = np.concatenate(dls_l)
            idf = float(rows["idf"].iloc[0])
            contrib = (idf * (tfs * (k1 + 1.0))) / (
                tfs + k1 * (1.0 - b + b * dls / avgdl)
            )
            top = int(np.flatnonzero(contrib == contrib.max())[0])
            g, t, l = codec.encode_block(docs, tfs, dls, base)
            return {
                "term": rows["term"].iloc[0],
                "stripe_id": stripe,
                "n_postings": int(docs.size),
                "min_doc": int(docs[0]),
                "max_doc": int(docs[-1]),
                "gaps": g,
                "tfs": t,
                "dls": l,
                "max_tf": int(tfs.max()),
                "top_tf": int(tfs[top]),
                "top_dl": int(dls[top]),
                "term_bucket": int(rows["term_bucket"].iloc[0]),
            }

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            last_t = pdf["term"].iloc[-1]
            last_s = pdf["stripe_id"].iloc[-1]
            mask = (pdf["term"] == last_t) & (pdf["stripe_id"] == last_s)
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                out = [
                    flush(g.sort_values("min_doc"))
                    for _, g in body.groupby(["term", "stripe_id"], sort=False)
                ]
                yield pd.DataFrame(out)
        if carry is not None and len(carry):
            yield pd.DataFrame([flush(carry.sort_values("min_doc"))])

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    merged = (
        posts.repartition(n_parts, "term", "stripe_id")
        .sortWithinPartitions("term", "stripe_id", "min_doc")
        .mapInPandas(merge_partition, schema=POSTINGS_SCHEMA + ", term_bucket int")
    )
    postings_rel = params.get("postings_rel", "postings")
    new_rel = _next_version(postings_rel, "postings")
    t0 = time.time()
    merged.repartition(NUM_TERM_BUCKETS, "term_bucket").write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(str(d / new_rel))
    params["postings_rel"] = new_rel
    seg_id = sum(1 for s in m.data["stages"] if s.startswith("compact_"))
    m.record(f"compact_{seg_id}", d / new_rel, 0, t0)  # saves = pointer flip
    if (d / postings_rel).exists() and not _rel_referenced_by_snapshot(
        m, postings_rel
    ):
        import shutil

        shutil.rmtree(d / postings_rel)
    if include_docs_tf:
        return compact_docs_tf(spark, index_dir)
    record_snapshot(m, index_dir, "compact")
    return load_index(spark, index_dir)
