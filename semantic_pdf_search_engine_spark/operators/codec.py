"""Delta + VByte posting compression, fully vectorized numpy.

Posting blocks store three parallel uint arrays — doc-id gaps, term
frequencies, doc lengths — as VByte-compressed BinaryType columns
(7 data bits per byte, MSB = continuation, little-endian groups).
The index manifest records the format as ``params.codec = "vbyte"``;
`decode_block` refuses any other recorded value rather than misread
foreign bytes.

Runs inside applyInPandas (Arrow batches); no per-row Python. Encode
and decode are loop-free over the value count (loops run over
byte-width ≤ 10, each iteration vectorized over the whole Arrow
batch), so a 4096-entry block costs microseconds, not milliseconds.
"""

from __future__ import annotations

import numpy as np

_SHIFTS = (7, 14, 21, 28, 35, 42, 49, 56, 63)


def vb_encode_counts(arr: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte-encode; also return per-value byte counts so callers can
    slice the buffer at arbitrary group boundaries (the batch encoder
    compresses a whole Arrow batch in one call and splits per block)."""
    a = np.ascontiguousarray(arr, dtype=np.uint64)
    if a.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(a.size, dtype=np.int64)
    for s in _SHIFTS:
        nbytes += (a >= np.uint64(1) << np.uint64(s)).astype(np.int64)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    idx = np.zeros(a.size, dtype=np.int64)
    idx[1:] = np.cumsum(nbytes)[:-1]
    rem = a.copy()
    active = np.ones(a.size, dtype=bool)
    while active.any():
        b7 = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
        more = rem > 0
        out[idx[active]] = b7[active] | (more[active].astype(np.uint8) << 7)
        idx[active] += 1
        active &= more
    return out.tobytes(), nbytes


def vb_encode(arr: np.ndarray) -> bytes:
    """VByte-encode a 1-D array of unsigned ints."""
    return vb_encode_counts(arr)[0]


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode VByte buffer back to uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n = int(is_last.sum())
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last[:-1])
    starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    within = (np.arange(b.size) - starts[group]).astype(np.uint64)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * within)
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, group, contrib)
    return vals


def delta_encode(sorted_ids: np.ndarray, base: int = 0) -> np.ndarray:
    """Strictly-increasing ids → gaps (first gap relative to `base`)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(ids.size, dtype=np.uint64)
    if ids.size:
        gaps[0] = ids[0] - base
        gaps[1:] = np.diff(ids)
    return gaps


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    return (np.cumsum(gaps.astype(np.int64)) + base).astype(np.int64)


def vb_encode_groups(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """VByte-encode each [starts[i], ends[i]) slice of `values`:
    returns (flat buffer, per-group byte counts) from one whole-batch
    encode, so the batch encoder compresses an Arrow batch in one call
    and slices per block."""
    buf, nbytes = vb_encode_counts(values)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.ascontiguousarray(ends, dtype=np.int64)
    if starts.size == 0:
        return buf, np.zeros(0, dtype=np.int64)
    cum = np.concatenate([[0], np.cumsum(nbytes)])
    return buf, cum[ends] - cum[starts]


CODEC = "vbyte"


def check_codec(codec_name: str) -> None:
    """Raise ValueError unless `codec_name` is the one stored format."""
    if codec_name != CODEC:
        raise ValueError(
            f"posting blocks recorded with codec {codec_name!r}; "
            f"only {CODEC!r} is readable"
        )


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, base: int):
    """(sorted doc_ids, tfs, dls) → (gaps_bin, tfs_bin, dls_bin)."""
    return vb_encode(delta_encode(doc_ids, base)), vb_encode(tfs), vb_encode(dls)


def decode_block(
    gaps_bin: bytes,
    tfs_bin: bytes,
    dls_bin: bytes,
    base: int,
    codec_name: str = CODEC,
):
    """(gaps_bin, tfs_bin, dls_bin) → (doc_ids, tfs, dls) int64 arrays.
    `codec_name` is the manifest's recorded format, checked, not
    dispatched on."""
    check_codec(codec_name)
    docs = delta_decode(vb_decode(gaps_bin), base)
    return docs, vb_decode(tfs_bin).astype(np.int64), vb_decode(dls_bin).astype(np.int64)
