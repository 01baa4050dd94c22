"""Posting-block codec — delta + varint compression, numpy-vectorized.

The encoding mirrors Lucene 4.0's postings byte layout in spirit
(lucene/core/.../codecs/lucene40/Lucene40PostingsWriter.java:193-216:
delta-varint docID gaps; :230-262 position deltas) with one deliberate
architectural change: instead of multi-level skip lists every 16 docs
(Lucene40PostingsWriter.java:66,77; MultiLevelSkipListWriter.java:31-89),
postings are cut into fixed-size blocks (BLOCK_SIZE=128 docs) carrying
per-block metadata (first/last doc, max_tf, min_nb, sum_tf). Fixed
blocks give both skipping (min/max pruning pushed into Parquet row
groups) and block-max WAND upper bounds (Ding & Suel, SIGIR'11) — the
block-max structure Lucene grew later; the reference only has skip
lists.

One encoder writes every block the engine stores: ``encode_blocks``
takes many (term, split) groups of doc-sorted postings at once and
encodes each column as one varint stream, cut into per-block binary
rows by byte offsets — no per-block or per-group Python. Like Lucene's
one postings writer behind both flush and merge, it serves the build's
map-side flush (one unbounded partial run per group), the merge
(BLOCK_SIZE blocks) and the splitter's re-encode. Positions enter as
one varint stream with per-doc byte spans: each doc's sub-stream starts
with an absolute position, so a span moves between blocks as bytes and
is never decoded (``position_spans``, ``encode_positions``).

One decoder reads them: ``decode_blocks`` decodes every block of a
fetch in one pass over each binary column's data buffer.

``encode_term_blocks`` (one term's run), ``encode_run`` (one partial
run), ``reblock_runs`` (one group's partials) and ``decode_block`` (one
block) are the per-run references the tests compare the batched kernels
against; no engine path calls them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .norms import NORM_TABLE

BLOCK_SIZE = 128


def _varint_bytes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-style varint encode of a uint64 array, vectorized: the
    bytes (uint8) and each value's byte count."""
    v = np.asarray(values, dtype=np.uint64)
    # bytes needed per value: ceil(bits/7), min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    if total == 0:
        return out, nbytes
    # positions where each value's bytes start
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # write byte k of every value that has >= k+1 bytes
    rem = v.copy()
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = starts[mask] + k
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        rem = rem >> np.uint64(7)
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array, vectorized."""
    return _varint_bytes(values)[0].tobytes()


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode ``count`` varints from ``buf`` into uint64, vectorized."""
    if count == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    cont = (raw & 0x80) > 0
    # value boundaries: a byte starts a new value iff previous byte had no
    # continuation bit
    is_start = np.empty(raw.shape, dtype=bool)
    is_start[0] = True
    is_start[1:] = ~cont[:-1]
    value_id = np.cumsum(is_start) - 1
    # byte position within its value
    pos_in_value = np.arange(raw.size) - np.flatnonzero(is_start)[value_id]
    out = np.zeros(count, dtype=np.uint64)
    np.add.at(
        out,
        value_id,
        (raw & 0x7F).astype(np.uint64) << (7 * pos_in_value.astype(np.uint64)),
    )
    return out


def encode_term_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    positions: list[np.ndarray] | None = None,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Encode one term's postings (sorted by doc_id) into block rows.

    Each block dict: num_docs, first_doc, last_doc, max_tf, docs_bin
    (varint gaps, first gap relative to first_doc so blocks decode
    independently), tfs_bin (varint tf-1), norms_bin (raw bytes),
    pos_bin (varint position deltas, concatenated per doc; None if
    positions not kept).
    """
    n = len(doc_ids)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.uint8)
    blocks = []
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d = doc_ids[s:e]
        t = tfs[s:e]
        gaps = np.empty(e - s, dtype=np.uint64)
        gaps[0] = 0
        gaps[1:] = np.diff(d).astype(np.uint64)
        blk = {
            "num_docs": int(e - s),
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "max_tf": int(t.max()),
            "docs_bin": varint_encode(gaps),
            "tfs_bin": varint_encode((t - 1).astype(np.uint64)),
            "norms_bin": norm_bytes[s:e].tobytes(),
            "pos_bin": None,
        }
        if positions is not None:
            # Concatenating per-value varint streams == varint of the
            # concatenated values, so the whole block's position deltas
            # are encoded in ONE vectorized call (a per-doc python loop
            # here costs ~10µs × total postings — the build bottleneck).
            lists = positions[s:e]
            lens = np.fromiter(
                (len(p) for p in lists), dtype=np.int64, count=e - s
            )
            if lens.sum() == 0:
                blk["pos_bin"] = b""
            else:
                flat = np.concatenate(
                    [np.asarray(p, dtype=np.int64) for p in lists]
                )
                deltas = np.empty(len(flat), dtype=np.int64)
                deltas[1:] = np.diff(flat)
                deltas[0] = flat[0]
                doc_starts = np.zeros(len(lens), dtype=np.int64)
                doc_starts[1:] = np.cumsum(lens)[:-1]
                nonempty = lens > 0
                deltas[doc_starts[nonempty]] = flat[doc_starts[nonempty]]
                blk["pos_bin"] = varint_encode(
                    deltas.astype(np.uint64)
                )
        blocks.append(blk)
    return blocks


def decode_block(
    first_doc: int,
    num_docs: int,
    docs_bin: bytes,
    tfs_bin: bytes,
    norms_bin: bytes,
    pos_bin: bytes | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[np.ndarray] | None]:
    """Decode one block -> (doc_ids int64, tfs int64, norm_bytes uint8,
    positions list or None)."""
    gaps = varint_decode(docs_bin, num_docs).astype(np.int64)
    doc_ids = first_doc + np.cumsum(gaps)
    tfs = varint_decode(tfs_bin, num_docs).astype(np.int64) + 1
    norms = np.frombuffer(norms_bin, dtype=np.uint8)
    positions = None
    if pos_bin is not None:
        total = int(tfs.sum())
        flat = varint_decode(pos_bin, total).astype(np.int64)
        # per-doc cumulative position deltas
        ends = np.cumsum(tfs)
        starts = ends - tfs
        positions = []
        for s, e in zip(starts, ends):
            positions.append(np.cumsum(flat[s:e]))
    return doc_ids, tfs, norms, positions


def _binary_bytes(
    col: "pa.Array | pa.ChunkedArray",
) -> tuple[np.ndarray, np.ndarray]:
    """The bytes of a binary column's rows, concatenated in row order
    (uint8, read from the data buffer without a copy when the column is
    one chunk with no nulls), and each row's byte count. Null rows hold
    no bytes."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n = len(arr)
    if pa.types.is_null(arr.type) or n == arr.null_count:
        return np.zeros(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    if arr.null_count:
        arr = pc.fill_null(arr, b"")
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=width)[arr.offset : arr.offset + n + 1]
    raw = (
        np.frombuffer(data, dtype=np.uint8)[off[0] : off[-1]]
        if data is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return raw, np.diff(off).astype(np.int64)


def _stream(
    col: "pa.Array | pa.ChunkedArray", count: int, name: str
) -> np.ndarray:
    """All varints of a binary column's rows as one int64 array, which
    must hold ``count`` values: the rows' streams laid end to end are
    one varint stream, decoded in one call."""
    raw = _binary_bytes(col)[0]
    ends = int(np.count_nonzero(raw < 0x80))  # one final byte per value
    if ends != count:
        raise ValueError(
            f"{name}: {ends} varints where the blocks need {count}"
        )
    return varint_decode(raw, count).astype(np.int64)


def _restarting_cumsum(values: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """cumsum of ``values`` restarted at each run of ``lengths`` values."""
    total = np.cumsum(values)
    before = np.zeros(len(values) + 1, dtype=total.dtype)
    before[1:] = total
    return total - np.repeat(before[np.cumsum(lengths) - lengths], lengths)


def decode_blocks(
    blocks: "pa.Table | pa.RecordBatch", want_positions: bool
) -> pd.DataFrame:
    """Decode every block of ``blocks`` at once: a table of block rows
    (``term``, ``first_doc``, ``num_docs``, ``docs_bin``, ``tfs_bin``,
    ``norms_bin`` and, with ``want_positions``, ``pos_bin``) to one
    posting per row — term (object), doc_id (int64), tf (int32),
    positions (int32 arrays, or None) and norm_byte (int32), the
    segment store's decoded-postings schema — in block order.

    Each binary column is one concatenated varint stream, decoded in one
    call; doc ids and positions are cumulative sums restarted at each
    block and at each doc. It returns what decode_block returns block
    by block. A block whose ``pos_bin`` is null gets None positions."""
    nd = blocks.column("num_docs").to_numpy().astype(np.int64)
    total = int(nd.sum())
    gaps = _stream(blocks.column("docs_bin"), total, "docs_bin")
    first_doc = blocks.column("first_doc").to_numpy().astype(np.int64)
    doc_id = _restarting_cumsum(gaps, nd) + np.repeat(first_doc, nd)
    tf = _stream(blocks.column("tfs_bin"), total, "tfs_bin") + 1
    norm_byte, norm_len = _binary_bytes(blocks.column("norms_bin"))
    if not np.array_equal(norm_len, nd):
        raise ValueError("norms_bin: one byte per doc expected")
    positions = np.empty(total, dtype=object)  # all None
    if want_positions:
        pos_col = blocks.column("pos_bin")
        held = np.repeat(
            pc.is_valid(pos_col).to_numpy(zero_copy_only=False), nd
        )
        lengths = np.where(held, tf, 0)
        deltas = _stream(pos_col, int(lengths.sum()), "pos_bin")
        offsets = np.zeros(total + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        positions = pa.ListArray.from_arrays(
            pa.array(offsets),
            pa.array(_restarting_cumsum(deltas, tf[held]).astype(np.int32)),
            mask=pa.array(~held),
        ).to_numpy(zero_copy_only=False)
    term = blocks.column("term").to_numpy(zero_copy_only=False)
    return pd.DataFrame(
        {
            "term": np.repeat(term, nd),
            "doc_id": doc_id,
            "tf": tf.astype(np.int32),
            "positions": positions,
            "norm_byte": norm_byte.astype(np.int32),
        }
    )


def varint_value_starts(buf: bytes) -> np.ndarray:
    """Byte offset of each varint value start in ``buf`` (vectorized).
    Enables zero-decode slicing of a concatenated varint stream."""
    if not buf:
        return np.zeros(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_start = np.empty(raw.shape, dtype=bool)
    is_start[0] = True
    is_start[1:] = (raw[:-1] & 0x80) == 0
    return np.flatnonzero(is_start).astype(np.int64)


def encode_run(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    flat_positions: np.ndarray | None,
) -> dict:
    """Encode ONE partial posting run (sorted by doc_id) as a single
    block-shaped row of arbitrary length — the map-side DWPT flush unit
    (lucene/core/.../index/DocumentsWriterPerThread.java:44: per-thread
    private segments; ours are per-partition partial runs merged by the
    term-hash shuffle). Format identical to a block, so the reducer can
    decode partials and re-block with plain array ops.

    ``flat_positions``: all docs' positions concatenated (pre-stop
    positions); per-doc boundaries are the tf cumsum.
    """
    n = len(doc_ids)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    pos_bin = None
    if flat_positions is not None:
        deltas = np.empty(len(flat_positions), dtype=np.int64)
        if len(flat_positions):
            deltas[1:] = np.diff(flat_positions)
            deltas[0] = flat_positions[0]
            doc_starts = np.zeros(n, dtype=np.int64)
            doc_starts[1:] = np.cumsum(tfs)[:-1]
            nonempty = tfs > 0
            deltas[doc_starts[nonempty]] = flat_positions[
                doc_starts[nonempty]
            ]
        pos_bin = varint_encode(deltas.astype(np.uint64))
    return {
        "num_docs": int(n),
        "first_doc": int(doc_ids[0]),
        "last_doc": int(doc_ids[-1]),
        "max_tf": int(tfs.max()),
        "docs_bin": varint_encode(gaps),
        "tfs_bin": varint_encode((tfs - 1).astype(np.uint64)),
        "norms_bin": norms.astype(np.uint8).tobytes(),
        "pos_bin": pos_bin,
    }


def reblock_runs(
    partials: list[dict],
    keep_positions: bool,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Merge decoded-compatible partial runs (doc-disjoint, ordered by
    first_doc) of one (term, split) group into final fixed-size blocks —
    the SegmentMerger.mergeTerms analogue (lucene/core/.../index/
    SegmentMerger.java:91-115), fully vectorized: docs/tfs/norms are
    decoded per partial and re-encoded per block; the position stream is
    NEVER decoded — final block pos_bin is a byte-slice of the
    concatenated partial streams (varint streams concatenate).
    """
    doc_parts, tf_parts, norm_parts, pos_bufs = [], [], [], []
    for p in partials:
        gaps = varint_decode(p["docs_bin"], p["num_docs"]).astype(np.int64)
        doc_parts.append(p["first_doc"] + np.cumsum(gaps))
        tf_parts.append(
            varint_decode(p["tfs_bin"], p["num_docs"]).astype(np.int64) + 1
        )
        norm_parts.append(np.frombuffer(p["norms_bin"], dtype=np.uint8))
        if keep_positions:
            pos_bufs.append(p["pos_bin"] or b"")
    doc_ids = np.concatenate(doc_parts)
    tfs = np.concatenate(tf_parts)
    norms = np.concatenate(norm_parts)
    pos_buf = b"".join(pos_bufs) if keep_positions else None
    if keep_positions:
        starts = varint_value_starts(pos_buf)
        tf_cum = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=tf_cum[1:])
        byte_ends = np.append(starts, len(pos_buf))
    # Partial runs arrive ordered by first_doc, but Spark scans source
    # files by size (not doc order), so flushes can emit (term, split)
    # runs with INTERLEAVING doc ranges — concatenation then breaks the
    # doc-sorted invariant (negative gaps wrap through uint64). Detect
    # and repair with a stable argsort. Each doc's position sub-stream
    # begins with an absolute position (encode_run), so per-doc byte
    # spans are relocatable: permute the spans, never decode them.
    if len(doc_ids) > 1 and not np.all(np.diff(doc_ids) > 0):
        order = np.argsort(doc_ids, kind="stable")
        doc_ids = doc_ids[order]
        tfs_sorted = tfs[order]
        norms = norms[order]
        if keep_positions:
            span_lo = byte_ends[tf_cum[:-1]][order]
            span_hi = byte_ends[tf_cum[1:]][order]
            pos_buf = b"".join(
                pos_buf[int(a) : int(b)] for a, b in zip(span_lo, span_hi)
            )
            tfs = tfs_sorted
            starts = varint_value_starts(pos_buf)
            tf_cum = np.zeros(len(tfs) + 1, dtype=np.int64)
            np.cumsum(tfs, out=tf_cum[1:])
            byte_ends = np.append(starts, len(pos_buf))
        else:
            tfs = tfs_sorted
    blocks = []
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        d = doc_ids[s:e]
        t = tfs[s:e]
        gaps = np.empty(e - s, dtype=np.uint64)
        gaps[0] = 0
        gaps[1:] = np.diff(d).astype(np.uint64)
        nb_slice = norms[s:e].astype(np.int64)
        blk = {
            "num_docs": int(e - s),
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "max_tf": int(t.max()),
            "min_nb": int(nb_slice[np.argmin(NORM_TABLE[nb_slice])]),
            "sum_tf": int(t.sum()),
            "docs_bin": varint_encode(gaps),
            "tfs_bin": varint_encode((t - 1).astype(np.uint64)),
            "norms_bin": norms[s:e].tobytes(),
            "pos_bin": None,
        }
        if keep_positions:
            a, b = int(tf_cum[s]), int(tf_cum[e])
            blk["pos_bin"] = pos_buf[
                int(byte_ends[a]) : int(byte_ends[b])
            ]
        blocks.append(blk)
    return blocks


# rank of each norm byte's decoded quantized dl (ties by byte value):
# the min-rank byte of a block minimizes the BM25 denominator addend
# under ANY avgdl (NORM_TABLE is the decoded quantized dl; the length
# cache is monotone in it)
_NB_RANK = np.argsort(np.argsort(NORM_TABLE, kind="stable"), kind="stable")
_BYTE_OF_RANK = np.argsort(_NB_RANK, kind="stable")


def position_spans(
    stream: "bytes | np.ndarray", tf: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc byte spans [lo, hi) of a position varint stream in which
    doc i holds ``tf[i]`` values, found without decoding a value."""
    raw = np.frombuffer(stream, dtype=np.uint8)
    value_off = np.append(
        np.flatnonzero(np.concatenate(([True], raw[:-1] < 0x80))), raw.size
    )
    doc_off = np.zeros(len(tf) + 1, dtype=np.int64)
    np.cumsum(tf, out=doc_off[1:])
    edges = value_off[doc_off]
    return edges[:-1], edges[1:]


def encode_positions(
    positions: np.ndarray, tf: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One varint stream of every doc's positions (doc i holds the next
    ``tf[i]`` of the flat, per-doc ascending ``positions``) and each
    doc's byte span [lo, hi): within a doc the values are deltas, and
    the first is absolute, so spans relocate as bytes."""
    flat = np.asarray(positions, dtype=np.int64)
    doc_start = np.zeros(len(tf), dtype=np.int64)
    np.cumsum(tf[:-1], out=doc_start[1:])
    deltas = np.empty(len(flat), dtype=np.int64)
    if len(flat):
        deltas[1:] = np.diff(flat)
        deltas[doc_start] = flat[doc_start]
    raw, nbytes = _varint_bytes(deltas.astype(np.uint64))
    value_off = np.zeros(len(flat) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=value_off[1:])
    edges = value_off[np.append(doc_start, len(flat))]
    return raw, edges[:-1], edges[1:]


def _binary_column(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Rows ``data[offsets[i]:offsets[i + 1]]`` as an object array of
    bytes, built from one offsets buffer and one data buffer (int32
    offsets, as in the Arrow batches Spark exchanges)."""
    arr = pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [
            None,
            pa.py_buffer(offsets.astype(np.int32)),
            pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8)),
        ],
    )
    return arr.to_numpy(zero_copy_only=False)


def encode_blocks(
    doc: np.ndarray,
    tf: np.ndarray,
    norm: np.ndarray,
    bounds: np.ndarray,
    block_size: int | None = BLOCK_SIZE,
    positions: "tuple[bytes | np.ndarray, np.ndarray, np.ndarray] | None"
    = None,
) -> pd.DataFrame:
    """Encode many groups of postings into block rows at once — the
    inverse of ``decode_blocks``.

    ``doc``, ``tf`` and ``norm`` (norm bytes) hold one posting per doc,
    doc-sorted within each group; group g is rows
    ``bounds[g]:bounds[g + 1]`` (``bounds`` runs from 0 to the row
    count). Each group is cut into blocks of ``block_size`` docs, or
    kept whole as one block when ``block_size`` is None. ``positions``
    is ``(stream, lo, hi)``: a varint stream and each doc's byte span in
    it (``position_spans``, ``encode_positions``), in any order; or None
    for null ``pos_bin``.

    One row per block, in group order: ``group`` (the block's group
    index), num_docs, first_doc, last_doc, max_tf, min_nb, sum_tf,
    docs_bin (gaps, the first relative to first_doc), tfs_bin (tf - 1),
    norms_bin and pos_bin — byte for byte what ``encode_term_blocks``
    writes for each group, plus ``min_nb`` and ``sum_tf``."""
    doc = np.asarray(doc, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    norm = np.asarray(norm, dtype=np.uint8)
    bounds = np.asarray(bounds, dtype=np.int64)
    total = len(doc)
    glen = np.diff(bounds)
    step = glen if block_size is None else np.full(len(glen), block_size)
    per_group = np.where(glen > 0, -(-glen // np.maximum(step, 1)), 0)
    group = np.repeat(np.arange(len(glen)), per_group)
    first_block = np.zeros(len(glen), dtype=np.int64)
    np.cumsum(per_group[:-1], out=first_block[1:])
    start = bounds[:-1][group] + (
        np.arange(len(group)) - first_block[group]
    ) * step[group]
    edges = np.append(start, total)  # blocks tile the rows in order
    end = edges[1:]

    gaps = np.zeros(total, dtype=np.int64)
    gaps[1:] = np.diff(doc)
    gaps[start] = 0
    docs_raw, docs_n = _varint_bytes(gaps.astype(np.uint64))
    tfs_raw, tfs_n = _varint_bytes((tf - 1).astype(np.uint64))
    docs_off = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(docs_n, out=docs_off[1:])
    tfs_off = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(tfs_n, out=tfs_off[1:])
    out = pd.DataFrame(
        {
            "group": group,
            "num_docs": (end - start).astype(np.int32),
            "first_doc": doc[start],
            "last_doc": doc[end - 1],
            "max_tf": np.maximum.reduceat(tf, start).astype(np.int32),
            "min_nb": _BYTE_OF_RANK[
                np.minimum.reduceat(_NB_RANK[norm], start)
            ].astype(np.int32),
            "sum_tf": np.add.reduceat(tf, start),
            "docs_bin": _binary_column(docs_raw, docs_off[edges]),
            "tfs_bin": _binary_column(tfs_raw, tfs_off[edges]),
            "norms_bin": _binary_column(norm, edges),
            "pos_bin": np.full(len(group), None, dtype=object),
        }
    )
    if positions is not None:
        stream, lo, hi = positions
        raw = np.frombuffer(stream, dtype=np.uint8)
        lo = np.asarray(lo, dtype=np.int64)
        lens = np.asarray(hi, dtype=np.int64) - lo
        doc_off = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(lens, out=doc_off[1:])
        if np.array_equal(lo[1:], lo[:-1] + lens[:-1]):  # already in order
            raw = raw[lo[0] : lo[0] + doc_off[-1]] if total else raw[:0]
        else:  # lay the spans end to end in row order: one gather
            raw = raw[
                np.arange(doc_off[-1]) - np.repeat(doc_off[:-1] - lo, lens)
            ]
        out["pos_bin"] = _binary_column(raw, doc_off[edges])
    return out
