"""Bloom-filtered term lookups — BloomFilteringPostingsFormat analogue.

Reference:
  - lucene/codecs/src/java/org/apache/lucene/codecs/bloom/FuzzySet.java
    (all-ones bitset sizes, single-hash membership ``pos = abs(hash) &
    bloomSize``, saturation-targeted sizing and downsizing)
  - .../bloom/MurmurHash2.java:41-78 (hash32 with seed 0x9747b28c,
    little-endian 4-byte words, sign-extended tail bytes)
  - .../bloom/DefaultBloomFilterFactory.java (size for 10% saturation,
    retire filters >90% saturated)
  - .../bloom/BloomFilteringPostingsFormat.java:324 (``contains == NO``
    short-circuits the terms-dict seek before any postings I/O)

Spark shape: Lucene keeps one FuzzySet per (segment, field) so a term
absent from a segment skips that segment's terms dictionary. Here the
pruning unit is the doc-range *split* (``first_doc // split_range`` —
the same unit the block-max WAND paths prune on): one bloom row per
split over that split's distinct terms, persisted as
``{index_dir}/blooms`` parquet ``(split, bloom_size, words
array<long>, n_terms, saturated)``. A query term's hash is computed
once on the driver (the term is a plan-time constant) and tested
against every split's words either

  - driver-side over a numpy cache read once with pyarrow when the
    whole bloom table is small (its parquet footers say how small), so
    opening the blooms and every lookup start no Spark job, or
  - as ONE narrow Catalyst scan over the blooms parquet (element_at +
    bit ops, no shuffle) when it is not — metadata-scale, far below the
    postings/blocks table it saves decoding.

Splits whose bloom answers NO are never decoded; a term absent from
every split short-circuits to an empty result without touching
postings at all. False positives only add a decoded-then-empty split,
so correctness is unaffected — exactly the reference's MAYBE/NO
contract. Saturated splits (>90% bits set) store NULL words and count
as MAYBE for every term, mirroring the reference's retire rule.

At 100 TB: blooms are built per split in executors (one applyInPandas
group per split, vectorized hashing), the table is ~(0.1-saturation
bits per distinct term) — orders of magnitude below the postings
store — and the query-side test is a broadcast-free metadata scan.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .segments import DriverParquet

_SEED = 0x9747B28C
_M = 0x5BD1E995
_MASK32 = 0xFFFFFFFF

# FuzzySet.usableBitSetSizes: 30 all-ones sizes 3, 7, 15, ... (2^31 - 1)
USABLE_BITSET_SIZES: list[int] = []
_size = 1
for _ in range(30):
    _size = (_size << 1) | 1
    USABLE_BITSET_SIZES.append(_size)


def murmur2_hash32(data: bytes) -> int:
    """Scalar MurmurHash2.hash32 (seed 0x9747b28c), bit-exact to the
    Java port (MurmurHash2.java:41-78): little-endian 4-byte words,
    SIGNED tail bytes (Java's byte sign-extension), 32-bit wrap.
    Returns the Java ``int`` value (may be negative)."""
    ln = len(data)
    h = (_SEED ^ ln) & _MASK32
    len_4 = ln >> 2
    for i in range(len_4):
        i4 = i << 2
        k = (
            (data[i4 + 3] << 24)
            | (data[i4 + 2] << 16)
            | (data[i4 + 1] << 8)
            | data[i4]
        )
        k = (k * _M) & _MASK32
        k ^= k >> 24
        k = (k * _M) & _MASK32
        h = (h * _M) & _MASK32
        h ^= k
    left = ln & 3
    if left:
        if left >= 3:
            b = data[ln - 3]
            h ^= ((b - 256 if b >= 128 else b) << 16) & _MASK32
        if left >= 2:
            b = data[ln - 2]
            h ^= ((b - 256 if b >= 128 else b) << 8) & _MASK32
        b = data[ln - 1]
        h ^= (b - 256 if b >= 128 else b) & _MASK32
        h = (h * _M) & _MASK32
    h ^= h >> 13
    h = (h * _M) & _MASK32
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def positive_hash(h: int) -> int:
    """FuzzySet.contains: ``if (hash < 0) hash = hash * -1`` in Java
    int arithmetic — Integer.MIN_VALUE negates to itself; the later
    ``& bloomSize`` (bloomSize = 2^k - 1 < 2^31) then keeps only the
    low bits, so we return the two's-complement uint32 of the
    negation, whose low 31 bits match Java's."""
    return ((-h) & _MASK32) if h < 0 else h


def murmur2_hash32_batch(values: Iterable[bytes]) -> np.ndarray:
    """Vectorized MurmurHash2.hash32 over many byte strings — numpy
    lockstep over padded little-endian word matrices (the same shape
    as functions/lookup3.py's kernel). Returns uint32 (two's
    complement of the Java int). Fuzz-pinned against the scalar
    transliteration in tests/test_bloom.py."""
    vals = list(values)
    n = len(vals)
    if n == 0:
        return np.zeros(0, dtype=np.uint32)
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    width = max(4, (maxlen + 3) & ~3)
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, v in enumerate(vals):
        if v:
            buf[i, : len(v)] = np.frombuffer(v, dtype=np.uint8)
    words = buf.view("<u4")  # (n, width // 4) little-endian words
    m = np.uint32(_M)
    h = (np.uint32(_SEED) ^ lens.astype(np.uint32)).astype(np.uint32)
    len_4 = lens >> 2
    with np.errstate(over="ignore"):
        for i in range(int(len_4.max()) if n else 0):
            active = len_4 > i
            k = words[:, i].copy()
            k *= m
            k ^= k >> np.uint32(24)
            k *= m
            h_new = (h * m) ^ k
            h = np.where(active, h_new, h)
        left = (lens & 3).astype(np.int64)
        rows = np.arange(n)

        def _tail_byte(offset_from_end: int) -> np.ndarray:
            idx = np.maximum(lens - offset_from_end, 0)
            return (
                buf[rows, idx]
                .astype(np.int8)
                .astype(np.int32)
                .view(np.uint32)
            )

        h = np.where(left >= 3, h ^ (_tail_byte(3) << np.uint32(16)), h)
        h = np.where(left >= 2, h ^ (_tail_byte(2) << np.uint32(8)), h)
        h = np.where(left >= 1, h ^ _tail_byte(1), h)
        h = np.where(left > 0, h * m, h)
        h ^= h >> np.uint32(13)
        h *= m
        h ^= h >> np.uint32(15)
    return h.astype(np.uint32)


def positive_hash_batch(h_u32: np.ndarray) -> np.ndarray:
    """Vector form of :func:`positive_hash` over uint32 hashes."""
    s = h_u32.view(np.int32).astype(np.int64)
    return np.where(s < 0, (-s) & _MASK32, s)


def estimated_unique_values(set_size: int, num_recorded_bits: int) -> int:
    """FuzzySet.getEstimatedNumberUniqueValuesAllowingForCollisions."""
    saturation = float(num_recorded_bits) / float(set_size)
    return int(float(set_size) * -math.log(1.0 - saturation))


def nearest_set_size(max_values: int, desired_saturation: float) -> int:
    """FuzzySet.getNearestSetSize(maxNumberOfValuesExpected,
    desiredSaturation): smallest all-ones size whose estimated unique
    capacity at the target saturation exceeds ``max_values``; -1 if
    none does (caller falls back to the largest)."""
    for size in USABLE_BITSET_SIZES:
        num_set = int(size * desired_saturation)
        if estimated_unique_values(size, num_set) > max_values:
            return size
    return -1


def _downsized(positions: np.ndarray, bloom_size: int,
               target_saturation: float) -> tuple[np.ndarray, int]:
    """FuzzySet.downsize: smallest all-ones size keeping
    cardinality/size <= target; set bits reproject with ``& newSize``
    (equivalent to re-deriving from the original hashes because the
    all-ones masks nest)."""
    cardinality = len(np.unique(positions & bloom_size))
    for size in USABLE_BITSET_SIZES:
        if float(cardinality) / float(size) <= target_saturation:
            if size < bloom_size:
                return positions & size, size
            break
    return positions & bloom_size, bloom_size


def _pack_words(positions: np.ndarray, bloom_size: int) -> np.ndarray:
    """FixedBitSet(bloomSize + 1) words: bit i lives in word i >> 6 at
    bit i & 63 (FixedBitSet.get's ``1L << i`` masks the shift)."""
    n_words = ((bloom_size + 1) + 63) >> 6
    words = np.zeros(n_words, dtype=np.uint64)
    np.bitwise_or.at(
        words,
        (positions >> 6).astype(np.int64),
        np.uint64(1) << (positions.astype(np.uint64) & np.uint64(63)),
    )
    return words.view(np.int64)


BLOOM_SCHEMA = (
    "split long, bloom_size int, words array<long>, "
    "n_terms long, saturated boolean"
)


def build_blooms(
    seg,
    saturation: float = 0.10,
    max_saturation: float = 0.9,
) -> DataFrame:
    """Build and persist per-split term blooms for a SegmentIndex —
    the BloomFilteringPostingsFormat write path (size for 10%
    saturation over the split's distinct terms, downsize(0.1) before
    serializing, retire >90%-saturated filters). One applyInPandas
    group per split over the (term, split) of each block; a term with
    several blocks in a split is de-duplicated in its group, so the
    build is one shuffle. Hashing is the vectorized numpy kernel.
    Returns the persisted blooms, read with BLOOM_SCHEMA."""
    split_range = seg.split_range

    def _one_split(pdf: pd.DataFrame) -> pd.DataFrame:
        split = int(pdf["split"].iloc[0])
        terms = pdf["term"].drop_duplicates()
        n = len(terms)
        size = nearest_set_size(n, saturation)
        if size == -1:
            size = USABLE_BITSET_SIZES[-1]
        hashes = murmur2_hash32_batch(
            t.encode("utf-8") for t in terms
        )
        pos = positive_hash_batch(hashes) & size
        pos, size = _downsized(pos, size, saturation)
        card = len(np.unique(pos))
        sat = float(card) / float(size)
        if sat > max_saturation:
            return pd.DataFrame(
                [[split, size, None, n, True]],
                columns=["split", "bloom_size", "words",
                         "n_terms", "saturated"],
            )
        words = _pack_words(pos, size)
        return pd.DataFrame(
            [[split, size, list(words), n, False]],
            columns=["split", "bloom_size", "words",
                     "n_terms", "saturated"],
        )

    pairs = seg.blocks.select(
        "term",
        (F.col("first_doc") / F.lit(split_range))
        .cast("long")
        .alias("split"),
    )
    out = pairs.groupBy("split").applyInPandas(_one_split, BLOOM_SCHEMA)
    path = f"{seg.index_dir}/blooms"
    out.coalesce(1).write.mode("overwrite").parquet(path)
    return seg.spark.read.schema(BLOOM_SCHEMA).parquet(path)


# Above this the whole bloom table stays distributed and each lookup is
# one narrow metadata scan; below it the table is read once to numpy on
# the driver and every lookup afterwards costs zero Spark jobs.
_DRIVER_CACHE_MAX_BYTES = 64 * 1024 * 1024


class BloomIndex:
    """Query-side view over the blooms persisted under ``index_dir`` —
    the FuzzySet ``contains`` path, answering "which splits might
    contain this term" (NO answers prune; MAYBE/saturated/null keep).

    Opening one starts no Spark job. The parquet footers price the
    table (the uncompressed bytes of its row groups) against
    _DRIVER_CACHE_MAX_BYTES; a table within it is read with pyarrow on
    the driver, one (split, bloom_size, words) per row. A larger one
    stays a lazy scan read with BLOOM_SCHEMA. Its footers are read
    fresh, not from a store view's cache: the blooms of a generation
    can be rebuilt."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        path = f"{index_dir}/blooms"
        self.blooms = spark.read.schema(BLOOM_SCHEMA).parquet(path)
        self._term_cache: dict[str, frozenset[int]] = {}
        footers = DriverParquet(index_dir).footers("blooms")
        nbytes = sum(
            meta.row_group(i).total_byte_size
            for _, meta in footers
            for i in range(meta.num_row_groups)
        )
        self._driver_rows = None
        if nbytes <= _DRIVER_CACHE_MAX_BYTES:
            self._driver_rows = []
            for p, meta in footers:
                t = pq.ParquetFile(p, metadata=meta).read(
                    columns=["split", "bloom_size", "words"]
                )
                for split, size, words in zip(
                    t.column("split").to_pylist(),
                    t.column("bloom_size").to_pylist(),
                    t.column("words"),
                ):
                    self._driver_rows.append((
                        split,
                        size,
                        words.values.to_numpy().view(np.uint64)
                        if words.is_valid
                        else None,
                    ))

    @classmethod
    def open(cls, seg) -> "BloomIndex":
        return cls(seg.spark, seg.index_dir)

    def _splits_one(self, term: str) -> frozenset[int]:
        cached = self._term_cache.get(term)
        if cached is not None:
            return cached
        h = positive_hash(murmur2_hash32(term.encode("utf-8")))
        if self._driver_rows is not None:
            keep = []
            for split, size, words in self._driver_rows:
                if words is None:
                    keep.append(split)
                    continue
                pos = h & size
                if (words[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1):
                    keep.append(split)
            result = frozenset(keep)
        else:
            cond = (
                F.col("words").isNull()
                | (
                    F.expr(
                        f"element_at(words, cast(({h} & bloom_size) "
                        f"div 64 as int) + 1) & shiftleft(cast(1 as "
                        f"bigint), cast(({h} & bloom_size) % 64 as "
                        f"int)) != 0"
                    )
                )
            )
            result = frozenset(
                int(r["split"])
                for r in self.blooms.where(cond).select("split").collect()
            )
        self._term_cache[term] = result
        return result

    def splits_for(self, terms: Iterable[str]) -> frozenset[int]:
        """Union over the query's terms of maybe-containing splits —
        the candidate set a multi-term scorer may touch. An empty set
        means every term is definitely absent everywhere."""
        out: frozenset[int] = frozenset()
        for t in terms:
            out = out | self._splits_one(t)
        return out
