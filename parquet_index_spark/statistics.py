"""Membership filter statistics: bloom and dictionary filters.

Mirrors the semantics of the reference's ColumnFilterStatistics
(ColumnFilterStatistics.scala:251-393): a per-(file, block, column)
membership structure consulted for EqualTo / In after min-max passes —
and, beyond the reference, for short integral ranges, whose every value
is probed (pruning.RANGE_PROBE_MAX).

- bloom: expected items = min(block rows, 2**20), fpp configurable,
  default 0.001 — a divergence from the reference, which fixes 0.03
  (ColumnFilterStatistics.scala:256): a point read over n blocks opens
  about n * fpp false-positive files, 12 of 400 at 0.03 against 0.4 at
  0.001, for about 7 more bits per distinct value per block. Each bloom
  carries its own geometry (m, k), so blooms built at any fpp probe and
  fold together. Double hashing with a kind-dependent hash pair —
  splitmix64-style mixing for long-space values (numpy-vectorizable: the
  index BUILD hashes whole blocks as one uint64 array pass) and blake2b
  for strings (one hash per value); bits are set and tested in one numpy
  pass per hash round. Serialized to bytes and
  stored as a *binary column in the metadata parquet* rather than side
  files — one metadata read instead of O(files) small reads at prune time.
  Format magic is versioned: blooms written by an older format fail the
  magic check and degrade to "no filter" (scan, always sound).
- dict: exact membership (reference uses a Kryo HashSet,
  ColumnFilterStatistics.scala:313-358); ours stores the distinct values as
  a list column, capped at ``dict_max_size`` (falls back to bloom above the
  cap to bound metadata size — the reference's dict is unbounded, which does
  not survive high-cardinality columns at scale).
"""

from __future__ import annotations

import hashlib
import math
import struct
from typing import Any, Iterable, Optional

import numpy as np

from parquet_index_spark import types as ityp

BLOOM_FPP = 0.001
BLOOM_MAX_ITEMS = 1 << 20
_MAGIC = b"PIBLOOM2"
BLOOM_FORMAT = 2
_BITMAP_MAGIC = b"PIBITMP1"
# widest (max-min) span a dense bitmap will cover per block x column:
# 2^20 bits = 128 KiB worst case; wider spans fall back to bloom
BITMAP_MAX_RANGE = 1 << 20


def _hash_pair(data: bytes) -> tuple:
    """Two independent 64-bit hashes via blake2b (deterministic everywhere)."""
    d = hashlib.blake2b(data, digest_size=16).digest()
    h1, h2 = struct.unpack(">QQ", d)
    return h1, h2 | 1  # make h2 odd so strides cover the bit space


_M64 = 0xFFFFFFFFFFFFFFFF
_MIX_C1 = 0xFF51AFD7ED558CCD
_MIX_C2 = 0xC4CEB9FE1A85EC53
_GOLDEN = 0x9E3779B97F4A7C15


def _mix64(x: int) -> int:
    """splitmix64/murmur3 finalizer — full-avalanche 64-bit mix."""
    x &= _M64
    x ^= x >> 33
    x = (x * _MIX_C1) & _M64
    x ^= x >> 33
    x = (x * _MIX_C2) & _M64
    x ^= x >> 33
    return x


def _hash_pair_long(v: int) -> tuple:
    """Double-hash pair for a long-space value (mirrors the numpy builder)."""
    h1 = _mix64(v)
    h2 = _mix64((h1 + _GOLDEN) & _M64)
    return h1, h2 | 1


def hash_pair_for(value, kind: str) -> tuple:
    """The bloom hash pair for a stat-normalized value of ``kind``."""
    if isinstance(value, str):
        return _hash_pair(value.encode("utf-8"))
    return _hash_pair_long(int(value))


def _mix64_np(x):
    """`_mix64` over a uint64 array (numpy arithmetic wraps at 64 bits)."""
    x = x ^ (x >> np.uint64(33))
    x *= np.uint64(_MIX_C1)
    x ^= x >> np.uint64(33)
    x *= np.uint64(_MIX_C2)
    x ^= x >> np.uint64(33)
    return x


def _hash_pairs_long(values) -> tuple:
    """`_hash_pair_long` over an int64 array: (h1, h2) uint64 arrays."""
    h1 = _mix64_np(np.asarray(values, dtype=np.int64).view(np.uint64))
    return h1, _mix64_np(h1 + np.uint64(_GOLDEN)) | np.uint64(1)


def hash_pairs_for(values) -> tuple:
    """`hash_pair_for` over many stat-normalized values: (h1, h2) uint64
    arrays — one numpy pass for long-space values, one blake2b each for
    strings."""
    if not any(isinstance(v, str) for v in values):
        return _hash_pairs_long(values)
    pairs = [hash_pair_for(v, None) for v in values]
    return (np.array([p[0] for p in pairs], dtype=np.uint64),
            np.array([p[1] for p in pairs], dtype=np.uint64))


# (block, value) pairs one numpy pass of a multi-value probe holds
_PROBE_CHUNK = 1 << 18


def _pairs(n_rows: int, n_vals: int):
    """Every (row, value) index pair, in chunks of at most _PROBE_CHUNK."""
    step = max(1, _PROBE_CHUNK // max(n_vals, 1))
    for lo in range(0, n_rows, step):
        hi = min(lo + step, n_rows)
        yield (np.repeat(np.arange(lo, hi), n_vals),
               np.tile(np.arange(n_vals), hi - lo))


def _ragged(rows: list) -> Optional[tuple]:
    """Per-block filters as one ragged group: ``rows`` of (block id, a, b,
    payload bytes) -> (ids, a int64[g], b int64[g], byte_offsets int64[g+1],
    concat uint8[~]); None when empty."""
    if not rows:
        return None
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(r[3]) for r in rows])
    return (np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.int64),
            np.array([r[2] for r in rows], dtype=np.int64), offs,
            np.frombuffer(b"".join(r[3] for r in rows), dtype=np.uint8))


def _bloom_any(m, k, offs, concat, rows, h1, h2):
    """bool[len(rows)]: might bloom ``rows[j]`` of a ragged group (geometry
    ``m[row]``, ``k[row]``; bits in ``concat[offs[row]:offs[row + 1]]``)
    contain ANY value of the hash pairs (h1, h2)? One numpy pass per hash
    round over the (row, value) pairs still alive: a pair drops at its
    first unset bit and hits once all of its row's k bits are set."""
    out = np.zeros(len(rows), dtype=bool)
    for r, v in _pairs(len(rows), len(h1)):
        b = rows[r]
        mb, kb, i = m[b].astype(np.uint64), k[b], 0
        while len(r):
            idx = (h1[v] + np.uint64(i) * h2[v]) % mb
            byte = concat[offs[b] + (idx >> np.uint64(3)).astype(np.int64)]
            ok = ((byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1) > 0
            i += 1
            out[r[ok & (kb <= i)]] = True
            keep = ok & (kb > i)
            r, v, b, mb, kb = r[keep], v[keep], b[keep], mb[keep], kb[keep]
    return out


def _bitmap_any(vmins, nbits, offs, concat, rows, vals):
    """bool[len(rows)]: does dense bitmap ``rows[j]`` of a ragged group
    (bit ``v - vmins[row]`` in ``concat[offs[row]:offs[row + 1]]``) hold
    ANY of the long-space values ``vals``?"""
    out = np.zeros(len(rows), dtype=bool)
    vals = np.asarray(vals, dtype=np.int64)
    for r, v in _pairs(len(rows), len(vals)):
        b = rows[r]
        idx = vals[v] - vmins[b]
        ok = (idx >= 0) & (idx < nbits[b])
        r, b, idx = r[ok], b[ok], idx[ok]
        byte = concat[offs[b] + (idx >> 3)]
        out[r[((byte >> (idx & 7).astype(np.uint8)) & 1) > 0]] = True
    return out


class BloomFilter:
    """Fixed-size bloom filter with k rounds of double hashing."""

    __slots__ = ("num_bits", "num_hashes", "bits")

    def __init__(self, num_bits: int, num_hashes: int, bits: Optional[bytearray] = None):
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.bits = bits if bits is not None else bytearray((num_bits + 7) // 8)

    @classmethod
    def create(cls, expected_items: int, fpp: float = BLOOM_FPP) -> "BloomFilter":
        n = max(1, min(int(expected_items), BLOOM_MAX_ITEMS))
        m = max(8, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        # k rounds down, so for any fpp below 1/2, m * ln2 / k (describe's
        # design capacity, read back from the stored geometry) is never
        # below n. At fpp 0.001 rounding up would give k = 10 > 9.97 and
        # read a filter holding exactly n items as over capacity; k = 9
        # costs ~3% in fpp
        k = max(1, math.floor(m / n * math.log(2)))
        return cls(m, k)

    def put_bytes(self, data: bytes) -> None:
        self.put_pair(*_hash_pair(data))

    def put_pair(self, h1: int, h2: int) -> None:
        # (h1 + i*h2) wraps at 64 bits so the scalar probe, the numpy
        # builder, and the executor-side UDF all index identical bits
        m = self.num_bits
        for i in range(self.num_hashes):
            idx = ((h1 + i * h2) & _M64) % m
            self.bits[idx >> 3] |= 1 << (idx & 7)

    def might_contain_pair(self, h1: int, h2: int) -> bool:
        m = self.num_bits
        for i in range(self.num_hashes):
            idx = ((h1 + i * h2) & _M64) % m
            if not (self.bits[idx >> 3] >> (idx & 7)) & 1:
                return False
        return True

    def put(self, value: Any, kind: str) -> None:
        v = ityp.literal_to_stat_value(value, kind)
        self.put_pair(*hash_pair_for(v, kind))

    def might_contain(self, value: Any, kind: str) -> bool:
        v = ityp.literal_to_stat_value(value, kind)
        return self.might_contain_pair(*hash_pair_for(v, kind))

    def put_pairs(self, h1, h2) -> None:
        """Insert hash-pair arrays: one numpy pass per hash round, setting
        bits in place (work grows with the values, not the filter, so
        batches can stream into a filter sized for a whole table)."""
        m = np.uint64(self.num_bits)
        bits = np.frombuffer(self.bits, dtype=np.uint8)  # writable view
        for i in range(self.num_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1),
                                           (idx & np.uint64(7))
                                           .astype(np.uint8)))

    def put_longs_vectorized(self, values) -> None:
        """Insert an int64 numpy array in O(k) vectorized passes."""
        self.put_pairs(*_hash_pairs_long(values))

    def might_contain_longs_vectorized(self, values):
        """Vectorized membership probe for an int64 numpy array — the
        read-side mirror of :meth:`put_longs_vectorized` (identical hash
        pipeline, so a value inserted by one is always found by the
        other). Returns a numpy bool array."""
        h1, h2 = _hash_pairs_long(values)
        m = np.uint64(self.num_bits)
        bits = np.frombuffer(self.bits, dtype=np.uint8)
        out = np.ones(len(h1), dtype=bool)
        for i in range(self.num_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            out &= ((byte >> (idx & np.uint64(7)).astype(np.uint8))
                    & np.uint8(1)).astype(bool)
        return out

    def might_contain_any(self, h1, h2) -> bool:
        """Might any value of the hash-pair arrays be present?"""
        return bool(_bloom_any(
            np.array([self.num_bits]), np.array([self.num_hashes]),
            np.zeros(1, dtype=np.int64),
            np.frombuffer(self.bits, dtype=np.uint8),
            np.zeros(1, dtype=np.int64), h1, h2)[0])

    def to_bytes(self) -> bytes:
        header = _MAGIC + struct.pack(">II", self.num_bits, self.num_hashes)
        return header + bytes(self.bits)

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        if data[:8] != _MAGIC:
            raise ValueError("not a serialized BloomFilter")
        num_bits, num_hashes = struct.unpack(">II", data[8:16])
        return cls(num_bits, num_hashes, bytearray(data[16:]))


class BitmapFilter:
    """Dense bitmap over a block's integer value span — EXACT membership
    for long-space columns, the reference's RoaringBitmap int-column path
    (ColumnFilterStatistics.scala:364-393) re-expressed as an offset
    bitset: bit (v - min) is set iff v occurred in the block. No false
    positives, no false negatives inside the span; values outside
    [min, min + num_bits) are definitively absent.

    Serialized into the same binary metadata column as blooms and
    dispatched by magic, so no metadata schema change: readers that see an
    unknown magic degrade to "no filter" (scan, always sound)."""

    __slots__ = ("vmin", "num_bits", "bits")

    def __init__(self, vmin: int, num_bits: int,
                 bits: Optional[bytearray] = None):
        self.vmin = vmin
        self.num_bits = num_bits
        self.bits = bits if bits is not None else bytearray((num_bits + 7) // 8)

    @classmethod
    def from_values(cls, values) -> Optional["BitmapFilter"]:
        """Build from normalized long-space values; None if the span is too
        wide for a dense representation (caller falls back to bloom)."""
        arr = np.asarray(list(values), dtype=np.int64)
        if len(arr) == 0:
            return cls(0, 1)
        vmin = int(arr.min())
        span = int(arr.max()) - vmin + 1
        if span > BITMAP_MAX_RANGE:
            return None
        out = cls(vmin, span)
        bits = np.frombuffer(out.bits, dtype=np.uint8).copy()
        idx = (arr - vmin).astype(np.int64)
        np.bitwise_or.at(bits, idx >> 3,
                         np.left_shift(np.uint8(1),
                                       (idx & 7).astype(np.uint8)))
        out.bits = bytearray(bits.tobytes())
        return out

    def might_contain(self, value: Any, kind: str) -> bool:
        v = int(ityp.literal_to_stat_value(value, kind))
        idx = v - self.vmin
        if idx < 0 or idx >= self.num_bits:
            return False
        return bool((self.bits[idx >> 3] >> (idx & 7)) & 1)

    def might_contain_any(self, values) -> bool:
        """Does the block hold any of the long-space ``values``?"""
        return bool(_bitmap_any(
            np.array([self.vmin]), np.array([self.num_bits]),
            np.zeros(1, dtype=np.int64),
            np.frombuffer(self.bits, dtype=np.uint8),
            np.zeros(1, dtype=np.int64), values)[0])

    def to_bytes(self) -> bytes:
        header = _BITMAP_MAGIC + struct.pack(">qI", self.vmin, self.num_bits)
        return header + bytes(self.bits)

    @classmethod
    def from_bytes(cls, data: bytes) -> "BitmapFilter":
        if data[:8] != _BITMAP_MAGIC:
            raise ValueError("not a serialized BitmapFilter")
        vmin, num_bits = struct.unpack(">qI", data[8:20])
        return cls(vmin, num_bits, bytearray(data[20:]))


class DictFilter:
    """Exact membership over a set of normalized values (long-space or str)."""

    __slots__ = ("values",)

    def __init__(self, values: set):
        self.values = values

    def might_contain(self, value: Any, kind: str) -> bool:
        return ityp.literal_to_stat_value(value, kind) in self.values


class MembershipFilter:
    """Uniform wrapper the pruner consults: dict, bitmap, or bloom."""

    __slots__ = ("dict_filter", "bloom_filter", "bitmap_filter")

    def __init__(self, dict_filter: Optional[DictFilter],
                 bloom_filter: Optional[BloomFilter],
                 bitmap_filter: Optional[BitmapFilter] = None):
        self.dict_filter = dict_filter
        self.bloom_filter = bloom_filter
        self.bitmap_filter = bitmap_filter

    def might_contain(self, value: Any, kind: str) -> bool:
        if self.dict_filter is not None:
            return self.dict_filter.might_contain(value, kind)
        if self.bitmap_filter is not None:
            return self.bitmap_filter.might_contain(value, kind)
        if self.bloom_filter is not None:
            return self.bloom_filter.might_contain(value, kind)
        return True


class ColumnMembership:
    """Vectorized membership probe over ALL blocks of one column.

    Replaces the round-1 per-block object list (built with iterrows and
    probed in a Python for-loop — fine at 10^4 blocks, pathological at
    millions): dict values live in one concatenated array per value type
    with per-type block offsets and are probed with a single np.isin pass;
    blooms and bitmaps each live in one ragged byte array with per-block
    geometry and offsets, so a probe is one numpy pass per bit test over
    the (candidate block, value) pairs, whatever mix of geometries the
    blocks were built with.
    """

    def __init__(self, n: int):
        self.n = n
        self.has_filter = np.zeros(n, dtype=bool)
        self.has_dict = np.zeros(n, dtype=bool)
        self.long_offsets = np.zeros(n + 1, dtype=np.int64)
        self.str_offsets = np.zeros(n + 1, dtype=np.int64)
        self.dict_long: Optional[Any] = None   # int64[total_long]
        self.dict_str: Optional[Any] = None    # object[total_str]
        # ragged groups (`_ragged`): (row_ids, num_bits int64[g],
        #   num_hashes int64[g], byte_offsets int64[g+1], concat uint8[~])
        self.bloom_group: Optional[tuple] = None
        # (row_ids, vmins int64[g], nbits int64[g], byte_offsets, concat)
        self.bitmap_group: Optional[tuple] = None

    # -- construction ------------------------------------------------------
    @classmethod
    def build(cls, dict_long_col, dict_str_col, bloom_col) -> "ColumnMembership":
        """From the aligned metadata arrays (object arrays of list/bytes/None)."""
        n = len(bloom_col)
        out = cls(n)
        long_parts: list = []
        str_parts: list = []
        bloom_rows: list = []
        bitmap_rows: list = []
        li = si = 0
        for i in range(n):
            dl, ds, bb = dict_long_col[i], dict_str_col[i], bloom_col[i]
            if dl is not None and not isinstance(dl, float) and len(dl) > 0:
                long_parts.append(np.asarray(dl, dtype=np.int64))
                li += len(dl)
                out.has_dict[i] = True
                out.has_filter[i] = True
            elif ds is not None and not isinstance(ds, float) and len(ds) > 0:
                str_parts.append(np.asarray(ds, dtype=object))
                si += len(ds)
                out.has_dict[i] = True
                out.has_filter[i] = True
            elif isinstance(bb, (bytes, bytearray)) and len(bb) >= 16 \
                    and bytes(bb[:8]) == _MAGIC:
                m, k = struct.unpack(">II", bb[8:16])
                bloom_rows.append((i, m, k, bytes(bb[16:])))
                out.has_filter[i] = True
            elif isinstance(bb, (bytes, bytearray)) and len(bb) >= 20 \
                    and bytes(bb[:8]) == _BITMAP_MAGIC:
                vmin, nbit = struct.unpack(">qI", bb[8:20])
                bitmap_rows.append((i, vmin, nbit, bytes(bb[20:])))
                out.has_filter[i] = True
            out.long_offsets[i + 1] = li
            out.str_offsets[i + 1] = si
        if long_parts:
            out.dict_long = np.concatenate(long_parts)
        if str_parts:
            out.dict_str = np.concatenate(str_parts)
        out.bloom_group = _ragged(bloom_rows)
        out.bitmap_group = _ragged(bitmap_rows)
        return out

    @classmethod
    def from_filters(cls, filters: list) -> "ColumnMembership":
        """From a per-block MembershipFilter list (test fixtures / legacy)."""
        n = len(filters)
        dict_long = [None] * n
        dict_str = [None] * n
        bloom = [None] * n
        for i, mf in enumerate(filters):
            if mf is None:
                continue
            if mf.dict_filter is not None:
                vals = list(mf.dict_filter.values)
                if vals and isinstance(next(iter(vals)), str):
                    dict_str[i] = vals
                else:
                    dict_long[i] = vals
            elif mf.bitmap_filter is not None:
                bloom[i] = mf.bitmap_filter.to_bytes()
            elif mf.bloom_filter is not None:
                bloom[i] = mf.bloom_filter.to_bytes()
        return cls.build(dict_long, dict_str, bloom)

    # -- probing -----------------------------------------------------------
    def refine_prefix(self, candidates, prefix: str):
        """AND the candidate mask with "some stored string starts with
        ``prefix``" for blocks carrying a STRING dict filter.

        Only string dicts hold prefix evidence: bloom/bitmap filters are
        hash-based (a prefix has no hash) and long dicts are a different
        type — all of those pass through unchanged (sound). One vectorized
        pass: flag every stored value, then segment-reduce per block over
        the dict offsets.
        """
        if self.dict_str is None or not prefix or not candidates.any():
            return candidates
        str_counts = np.diff(self.str_offsets)
        probe = candidates & (str_counts > 0)
        if not probe.any():
            return candidates
        # probe ONLY the values of candidate blocks (range-surviving —
        # typically a handful): a startswith over the whole concatenated
        # dict pool would be O(total stored values) per query at
        # metadata scale
        val_sel = np.repeat(probe, str_counts)
        vals = self.dict_str[val_sel]
        flags = np.fromiter((s.startswith(prefix) for s in vals),
                            dtype=bool, count=len(vals))
        nz = np.nonzero(probe)[0]
        # within the selected pool, candidate segments are contiguous;
        # their starts are the cumulative counts of the PRIOR candidates
        starts = np.concatenate(
            ([0], np.cumsum(str_counts[nz])[:-1]))
        seg_any = np.add.reduceat(flags.astype(np.int64), starts) > 0
        out = candidates.copy()
        out[nz] &= seg_any
        return out

    def refine(self, candidates, values: list, kind: str):
        """AND the candidate mask with "some probe value might be present".

        ``values`` are already stat-normalized (long-space ints or strings).
        Blocks without any membership filter pass through unchanged; the
        whole probe is numpy column operations — no per-block Python.
        """
        if not len(values):
            return candidates
        out = candidates & ~self.has_filter
        int_vals = [v for v in values if not isinstance(v, str)]
        str_vals = [v for v in values if isinstance(v, str)]
        if self.has_dict.any():
            dict_hit = np.zeros(self.n, dtype=bool)
            if self.dict_long is not None and int_vals:
                pos = np.nonzero(np.isin(self.dict_long,
                                         np.array(int_vals, dtype=np.int64)))[0]
                blk = np.searchsorted(self.long_offsets, pos, side="right") - 1
                dict_hit[blk] = True
            if self.dict_str is not None and str_vals:
                pos = np.nonzero(np.isin(self.dict_str,
                                         np.array(str_vals, dtype=object)))[0]
                blk = np.searchsorted(self.str_offsets, pos, side="right") - 1
                dict_hit[blk] = True
            out |= candidates & self.has_dict & dict_hit
        # bitmaps and blooms test only the candidate blocks, every
        # (block, value) pair in one numpy pass per bit test
        if self.bitmap_group is not None and int_vals:
            ids, vmins, nbits, offs, concat = self.bitmap_group
            rows = np.nonzero(candidates[ids])[0]
            out[ids[rows]] |= _bitmap_any(vmins, nbits, offs, concat, rows,
                                          int_vals)
        if self.bloom_group is not None:
            ids, m, k, offs, concat = self.bloom_group
            rows = np.nonzero(candidates[ids])[0]
            out[ids[rows]] |= _bloom_any(m, k, offs, concat, rows,
                                         *hash_pairs_for(values))
        return out

    def refine_against_filter(self, candidates, probe: "BloomFilter",
                              kind: str):
        """AND the candidate mask with "some of this block's DICT values
        hit ``probe``" — the reverse-direction membership test behind
        ``predicates.InBloom`` (fact-block dict values probed against a
        dim-key bloom).

        Only EXACT evidence can refute: dict blocks (stored distinct
        values) and — for long-space columns — bitmap blocks (dense
        offset bitsets), since the probe bloom has no false negatives a
        block whose every stored value misses cannot contain a probe-set
        key. Bloom blocks and filter-less blocks pass through (two
        approximate summaries cannot soundly refute each other without
        shared geometry). Vectorized: one hash pipeline pass over the
        concatenated long dict, per-block any() via reduceat over the
        non-empty segments (empty blocks occupy zero width in the concat
        array, so consecutive non-empty starts delimit exactly the
        non-empty blocks); string dicts probe each UNIQUE value once;
        bitmaps enumerate their set bits per block."""
        refutable = self.has_dict.copy()
        bitmap_ok = self.bitmap_group is not None and kind != ityp.STRING
        if bitmap_ok:
            refutable[self.bitmap_group[0]] = True
        out = candidates & ~refutable
        if not (candidates & refutable).any():
            return out
        hit = np.zeros(self.n, dtype=bool)

        def _per_block_any(mask, offsets):
            starts, ends = offsets[:-1], offsets[1:]
            nonempty = np.nonzero(ends > starts)[0]
            if not len(nonempty):
                return
            seg = np.add.reduceat(mask.astype(np.int64),
                                  starts[nonempty])
            hit[nonempty] |= seg > 0

        if self.dict_long is not None and kind != ityp.STRING:
            _per_block_any(
                probe.might_contain_longs_vectorized(self.dict_long),
                self.long_offsets)
        if self.dict_str is not None and kind == ityp.STRING:
            uniq, inv = np.unique(
                np.asarray(self.dict_str, dtype=object),
                return_inverse=True)
            uhit = np.fromiter(
                (probe.might_contain(u, kind) for u in uniq),
                dtype=bool, count=len(uniq))
            _per_block_any(uhit[inv], self.str_offsets)
        if bitmap_ok:
            ids, vmins, nbits, offs, concat = self.bitmap_group
            for j, i in enumerate(ids):
                if not candidates[i]:
                    continue
                seg = concat[offs[j]:offs[j + 1]]
                pos = np.nonzero(np.unpackbits(seg, bitorder="little"))[0]
                pos = pos[pos < nbits[j]]
                if len(pos) and bool(probe.might_contain_longs_vectorized(
                        (vmins[j] + pos).astype(np.int64)).any()):
                    hit[i] = True
        out |= candidates & refutable & hit
        return out


def build_filters(unique_values: Iterable[Any], kind: str, filter_type: str,
                  dict_max_size: int, block_rows: int,
                  bloom_fpp: float = BLOOM_FPP) -> tuple:
    """Build (dict_values_list | None, bloom_bytes | None) for one block x column.

    ``unique_values`` are already-normalized (long-space int or str), nulls
    excluded. Chooses dict when requested and small enough, else bloom.
    """
    values = list(unique_values)
    if filter_type == "dict" and len(values) <= dict_max_size:
        return values, None
    if filter_type == "bitmap" and values and not isinstance(values[0], str):
        bm = BitmapFilter.from_values(values)
        if bm is not None:
            return None, bm.to_bytes()
        # span too wide for a dense bitmap: bloom below (sound, inexact)
    bloom = BloomFilter.create(max(len(values), 1) if values else 1, bloom_fpp)
    # each value hashed once; one numpy pass per hash round sets the bits
    bloom.put_pairs(*hash_pairs_for(values))
    return None, bloom.to_bytes()
