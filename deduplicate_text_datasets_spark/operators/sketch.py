"""Broadcastable key-membership sketches for the fingerprint prefilter.

The self_similar / across_dedup prefilter (round-4 verdict item 1) ships a
probable-duplicate-key set to every fingerprint kernel so only candidate
positions ride the big exchange. The exact sorted-array set is capped by a
broadcast guard (default 2^24 keys = 128 MB); beyond it the round-4 code
fell back to NO prefilter — a cliff exactly where the mode matters most
(a 100-TB corpus at 1% dup density has ~10^9 distinct dup keys).

This module removes the cliff with a **Bloom filter fallback**: a fixed-
budget bitmap (default cap 64 MiB) whose false positives only ADD
candidate positions — the post-shuffle exact (h1, h2) stats filter
discards them — and whose zero false negatives keep recall exact. At the
cap the filter holds ~53M keys at <1% FP; past that FP rises gracefully
(the exchange grows, correctness never moves).

Build is distributed and driver-light: each dup key maps to k probe bit
positions inside an Arrow batch kernel, positions shuffle ONCE grouped by
bitmap slice (1 MiB slices), each task builds its slice, and the driver
collects m/8 bytes total — never per-key traffic. The SAME numpy probe
function runs at build time and membership time, so build/probe parity is
structural.

No reference analogue: the Rust engine (main.rs) holds the whole suffix
array on one machine and needs no candidate broadcast at all; the sketch
exists because the Spark plan replaces SA adjacency with a keyed exchange.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import worker_kernel

_U64 = np.uint64
_SM_GOLD = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)
_FLIP = _U64(0xA5A5A5A5A5A5A5A5)

# one bitmap slice = 2^23 bits = 1 MiB: big enough that slice count stays
# tiny (64 slices at the 64 MiB cap), small enough that a slice-build task
# is trivially memory-safe
_SLICE_BITS_LOG2 = 23

POSITION_SCHEMA = T.StructType([T.StructField("bitpos", T.LongType(), False)])
SLICE_SCHEMA = T.StructType(
    [
        T.StructField("slice_id", T.LongType(), False),
        T.StructField("chunk", T.BinaryType(), False),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — numpy uint64 wraps mod 2^64 (C semantics)."""
    z = (x + _SM_GOLD).astype(_U64, copy=False)
    z = (z ^ (z >> _U64(30))) * _SM_M1
    z = (z ^ (z >> _U64(27))) * _SM_M2
    return z ^ (z >> _U64(31))


class BloomSketch:
    """Vectorized double-hashing Bloom filter over int64 keys.

    ``contains`` is the membership kernel the fingerprint pass-2 filter
    calls per Arrow batch: k gather passes over the bitmap, no Python
    per-row work. Picklable (numpy bitmap + two ints) so it broadcasts
    like the sorted-array set it replaces.
    """

    def __init__(self, m_bits: int, k_probes: int, bits: np.ndarray):
        assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
        assert bits.dtype == np.uint8 and len(bits) == m_bits // 8
        self.m_bits = m_bits
        self.k_probes = k_probes
        self.bits = bits

    def probe_positions(self, keys_i64: np.ndarray) -> np.ndarray:
        """(n,) int64 keys -> (n, k) uint64 bit positions in [0, m)."""
        k = keys_i64.view(_U64) if keys_i64.dtype == np.int64 else keys_i64
        h1 = _splitmix64(k)
        h2 = _splitmix64(k ^ _FLIP) | _U64(1)  # odd => full-cycle stride
        steps = np.arange(self.k_probes, dtype=_U64)
        mask = _U64(self.m_bits - 1)
        return (h1[:, None] + steps[None, :] * h2[:, None]) & mask

    def add(self, keys_i64: np.ndarray) -> None:
        pos = self.probe_positions(keys_i64).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> _U64(3)).astype(np.int64),
            np.uint8(1) << (pos & _U64(7)).astype(np.uint8),
        )

    def contains(self, keys_i64: np.ndarray) -> np.ndarray:
        """(n,) int64 -> bool mask; no false negatives by construction."""
        if len(keys_i64) == 0:
            return np.zeros(0, dtype=bool)
        pos = self.probe_positions(keys_i64)
        byte = self.bits[(pos >> _U64(3)).astype(np.int64)]
        bit = (byte >> (pos & _U64(7)).astype(np.uint8)) & 1
        return bit.all(axis=1)


def sketch_contains(sketch, keys_i64: np.ndarray) -> np.ndarray:
    """Membership dispatch for the fingerprint kernel: a SORTED int64
    array (exact set, the under-guard path) or a BloomSketch."""
    if isinstance(sketch, np.ndarray):
        if len(sketch) == 0:
            return np.zeros(len(keys_i64), dtype=bool)
        idx = np.searchsorted(sketch, keys_i64).clip(0, len(sketch) - 1)
        return sketch[idx] == keys_i64
    return sketch.contains(keys_i64)


def size_bloom(n_keys: int, bits_per_key: int, max_bytes: int) -> tuple[int, int]:
    """(m_bits, k_probes) for ``n_keys``: next power of two >= n*bpk,
    capped at ``max_bytes``; k = ln2 * m/n clamped to [1, 8]."""
    want = max(64, n_keys * bits_per_key)
    m_bits = 1 << int(want - 1).bit_length()
    m_bits = min(m_bits, max_bytes * 8)
    k = int(round(0.6931 * m_bits / max(1, n_keys)))
    return m_bits, max(1, min(8, k))


def build_bloom_sketch(
    keys_df: DataFrame,
    n_keys: int,
    bits_per_key: int = 10,
    max_bytes: int = 64 << 20,
) -> BloomSketch:
    """Distributed Bloom build over a single-column ``k: bigint`` frame.

    Plan: mapInPandas (key batch -> unique probe bit positions, 8 B each,
    k per key) -> repartition-by-slice groupBy -> one task OR-builds each
    1 MiB slice -> driver collects ~m/8 bytes and concatenates. The only
    driver-side payload is the final bitmap; the only shuffle is
    8 B x k_probes per dup key (dup keys, not positions — already the
    small frame). treeAggregate-style whole-bitmap OR-reduction was
    rejected: it ships m/8 bytes per PARTITION instead of per slice.
    """
    m_bits, k_probes = size_bloom(n_keys, bits_per_key, max_bytes)
    proto = BloomSketch(m_bits, k_probes, np.zeros(m_bits // 8, np.uint8))
    slice_log2 = min(_SLICE_BITS_LOG2, int(m_bits).bit_length() - 1)
    slice_bytes = (1 << slice_log2) // 8

    def emit_positions(batches):
        for pdf in batches:
            keys = pdf["k"].to_numpy(np.int64)
            pos = proto.probe_positions(keys).ravel()
            yield pd.DataFrame({"bitpos": np.unique(pos).view(np.int64)})

    def build_slice(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = pdf["bitpos"].to_numpy(np.int64).view(_U64)
        sid = int(pos[0] >> _U64(slice_log2))
        local = pos - _U64(sid << slice_log2)
        chunk = np.zeros(slice_bytes, np.uint8)
        np.bitwise_or.at(
            chunk, (local >> _U64(3)).astype(np.int64),
            np.uint8(1) << (local & _U64(7)).astype(np.uint8),
        )
        return pd.DataFrame({"slice_id": [sid], "chunk": [chunk.tobytes()]})

    from pyspark.sql import functions as F

    positions = keys_df.select(F.col("k")).mapInPandas(
        worker_kernel(emit_positions), POSITION_SCHEMA
    )
    # logical (unsigned) shift: bitpos is a uint64 bit index viewed int64,
    # so the group key must match build_slice's `pos >> slice_log2`
    slices = positions.groupBy(
        F.shiftrightunsigned(F.col("bitpos"), slice_log2).alias("gslice")
    ).applyInPandas(worker_kernel(build_slice), SLICE_SCHEMA)
    bits = np.zeros(m_bits // 8, np.uint8)
    for row in slices.collect():
        off = row["slice_id"] * slice_bytes
        bits[off : off + slice_bytes] = np.frombuffer(row["chunk"], np.uint8)
    return BloomSketch(m_bits, k_probes, bits)
