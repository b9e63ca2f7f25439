"""FNV-1a64 sharding — parity with the reference's scale-out partitioner.

The reference routes each event to exactly one of N instances via
``FNV1a64(key) % count == index`` (blsenderwork.go:126-149), where key is a
rendered key-template, falling back to the 8 little-endian bytes of the binlog
position (blsenderwork.go:135-141). Go's ``hash/fnv`` 64-bit parameters:
offset basis 14695981039346656037, prime 1099511628211.

The relay applies the rule per row in its sender (pipeline._RouteSender),
with the scalar ``fnv1a64_bytes`` over the rendered key or the position
bytes, so the relay's Spark plan has no Python UDF. The column UDFs below
are for queries over position columns (q08, q103, property tests): a
*vectorized* Pandas UDF over numpy uint64 — Arrow-batched, ~100× faster
than a row-at-a-time Python UDF. Spark's own hash partitioning is Murmur3;
FNV parity matters only when shard ids must agree with the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

FNV_OFFSET_BASIS = 14695981039346656037
FNV_PRIME = 1099511628211

_U64_OFFSET = np.uint64(FNV_OFFSET_BASIS)
_U64_PRIME = np.uint64(FNV_PRIME)
_U64_FF = np.uint64(0xFF)


def _fnv1a64_u64_le8(values: np.ndarray) -> np.ndarray:
    """FNV-1a64 over the 8 little-endian bytes of each uint64 (vectorized).

    Matches the reference's position fallback: binary.LittleEndian.PutUint64
    then hash.Write (blsenderwork.go:142-147).
    """
    h = np.full(values.shape, _U64_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(8):
            byte = (values >> np.uint64(8 * i)) & _U64_FF
            h = (h ^ byte) * _U64_PRIME
    return h


def fnv1a64_bytes(data: bytes) -> int:
    """Scalar FNV-1a64 over arbitrary bytes (Go hash/fnv semantics) —
    the relay sender's shard hash, and unit-test vectors."""
    h = FNV_OFFSET_BASIS
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


@pandas_udf(LongType())
def fnv1a64_position(pos: pd.Series) -> pd.Series:
    """Column UDF: FNV-1a64 of the 8 LE bytes of a bigint position.

    Returns the hash reinterpreted as signed int64 (two's complement); use
    ``make_shard_udf`` for the unsigned ``% count`` the reference applies.
    """
    v = pos.to_numpy(dtype=np.int64).view(np.uint64)
    return pd.Series(_fnv1a64_u64_le8(v).view(np.int64))


def make_shard_udf(count: int):
    """Shard assignment ``FNV1a64(le8(pos)) % count`` with *unsigned* modulo,
    exactly as Go computes ``hash % uint64(count)`` (blsenderwork.go:147)."""
    u_count = np.uint64(count)

    @pandas_udf(LongType())
    def shard_of_position(pos: pd.Series) -> pd.Series:
        v = pos.to_numpy(dtype=np.int64).view(np.uint64)
        return pd.Series((_fnv1a64_u64_le8(v) % u_count).view(np.int64))

    return shard_of_position
