"""Vector math over array<float|double> embedding columns.

Everything is built from ``zip_with``/``aggregate``/``transform`` higher-
order functions — JVM-side Catalyst expressions, no Python round-trip, so a
cosine top-k over 100 TB of embeddings is a single codegen'd scan.
Accumulation is done in double regardless of the storage type so results
are deterministic and match a float64 oracle to ~1e-15.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL on zero-norm input (r9): under ANSI mode (Spark 4 default)
    a plain divide ERRORS on a zero divisor, so a single zero vector
    anywhere in a corpus would kill the whole similarity job.
    ``try_divide`` yields NULL instead, which sorts LAST under the
    descending rankings every similarity operator uses — a zero-norm
    vector simply never wins a top-k slot.  Identical doubles whenever
    both norms are nonzero (same fold, same grouping)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def simhash64(a: Column) -> Column:
    """Sign-bit sketch of the first 64 dims: bit i set iff a[i] > 0.
    For 64-d embeddings this is a full sign sketch; hamming distance on it
    approximates angular distance (SimHash/SRP, Charikar 2002).

    Unrolled bitwise-OR chain: ``shiftleft`` requires a literal int bit
    count, and an additive fold would overflow LongType at bit 63 under
    ANSI mode (bitwise OR cannot overflow).  ``F.get`` returns NULL past
    the array end, which the ``when`` treats as bit-unset."""
    out = F.lit(0).cast("long")
    for i in range(64):
        bit = F.when(F.get(a, i) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        out = out.bitwiseOR(bit)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
