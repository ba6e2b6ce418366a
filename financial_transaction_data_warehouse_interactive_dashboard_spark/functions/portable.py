"""Portable (Spark <-> DuckDB bit-identical) hashing and array primitives.

The driver's correctness gate hashes query outputs from Spark and from a
DuckDB oracle and compares them. Anything hash-based (minhash,
fingerprints, LSH buckets) therefore needs a hash function that produces
the SAME integer in both engines. Spark's ``hash``/``xxhash64`` and
DuckDB's ``hash`` are different algorithms, so we build one from the only
cryptographic primitive both ship with identical semantics: ``md5`` over
UTF-8 bytes, hex-decoded to a 60-bit integer (15 hex chars — fits a signed
BIGINT in both engines, no overflow, no sign games).

Each helper here returns a Spark ``Column`` and has a ``sql_*`` twin that
emits the equivalent DuckDB SQL fragment, so a query and its oracle are
authored side by side and cannot drift.

Parity of every primitive in this module is pinned by
tests/test_beyond_ops.py::test_portable_hash_parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus for rolling/polynomial hashes: large prime, products stay < 2^63.
ROLL_MOD = 1_000_000_007


def md5_long(col: Column | str, nhex: int = 15, start: int = 1) -> Column:
    """60-bit (default) portable hash of a string column; ``start`` picks
    the hex offset, so one md5 yields two independent 60-bit halves
    (start=1 and start=16) for double-hashing schemes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), start, nhex), 16, 10).cast("bigint")


def sql_md5_long(expr: str, nhex: int = 15, start: int = 1) -> str:
    """DuckDB twin of :func:`md5_long`."""
    return f"('0x' || substr(md5({expr}), {start}, {nhex}))::BIGINT"


# Inline Spark-SQL fragment (for use inside higher-order-function lambdas,
# where python Column objects can't reach).
def expr_md5_long(expr: str, nhex: int = 15) -> str:
    return f"cast(conv(substring(md5({expr}), 1, {nhex}), 16, 10) as bigint)"


def shingles(col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as strings (distinct — set semantics for
    jaccard). Spark: slice(words, i, n) over sequence(1, len-n+1).

    Documents shorter than ``n`` tokens yield an empty array via an
    explicit guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (never
    empty) and slice(w, 0, n) then raises — so short docs must never
    reach the transform. The DuckDB twin needs no guard (its range() is
    empty when the bound inverts)."""
    w = f"split({col}, ' ')"
    return F.expr(
        f"if(size({w}) < {n}, array(),"
        f" array_distinct(transform(sequence(1, size({w}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({w}, i, {n})))))"
    )


def sql_shingles(words: str = "w", n: int = 3) -> str:
    """DuckDB twin; ``words`` must name a token-list column (define it in a
    CTE — a bare expression would be re-evaluated per comprehension step).
    DuckDB list slicing x[i:j] is inclusive and 1-based; range(a, b) is
    exclusive of b — x[i:i+n-1] over range(1, len-n+2). Short docs:
    range(1, <1) is empty, matching the Spark guard's empty array — except
    sequence(1, 1) vs range(1, 1): for len == n both produce exactly one
    shingle, pinned in test_portable_hash_parity."""
    return (
        f"list_distinct([array_to_string({words}[i:i+{n - 1}], ' ')"
        f" for i in range(1, len({words}) - {n - 2})])"
    )
