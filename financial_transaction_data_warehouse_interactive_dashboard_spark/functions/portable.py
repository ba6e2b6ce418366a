"""Portable (Spark <-> DuckDB bit-identical) hashing and array primitives.

The driver's correctness gate hashes query outputs from Spark and from a
DuckDB oracle and compares them. Anything hash-based (minhash, simhash,
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


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization. The documents fixture is single-space
    separated; ``split`` on one space is identical in both engines."""
    return F.split(F.col(col), " ")


def sql_tokens(expr: str = "text") -> str:
    return f"string_split({expr}, ' ')"


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


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard similarity of two (distinct-element) array columns."""
    return (
        F.size(F.array_intersect(F.col(a), F.col(b)))
        / F.size(F.array_union(F.col(a), F.col(b)))
    ).cast("double")


def sql_jaccard(a: str, b: str) -> str:
    return (
        f"len(list_intersect({a}, {b}))::DOUBLE"
        f" / len(list_distinct(list_concat({a}, {b})))"
    )


def spark_dot_sql(a: str, b: str) -> str:
    """Spark-SQL fragment for the in-order fold dot product — usable
    inside higher-order-function lambdas (where Column objects can't
    reach); :func:`dot` / :func:`cosine` wrap it."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D,"
        " (acc, x) -> acc + x)"
    )


def spark_norm_sql(a: str) -> str:
    """Spark-SQL fragment for the Euclidean norm of an array column —
    the exact sub-expression :func:`cosine` computes per side, exposed
    so callers can pre-compute a side's norm ONCE (e.g. per broadcast
    centroid) and keep ``dot / (norm_a * norm_b)`` bit-identical to the
    inline cosine (same IEEE ops in the same order)."""
    return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


def spark_cosine_sql(a: str, b: str) -> str:
    """Spark-SQL fragment for :func:`cosine` (for HOF-lambda use)."""
    return (
        f"{spark_dot_sql(a, b)}"
        f" / ({spark_norm_sql(a)} * {spark_norm_sql(b)})"
    )


def spark_cosine_prenorm_sql(a: str, b: str, na: str, nb: str) -> str:
    """:func:`cosine` with both norms pre-computed (``na``/``nb`` must
    hold exactly :func:`spark_norm_sql` of their side): the quotient
    ``dot / (na * nb)`` is the identical IEEE expression tree, so the
    result is bit-equal to the inline form while evaluating each norm
    once instead of once per candidate pair."""
    return f"{spark_dot_sql(a, b)} / ({na} * {nb})"


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side (no UDF):
    zip_with dot product + aggregate norms. Summation is in array order in
    both Spark and DuckDB, so results are bit-identical; outputs should
    still be rounded before crossing the oracle boundary (last-ulp hygiene
    for any future engine change)."""
    return F.expr(spark_cosine_sql(a, b))


def sql_cosine(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}, {b})"


def dot(a: str, b: str) -> Column:
    """Inner product of two array<double> columns, JVM-side — the
    numerator of :func:`cosine`, summed in array order (bit-identical to
    the DuckDB twin for the same reason)."""
    return F.expr(spark_dot_sql(a, b))


def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def spark_dot_fixed_sql(a: str, b: str, n: int) -> str:
    """Spark-SQL fragment for :func:`dot_fixed`. NOTE for HOF-lambda
    use: measured SLOWER than the :func:`spark_dot_sql` fold inside an
    interpreted lambda (the unrolled chain pays one interpreted
    element_at dispatch per term, which costs more than the fold's
    primitive-array loop), so prefer the fold there; the unrolled form
    wins only at the TOP level, where codegen compiles it."""
    terms = " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, n + 1)
    )
    return f"0D + {terms}"


def dot_fixed(a: str, b: str, n: int) -> Column:
    """:func:`dot` unrolled for a KNOWN array length ``n`` — bitwise
    identical to the fold (left-associated additions seeded with 0D,
    so even the sign of an all-zero sum matches), but plain arithmetic
    that whole-stage codegen compiles: Spark evaluates higher-order
    functions (zip_with/aggregate) interpreted, per row, with an
    intermediate array allocation — on a corpus x 2048-row candidate
    frame that is ~10x the cost of the unrolled expression."""
    return F.expr(spark_dot_fixed_sql(a, b, n))


def rolling_hash(arr_expr: str, mod: int = ROLL_MOD) -> Column:
    """Order-sensitive polynomial hash of a string-array column:
    fold(acc*31 + md5_long(x)) mod p. Spark higher-order aggregate."""
    return F.expr(
        f"aggregate({arr_expr}, 0L,"
        f" (acc, x) -> (acc * 31 + {expr_md5_long('x')} % {mod}) % {mod})"
    )


def sql_rolling_hash(arr_expr: str, mod: int = ROLL_MOD) -> str:
    """DuckDB twin via list_reduce (seeded by prepending 0)."""
    return (
        f"list_reduce(list_prepend(0, [{sql_md5_long('x')} % {mod}"
        f" for x in {arr_expr}]), (a, b) -> (a * 31 + b) % {mod})"
    )
