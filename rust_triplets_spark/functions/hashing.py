"""Portable deterministic hashing — the engine's determinism contract.

The reference derives every "random" decision (split labels, epoch shuffles,
anchor/positive swaps, negative picks) from seeded hashes / a seeded RNG
(``src/splits.rs:623-637``, ``src/epoch.rs:292-299``, ``src/hash.rs:6-40``,
``src/sampler/mod.rs:56-104``). Rust's ``DefaultHasher`` is explicitly
unstable across releases, so bit-parity is a non-goal; instead this engine
defines ONE explicit 31-bit arithmetic hash built only from ``+ * % ^ >>`` so
the *identical* function evaluates in Spark SQL, DuckDB SQL (the correctness
oracle), and Python — verified by ``tests/test_hashing.py``.

Why 31-bit: every intermediate stays below 2^63, so the arithmetic is exact
in BIGINT on both engines (and safe under Spark ANSI mode — no overflow).

Each helper comes in three flavors:

- ``*_col``  — a PySpark ``Column`` (JVM-side, whole-stage-codegen'd; these
  are a handful of integer ops per row — negligible at any scale),
- ``*_sql``  — a DuckDB SQL fragment (for ``oracle_sql()`` twins),
- ``*_py``   — plain Python (for tests and driver-side planning).

For throughput-critical *internal* ordering where oracle parity is not
needed, ``F.xxhash64`` is a fine substitute; the operators default to the
portable hash so every declared query stays oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M31 = 2147483647  # 2^31 - 1 (Mersenne prime)
MULT_A = 2654435761  # Knuth's multiplicative constant (2^32 / phi)
MULT_B = 1103515245  # glibc LCG multiplier
INC_B = 12345


def _as_long(x) -> Column:
    if isinstance(x, str):
        x = F.col(x)
    if isinstance(x, int):
        x = F.lit(x)
    return x.cast("long")


# ---------------------------------------------------------------------------
# integer hash
# ---------------------------------------------------------------------------

def hash31_col(x, seed: int = 42) -> Column:
    """hash31(x, seed) → BIGINT in [0, M31). ``x`` must be a BIGINT column."""
    s = (seed * MULT_A) % M31
    h0 = F.pmod(F.pmod(_as_long(x), F.lit(M31)) + F.lit(s), F.lit(M31))
    h1 = F.pmod(h0 * F.lit(MULT_B) + F.lit(INC_B), F.lit(M31))
    h2 = h1.bitwiseXOR(F.shiftright(h1, 15))
    return F.pmod(h2 * F.lit(MULT_A), F.lit(M31))


def hash31_sql(x_sql: str, seed: int = 42) -> str:
    """DuckDB SQL twin of :func:`hash31_col`."""
    s = (seed * MULT_A) % M31
    h0 = f"((((CAST({x_sql} AS BIGINT) % {M31}) + {M31}) % {M31} + {s}) % {M31})"
    h1 = f"(({h0} * {MULT_B} + {INC_B}) % {M31})"
    h2 = f"xor({h1}, {h1} >> 15)"
    return f"(({h2} * {MULT_A}) % {M31})"


def hash31_py(x: int, seed: int = 42) -> int:
    s = (seed * MULT_A) % M31
    h0 = ((x % M31) + M31 + s) % M31
    h1 = (h0 * MULT_B + INC_B) % M31
    h2 = h1 ^ (h1 >> 15)
    return (h2 * MULT_A) % M31


# ---------------------------------------------------------------------------
# multi-value mixing: hash31_mix([a, b, c], seed)
# ---------------------------------------------------------------------------

def mix31_col(xs: list, seed: int = 42) -> Column:
    """Hash several BIGINT columns into one value (order-sensitive).

    Folds ``h = hash31(h * 31 + x_i mod M31, seed + i)`` — every intermediate
    < 2^63. Mirrors the reference's multi-field shuffle keys
    (``src/epoch.rs:292-299``: hash of (id, epoch, label, seed)).
    """
    h = hash31_col(_as_long(xs[0]), seed)
    for i, x in enumerate(xs[1:], start=1):
        v = F.pmod(h * F.lit(31) + F.pmod(_as_long(x), F.lit(M31)), F.lit(M31))
        h = hash31_col(v, seed + i)
    return h


def mix31_sql(xs_sql: list[str], seed: int = 42) -> str:
    h = hash31_sql(xs_sql[0], seed)
    for i, x in enumerate(xs_sql[1:], start=1):
        v = f"(({h} * 31 + ((CAST({x} AS BIGINT) % {M31}) + {M31}) % {M31}) % {M31})"
        h = hash31_sql(v, seed + i)
    return h


def mix31_py(xs: list[int], seed: int = 42) -> int:
    h = hash31_py(xs[0], seed)
    for i, x in enumerate(xs[1:], start=1):
        h = hash31_py((h * 31 + (x % M31 + M31) % M31) % M31, seed + i)
    return h


def polymix31_col(xs: list, seed: int = 42) -> Column:
    """Linear-size alternative to :func:`mix31_col` for MANY parts.

    ``mix31`` re-hashes after every fold; hash31's xor-shift references its
    argument twice, so the expression tree DOUBLES per part — fine for the
    2-4-part shuffle keys it serves, a 2^n blow-up that stalls Catalyst
    analysis for wide shingles (measured: n=13 never finished planning).
    This variant folds a plain 31-ary polynomial (each part referenced
    once, every intermediate < 2^63) and hashes ONCE at the end: tree size
    O(n), still order-sensitive and avalanched by the final hash31. NOT
    value-compatible with mix31 — callers pick one per key domain."""
    acc = F.pmod(_as_long(xs[0]), F.lit(M31))
    for x in xs[1:]:
        acc = F.pmod(acc * F.lit(31) + F.pmod(_as_long(x), F.lit(M31)), F.lit(M31))
    return hash31_col(acc, seed)


def polymix31_sql(xs_sql: list[str], seed: int = 42) -> str:
    acc = f"(((CAST({xs_sql[0]} AS BIGINT) % {M31}) + {M31}) % {M31})"
    for x in xs_sql[1:]:
        acc = f"(({acc} * 31 + ((CAST({x} AS BIGINT) % {M31}) + {M31}) % {M31}) % {M31})"
    return hash31_sql(acc, seed)


def polymix31_py(xs: list[int], seed: int = 42) -> int:
    acc = ((xs[0] % M31) + M31) % M31
    for x in xs[1:]:
        acc = (acc * 31 + ((x % M31) + M31) % M31) % M31
    return hash31_py(acc, seed)


def mix31_step_col(h, x, seed: int = 42, i: int = 1) -> Column:
    """One fold step continuing from an ALREADY-HASHED prefix ``h``:
    ``mix31_step(hash31(a, seed), b, seed, 1) == mix31([a, b], seed)``.

    Lets callers hoist the shared prefix hash out of a fan-out (e.g. k
    minhash aggregates over the same shingle hash) — identical values,
    k× smaller expression trees."""
    v = F.pmod(_as_long(h) * F.lit(31) + F.pmod(_as_long(x), F.lit(M31)), F.lit(M31))
    return hash31_col(v, seed + i)


def mix31_step_sql(h_sql: str, x_sql: str, seed: int = 42, i: int = 1) -> str:
    v = f"(({h_sql} * 31 + ((CAST({x_sql} AS BIGINT) % {M31}) + {M31}) % {M31}) % {M31})"
    return hash31_sql(v, seed + i)


# ---------------------------------------------------------------------------
# string fold: polynomial hash over unicode codepoints
# ---------------------------------------------------------------------------

def strfold_col(s) -> Column:
    """Fold a string to BIGINT: ``h = (h*31 + codepoint) % M31``, init 0.

    O(len): ``split(s, '')`` yields the code-point array in one pass (no
    trailing empty element; code-point safe — astral chars stay single
    elements) and the fold visits each element once. The previous
    per-char-``substring`` formulation was O(len²) — fine for ids and
    tokens, a measured 10×+ regression once full documents went through it
    (exact-dedup fingerprints). Values are IDENTICAL to the old form:
    same codepoint sequence, same arithmetic; empty and NULL both fold to
    0 via the guard."""
    if isinstance(s, str):
        s = F.col(s)
    folded = F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(31) + F.ascii(ch), F.lit(M31)),
    )
    return F.when(F.length(s) > 0, folded).otherwise(F.lit(0).cast("long"))


def strfold_sql(s_sql: str) -> str:
    # list_prepend(0, codepoints): list_reduce seeds with the first element,
    # and fold(0, c1) == c1, so this matches Spark's explicit zero init.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s_sql}) + 1), "
        f"i -> CAST(unicode(substr({s_sql}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {M31})"
    )


def strfold_py(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % M31
    return h


def hash31_str_col(s, seed: int = 42) -> Column:
    """Portable string hash: :func:`strfold_col` then :func:`hash31_col`."""
    return hash31_col(strfold_col(s), seed)


def hash31_str_sql(s_sql: str, seed: int = 42) -> str:
    return hash31_sql(strfold_sql(s_sql), seed)


def hash31_str_py(s: str, seed: int = 42) -> int:
    return hash31_py(strfold_py(s), seed)
