"""The engine's one hash convention (dedup/LSH/sketch/sampling substrate).

Spark's built-in hash functions and DuckDB's ``hash`` are different
functions, so any operator whose *output* (or grouping) depends on a
hash value could never pass the DuckDB oracle gate if it used them.
Every hashed operator in this engine therefore builds on **md5**,
which both engines implement identically (RFC 1321): one half of the
first 16 hex chars — ``half=0`` chars 1-8, ``half=1`` chars 9-16 —
read as a 32-bit unsigned int.

This module is the only place that spells the convention out. It
holds one triple generated from the same template — a Spark SQL
string (callers wrap it in ``F.expr``), a DuckDB SQL string and a
Python int for driver-side twins — so the three cannot drift apart.
``tests/test_hash_convention.py`` pins them bit for bit and fails if
the idiom reappears anywhere else in the package.

``salt`` derives independent hash functions from one input: the
hashed string becomes ``expr || ':' || salt``. An ``int`` salt is
rendered as a string literal; any other salt is an SQL expression
(a lambda variable, a column) cast to string by the engine.
"""

from __future__ import annotations

import hashlib


def _start(half: int) -> int:
    assert half in (0, 1), half
    return 1 + 8 * half


def _salted(expr: str, salt: int | str | None, cast: str, join: str) -> str:
    if salt is None:
        return expr
    s = f"'{salt}'" if isinstance(salt, int) else cast.format(salt)
    return join.format(expr, s)


def spark_u32(expr: str, half: int = 0, salt: int | str | None = None) -> str:
    """Spark SQL: unsigned 32-bit md5 slice of a string expression."""
    e = _salted(expr, salt, "cast({} as string)", "concat({}, ':', {})")
    return (
        f"cast(conv(substring(md5({e}), {_start(half)}, 8), 16, 10)"
        f" as bigint)"
    )


def duck_u32(expr: str, half: int = 0, salt: int | str | None = None) -> str:
    """DuckDB twin of :func:`spark_u32`. DuckDB has no ``conv``; the
    hex-literal cast is its integer-identical equivalent. Its
    ``concat`` skips NULLs where Spark's returns NULL, so every join
    here is ``||``, which keeps a NULL input NULL as Spark does."""
    e = _salted(expr, salt, "CAST({} AS VARCHAR)", "({} || ':' || {})")
    return f"CAST('0x' || substring(md5({e}), {_start(half)}, 8) AS BIGINT)"


def py_u32(s: str, half: int = 0, salt: int | str | None = None) -> int:
    """Driver-side twin of :func:`spark_u32` on a Python string."""
    if salt is not None:
        s = f"{s}:{salt}"
    i = _start(half) - 1
    return int(hashlib.md5(s.encode()).hexdigest()[i : i + 8], 16)
