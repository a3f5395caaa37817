"""The engine's one hash convention (``functions/hashing.py``).

Parity: the Spark, DuckDB and Python members of the triple agree bit
for bit on awkward inputs, salted and unsalted, on both md5 halves,
and a NULL input stays NULL on both engines.

Lint: the md5 → u32 idiom is spelled out only in ``functions/hashing.py``,
and the xxhash64 fork (and its ``portable`` switch) cannot come back.
"""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from building_energy_data_pipeline_spark.functions.hashing import (
    duck_u32,
    py_u32,
    spark_u32,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "building_energy_data_pipeline_spark"
)
HOME = PKG / "functions" / "hashing.py"

INPUTS = [
    "",
    "héllo wörld — 日本語 🙂",
    "a\x00b",
    "x" * 100_000,
    None,
]
#: unsalted, an int salt, and an SQL-expression salt (the row index)
SALTS = [None, 7, "i"]


def _py(s, i, half, salt):
    if s is None:
        return None
    return py_u32(s, half, salt=i if salt == "i" else salt)


class TestTripleParity:
    @pytest.mark.parametrize("salt", SALTS, ids=["unsalted", "int", "expr"])
    @pytest.mark.parametrize("half", [0, 1])
    def test_spark_duckdb_python_agree(self, spark, half, salt):
        rows = list(enumerate(INPUTS))
        got = {
            r["i"]: r["h"]
            for r in spark.createDataFrame(rows, "i int, s string")
            .select("i", F.expr(spark_u32("s", half, salt)).alias("h"))
            .collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        duck = dict(
            con.execute(f"SELECT i, {duck_u32('s', half, salt)} FROM t").fetchall()
        )
        con.close()
        want = {i: _py(s, i, half, salt) for i, s in rows}
        assert got == want
        assert duck == want
        assert want[len(INPUTS) - 1] is None
        assert all(0 <= v < 2**32 for v in want.values() if v is not None)

    def test_halves_and_salts_differ(self):
        s = "token"
        assert len({py_u32(s), py_u32(s, 1), py_u32(s, salt=0)}) == 3


# ---------------------------------------------------------------------------
# Source lint
# ---------------------------------------------------------------------------

#: Spark form: conv(substring(md5(...)...)) — SQL text or F.* calls
_SPARK = re.compile(r"conv\(\s*(?:F\.)?substr(?:ing)?\(\s*(?:F\.)?md5\(")
#: DuckDB form: '0x' glued to an md5 substring, by concat or ||
_DUCK = re.compile(
    r"(?:concat\(\s*'0x'\s*,|'0x'\s*\|\|)\s*substr(?:ing)?\(\s*md5\("
)
#: Python form: a slice of an md5 hex digest
_PY = re.compile(r"hashlib\.md5\(.*?\)\.hexdigest\(\)\s*\[")


def _slices_8(src: str, open_paren: int) -> bool:
    """True when the md5(...) opening at ``open_paren`` is sliced to 8
    hex digits — the u32 idiom. (q53's oracle replays the fake image
    decoder's md5 BYTE stream, 2-digit slices, a different thing.)"""
    depth = 0
    for k in range(open_paren, len(src)):
        depth += {"(": 1, ")": -1}.get(src[k], 0)
        if depth == 0:
            return bool(re.match(r"\s*,[^,()]*,\s*8\s*\)", src[k + 1 :]))
    return False


def _idioms(src: str) -> list[str]:
    hits = [m.group(0) for m in _SPARK.finditer(src)]
    hits += [m.group(0) for m in _PY.finditer(src)]
    hits += [
        m.group(0) for m in _DUCK.finditer(src) if _slices_8(src, m.end() - 1)
    ]
    return hits


def _sources():
    return sorted(p for p in PKG.rglob("*.py") if p != HOME)


class TestSingleHome:
    def test_patterns_catch_the_idiom(self):
        """The lint is not vacuous: it flags the triple's own output
        and the hand-copy shapes the package used to carry."""
        for text in (
            spark_u32("x"),
            duck_u32("x", 1, salt="r"),
            "CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)",
            'F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10)',
            'int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16)',
        ):
            assert _idioms(text), text
        byte_chain = (
            "CAST(concat('0x', substr(md5(concat(h, '-', i)), j * 2 + 1, 2))"
            " AS BIGINT)"
        )
        assert not _idioms(byte_chain)
        assert _idioms(HOME.read_text())

    def test_md5_u32_idiom_only_in_hashing_module(self):
        bad = {
            str(p.relative_to(PKG)): hits
            for p in _sources()
            if (hits := _idioms(p.read_text()))
        }
        assert not bad, f"spell the hash through functions/hashing.py: {bad}"

    def test_no_xxhash64_and_no_portable_parameter(self):
        bad = []
        for p in sorted(PKG.rglob("*.py")):
            src = p.read_text()
            if "xxhash64" in src:
                bad.append(f"{p.relative_to(PKG)}: xxhash64")
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                    a = node.args
                    names = a.posonlyargs + a.args + a.kwonlyargs
                    if any(x.arg == "portable" for x in names):
                        bad.append(f"{p.relative_to(PKG)}: portable parameter")
        assert not bad, bad
