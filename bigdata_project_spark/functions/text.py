"""Text-analysis expression helpers for the training-data pipeline ops.

All pure ``pyspark.sql.functions`` — JVM-side, codegen'd, no Python row
path. Each has an exact DuckDB-SQL twin used by the oracle queries
(operators/text_dedup.py), with arithmetic arranged so both engines
produce bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenization shared by every text operator.
TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """lower/trim + whitespace split. DuckDB twin:
    ``string_split_regex(lower(trim(text)), '\\s+')``."""
    return F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE)


def content_hash(text: Column) -> Column:
    """md5 of whitespace-normalized utf-8 text — the exact-dedup key.
    DuckDB twin: :data:`CONTENT_HASH_SQL`."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(F.encode(norm, "UTF-8"))


#: DuckDB twin of :func:`content_hash`; ``{t}`` is the text expression
CONTENT_HASH_SQL = r"md5(regexp_replace(trim(lower({t})), '\s+', ' ', 'g'))"


def hex16_to_int(hex4: Column) -> Column:
    """First-4-hex-chars → 16-bit int, via arithmetic both engines share
    (``conv`` has no DuckDB twin; ``instr`` does)."""
    digits = "0123456789abcdef"

    def val(i: int) -> Column:
        return F.instr(F.lit(digits), F.substring(hex4, i + 1, 1)) - 1

    return val(0) * 4096 + val(1) * 256 + val(2) * 16 + val(3)


HEX16_TO_INT_SQL = (
    "((instr('0123456789abcdef', substring({h}, 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substring({h}, 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substring({h}, 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring({h}, 4, 1)) - 1))"
)


def word_hash16(word: Column) -> Column:
    """Deterministic 16-bit hash of a token (md5-based, engine-portable)."""
    return hex16_to_int(F.md5(F.encode(word, "UTF-8")))


WORD_HASH16_SQL = HEX16_TO_INT_SQL.format(h="md5({w})")


def hex32_to_int(hex8: Column) -> Column:
    """First-8-hex-chars → 32-bit int. Two definitions stay: DuckDB has
    no ``conv``, and Spark runs the Horner fold as 16 string ops.

    Spark side: one ``conv(hex, 16, 10)`` — base conversion is a single
    codegen'd builtin vs the 16 string ops (8× instr + 8× substring) of
    the Horner fold this replaced (r12: the fold was the hot scalar in
    every per-word/per-shingle hash, measured 1.14 → 0.71 s on the
    sf0.1 simhash aggregate together with the shiftright bit extract).
    The DuckDB oracle twin KEEPS the Horner form (``HEX32_TO_INT_SQL``
    below — DuckDB has no ``conv``): the two forms are value-identical
    on every valid hex-8 input (max ffffffff = 2³²−1, well inside
    BIGINT; null propagates through both), pinned by
    tests/test_text_dedup_blocking.py::test_hex32_conv_matches_horner
    against the Horner fold evaluated in the same session.

    The explicit substring keeps the contract FIRST-8-chars: the
    Horner fold only ever read positions 1-8 and callers rely on that
    (``word_hash32`` passes the full 32-char md5) — bare ``conv``
    parses the whole string and overflows BIGINT under ANSI beyond 15
    hex chars.

    PRECONDITION (r12 advice): input must be ≥ 8 hex chars. Below 8
    the two forms DIVERGE — Horner (and the unchanged DuckDB oracle
    ``HEX32_TO_INT_SQL``) left-justifies, treating missing positions
    as 0 ('ff' → 0xff000000), while conv right-justifies ('ff' → 255).
    Every in-repo caller passes a 32-char md5 or an 8-char slice of
    one; a new caller with shorter hex would silently drift from the
    oracle. The boundary is pinned by test_hex32_conv_matches_horner
    (≥8 chars match; 'ff' asserted to diverge exactly as above)."""
    return F.conv(F.substring(hex8, 1, 8), 16, 10).cast("bigint")


def _hex32_sql(h: str) -> str:
    expr = None
    for i in range(8):
        v = f"CAST(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1 AS BIGINT)"
        expr = v if expr is None else f"({expr} * 16 + {v})"
    return expr


HEX32_TO_INT_SQL = _hex32_sql("{h}")


def word_hash32(word: Column) -> Column:
    """Deterministic 32-bit hash of a token (md5-based, engine-portable)."""
    return hex32_to_int(F.md5(F.encode(word, "UTF-8")))


WORD_HASH32_SQL = HEX32_TO_INT_SQL.format(h="md5({w})")
