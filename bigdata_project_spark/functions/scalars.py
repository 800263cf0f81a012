"""Scalar expression helpers (SURVEY.md §2.8 F1-F21).

Every helper returns a Column built from ``pyspark.sql.functions`` only —
JVM-side, whole-stage-codegen'd, no Python in the row path. Reference
citations point at the DuckDB construct each one re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def parse_ts_yyyymmddhh(date_str: ColumnOrName, hour_str: ColumnOrName) -> Column:
    """F1+F3+F20: ``strptime(fecha || lpad(periodo,2,'0'), '%Y%m%d%H')``
    (reference silver/mitma/mitma_od.py:41)."""
    return F.to_timestamp(
        F.concat(_col(date_str), F.lpad(_col(hour_str), 2, "0")), "yyyyMMddHH"
    )


def parse_date_yyyymmdd(date_str: ColumnOrName) -> Column:
    """F2: ``strptime(s,'%Y%m%d')::DATE`` (silver/mitma/mitma_overnights.py:36)."""
    return F.to_date(_col(date_str), "yyyyMMdd")


def weekend_flag(ts: ColumnOrName) -> Column:
    """F4: weekend boolean from a timestamp.

    The reference's ``dayofweek(ts) IN (6,7)`` (silver/mitma/mitma_od.py:115)
    under DuckDB's Sunday=0 numbering matches *Saturday only* — a latent bug.
    We implement the intended Sat+Sun semantics (SURVEY.md §7.4); Spark's
    dayofweek is Sunday=1..Saturday=7.
    """
    return F.dayofweek(_col(ts)).isin(1, 7)


def tri_state_bool(c: ColumnOrName, true_val: str = "si", false_val: str = "no") -> Column:
    """F15+P5: CASE WHEN x ILIKE 'si' THEN TRUE WHEN x ILIKE 'no' THEN FALSE END
    — no ELSE, so anything else is NULL (silver/mitma/mitma_od.py:53-58)."""
    lc = F.lower(_col(c))
    return F.when(lc == true_val, F.lit(True)).when(lc == false_val, F.lit(False))


def date_from_epoch_ms_plus1(ms: ColumnOrName) -> Column:
    """F6: ``epoch_ms(x)::DATE + INTERVAL 1 DAY`` — INE millisecond epochs
    carry a timezone offset the reference fixes up by adding a day
    (silver/ine/ine_empresas.py:22). Requires session TZ = UTC for parity."""
    return F.date_add(F.to_date(F.timestamp_millis(_col(ms).cast("long"))), 1)


def split_part(c: ColumnOrName, delim: str, n: int) -> Column:
    """F8: DuckDB ``split_part(s, delim, n)`` — 1-based, '' when out of range
    (silver/ine/ine_empresas.py:23-24). Spark ships the same-named SQL
    function; expose it at the DataFrame layer."""
    return F.split_part(_col(c), F.lit(delim), F.lit(n))


def round_portable(c: Column, n: int) -> Column:
    """Engine-portable rounding for non-negative doubles.

    ``F.round`` (Java BigDecimal HALF_UP on the exact binary expansion) and
    DuckDB's ``round`` (scaled C rounding) disagree on some doubles, which
    breaks value-hash comparison. ``floor(x * 10^n + 0.5) / 10^n`` is pure
    IEEE double arithmetic — identical operation order gives bit-identical
    results in any engine. Pair with :func:`round_portable_sql` in oracles.
    Two definitions stay: Spark SQL parses the string's ``/ 1000000.0`` as
    a DECIMAL division (the result types as DECIMAL(30,9)), not DOUBLE.
    """
    p = float(10**n)
    return F.floor(c * p + F.lit(0.5)) / p


def round_portable_sql(expr: str, n: int) -> str:
    """DuckDB-side twin of :func:`round_portable`."""
    p = float(10**n)
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def coalesce_blank(c: ColumnOrName, fallback: ColumnOrName) -> Column:
    """F10: ``COALESCE(NULLIF(TRIM(x),''), y)`` (silver/ine/ine_empresas.py:23)."""
    return F.coalesce(F.nullif(F.trim(_col(c)), F.lit("")), _col(fallback))
