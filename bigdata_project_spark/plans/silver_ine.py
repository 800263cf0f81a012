"""INE silver pipelines: the nested-data query family (reference
silver/ine/ine_empresas.py, ine_poblacion.py, ine_renta.py).

The reference shape, per table:

    ef   = bronze JSON rows (COD, dotted Nombre, Data: LIST<STRUCT<Fecha
           ms-epoch, Valor>>) → UNNEST(Data) lateral explode (J5),
           split_part(Nombre,'.',n) field extract (F8), trim/lower (F9),
           COALESCE(NULLIF(TRIM(..),''),..) (F10), epoch_ms+1day (F6),
           len(Data)>0 guard (P7), DISTINCT ON(COD) (A2)
    join = LEFT JOIN municipios ON ef.Nombre ILIKE m.Nombre (J1)
           LEFT JOIN crosswalk ON m.Codigo = r.municipio_ine (J2)
    out  = OR-of-NOT-NULL zone filter (P10), regex suffix strip /
           regex predicate for renta (F11, F12, P6)

Fixture reconstruction: the JSON bronze rows are built from ``orders``
aggregated per customer into a sorted LIST<STRUCT> (deterministic order,
unlike the reference's arbitrary ingest order); ``customer`` plays the
municipios name dim (upper-cased to make the ILIKE case-insensitivity do
real work); ``supplier`` plays the INE→MITMA crosswalk with NULL zone ids
for suppliers ending in even digits, exercising the OR-of-NOT-NULL guard.

Scale notes:
- The grouped list build is one shuffle (groupBy custkey) with map-side
  partial collect_list; at 100 TB the same plan holds — arrays stay
  bounded by per-key row counts.
- Both dimension joins broadcast (customer/supplier dims ≪ fact).
- ILIKE-join is implemented as equality on lower() keys → hash join, not
  BNLJ (SURVEY.md §7.4 decision), guarded by a wildcard probe on the
  pattern dim that falls back to faithful theta ILIKE when `%`/`_`
  appear (see :func:`ilike_name_join`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import (
    coalesce_blank,
    date_from_epoch_ms_plus1,
)
from bigdata_project_spark.operators.distinct_on import distinct_on
from bigdata_project_spark.sources.readers import load_table


# planning-statistics memo for the wildcard probe below: keyed by the
# session + the dim's SEMANTIC plan hash (canonicalized — stable across
# separate load_table calls on the same source, unlike the analyzed
# plan string whose expression IDs are freshly allocated per read) +
# the probed column, so the LIMIT-1 action runs once per distinct dim
# per session instead of once per query build (the probe result is a
# pure function of the dim's content; the fixture dims are immutable
# within a session — same contract a real engine's table-statistics
# cache relies on).
_WILDCARD_PROBE_MEMO: dict[tuple[str, int, str], bool] = {}


def ilike_name_join(fact: DataFrame, name_col: str, dim: DataFrame, pattern_col: str) -> DataFrame:
    """J1 faithful ILIKE left join (reference silver/ine/ine_empresas.py:38-39).

    The reference joins ``a.nombre ILIKE m.nombre``. When the pattern side
    carries no LIKE wildcards, ILIKE degenerates to case-insensitive
    equality — a broadcast HASH join, the scalable reading (SURVEY §7.4).
    That rewrite is only sound while the dim is wildcard-free, so probe
    the (broadcast-sized) pattern side ONCE for ``%``/``_``: if any row
    carries one, fall back to the faithful theta ILIKE
    (broadcast-nested-loop over the dim — reference semantics preserved
    at dim-scan-per-row cost). The probe is a LIMIT-1 count on the dim,
    memoized per (session, dim plan) — see ``_WILDCARD_PROBE_MEMO``."""
    spark = dim.sparkSession
    key = (spark.sparkContext.applicationId, dim.semanticHash(), pattern_col)
    if key not in _WILDCARD_PROBE_MEMO:
        _WILDCARD_PROBE_MEMO[key] = (
            dim.filter(F.col(pattern_col).rlike("[%_]")).limit(1).count() > 0
        )
    has_wildcard = _WILDCARD_PROBE_MEMO[key]
    if has_wildcard:
        cond = F.ilike(F.col(name_col), F.col(pattern_col))
    else:
        cond = F.lower(F.col(name_col)) == F.lower(F.col(pattern_col))
    return fact.join(F.broadcast(dim), cond, "left")


def _bronze_ine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild the bronze JSON shape: one row per customer with
    COD, dotted Nombre, Data LIST<STRUCT<Fecha,Valor>> sorted by Fecha."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    data = (
        orders.select(
            "o_custkey",
            F.struct(
                # parquet timestamps load as TIMESTAMP_NTZ; with session TZ
                # pinned to UTC this cast is the identity wall-clock → epoch
                F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("Fecha"),
                F.col("o_totalprice").alias("Valor"),
                F.col("o_orderkey").alias("Id"),
            ).alias("item"),
        )
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("item")).alias("Data"))
    )
    return (
        cust.join(data, cust.c_custkey == data.o_custkey, "left")
        .select(
            F.col("c_custkey").cast("string").alias("COD"),
            F.concat(
                F.col("c_name"), F.lit(". "), F.col("c_mktsegment"), F.lit(". CNAE total")
            ).alias("Nombre"),
            F.col("Data"),
        )
    )


def _crosswalk_join(spark: SparkSession, sf_dir: str, fact: DataFrame, name_col: str) -> DataFrame:
    """J1: the ILIKE join of ``fact[name_col]`` against the upper-cased
    name dim (case-insensitive eq); J2: the equi join to the crosswalk,
    whose even-keyed rows carry NULL zones (P10)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    muni = cust.select(
        F.upper(F.col("c_name")).alias("m_nombre"),
        F.col("c_custkey").alias("m_codigo"),
    )
    cross = supp.select(
        F.col("s_suppkey").alias("municipio_ine"),
        F.when(F.col("s_suppkey") % 2 == 1, F.concat(F.lit("D"), F.col("s_suppkey"))).alias("distrito_mitma"),
        F.when(F.col("s_suppkey") % 3 == 1, F.concat(F.lit("M"), F.col("s_suppkey"))).alias("municipio_mitma"),
        F.when(F.col("s_suppkey") % 5 == 1, F.concat(F.lit("G"), F.col("s_suppkey"))).alias("gau_mitma"),
    )
    return ilike_name_join(fact, name_col, muni, "m_nombre").join(
        F.broadcast(cross),
        F.col("m_codigo") % 100 == F.col("municipio_ine"),
        "left",
    )


def _has_zone() -> Column:
    """P10: the OR-of-NOT-NULL zone guard."""
    return (
        F.col("distrito_mitma").isNotNull()
        | F.col("municipio_mitma").isNotNull()
        | F.col("gau_mitma").isNotNull()
    )


_BRONZE_SQL = """
    SELECT CAST(c_custkey AS VARCHAR) AS COD,
           c_name || '. ' || c_mktsegment || '. CNAE total' AS Nombre,
           d.Data AS Data
    FROM customer
    LEFT JOIN (
        SELECT o_custkey,
               list(struct_pack(Fecha := epoch_ms(o_orderdate),
                                Valor := o_totalprice,
                                Id := o_orderkey)
                    ORDER BY epoch_ms(o_orderdate), o_totalprice, o_orderkey) AS Data
        FROM orders GROUP BY o_custkey
    ) d ON c_custkey = d.o_custkey
"""

# J1's name dim and J2's crosswalk, as oracle CTEs
_CROSSWALK_SQL = """muni AS (
    SELECT upper(c_name) AS m_nombre, c_custkey AS m_codigo FROM customer
),
cross_w AS (
    SELECT s_suppkey AS municipio_ine,
           CASE WHEN s_suppkey % 2 = 1 THEN 'D' || CAST(s_suppkey AS VARCHAR) END AS distrito_mitma,
           CASE WHEN s_suppkey % 3 = 1 THEN 'M' || CAST(s_suppkey AS VARCHAR) END AS municipio_mitma,
           CASE WHEN s_suppkey % 5 = 1 THEN 'G' || CAST(s_suppkey AS VARCHAR) END AS gau_mitma
    FROM supplier
)"""


def query_ine_empresas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ef = _bronze_ine(spark, sf_dir)

    # J5 explode + F8/F9/F10 string surgery + F6 epoch date + P7 guard
    exploded = (
        ef.filter(F.size("Data") > 0)
        .select("COD", "Nombre", F.explode("Data").alias("data_item"))
        .select(
            "COD",
            coalesce_blank(
                F.split_part(F.col("Nombre"), F.lit("."), F.lit(1)), F.col("Nombre")
            ).alias("municipio"),
            F.lower(F.trim(F.split_part(F.col("Nombre"), F.lit("."), F.lit(2)))).alias(
                "segmento"
            ),
            F.trim(F.split_part(F.col("Nombre"), F.lit("."), F.lit(3))).alias("tipo"),
            F.date_format(date_from_epoch_ms_plus1(F.col("data_item.Fecha")), "yyyy-MM-dd").alias(
                "fecha"
            ),
            F.col("data_item.Valor").alias("valor"),
            F.col("data_item.Id").alias("oid"),
        )
    )
    # A2: one row per COD, fully deterministic tiebreak down to the unique Id
    one = distinct_on(
        exploded,
        keys=["COD"],
        order_by=[F.col("fecha").desc(), F.col("valor").desc(), F.col("oid").desc()],
    ).drop("oid")

    joined = (
        _crosswalk_join(spark, sf_dir, one, "municipio")
        # P5: ILIKE '%CNAE%' predicate + P10 OR-of-NOT-NULL zone guard
        .filter(F.upper(F.col("tipo")).contains("CNAE"))
        .filter(_has_zone())
    )
    return joined.select(
        "COD",
        "municipio",
        "segmento",
        "fecha",
        "valor",
        "distrito_mitma",
        "municipio_mitma",
        "gau_mitma",
    )


def query_ine_poblacion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variant (reference silver/ine/ine_poblacion.py:17-47).

    Differs from empresas in plan shape, not just columns: the reference
    applies ``DISTINCT ON (COD)`` *after* the two left joins (so the kept
    row carries ``codigo_ine`` from the join), emits ``codigo_ine`` and
    drops ``COD``, casts Valor→DOUBLE, and has no CNAE predicate — only
    the OR-of-NOT-NULL zone guard. The reference's DISTINCT ON has no
    ORDER BY (nondeterministic pick); we add explicit tiebreakers mirrored
    in the oracle (SURVEY.md §7.4)."""
    ef = _bronze_ine(spark, sf_dir)

    flat = (
        ef.filter(F.col("Data").isNotNull() & (F.size("Data") > 0))
        .select("COD", "Nombre", F.explode("Data").alias("data_item"))
        .select(
            "COD",
            coalesce_blank(
                F.split_part(F.col("Nombre"), F.lit("."), F.lit(1)), F.col("Nombre")
            ).alias("nombre"),
            F.lower(F.trim(F.split_part(F.col("Nombre"), F.lit("."), F.lit(2)))).alias("tipo"),
            F.date_format(date_from_epoch_ms_plus1(F.col("data_item.Fecha")), "yyyy-MM-dd").alias(
                "fecha"
            ),
            F.col("data_item.Valor").cast("double").alias("valor"),
            F.col("data_item.Id").alias("oid"),
        )
    )
    joined = _crosswalk_join(spark, sf_dir, flat, "nombre").filter(_has_zone())
    # A2 after the joins, as the reference does — with deterministic order
    one = distinct_on(
        joined,
        keys=["COD"],
        order_by=[F.col("fecha").desc(), F.col("valor").desc(), F.col("oid").desc()],
    )
    return one.select(
        F.col("m_codigo").alias("codigo_ine"),
        "fecha",
        "nombre",
        "tipo",
        "valor",
        "distrito_mitma",
        "municipio_mitma",
        "gau_mitma",
    )


ORACLE_INE_POBLACION = f"""
WITH ef AS ({_BRONZE_SQL}),
flat AS (
    SELECT COD,
           COALESCE(NULLIF(TRIM(split_part(Nombre, '.', 1)), ''), Nombre) AS nombre,
           lower(TRIM(split_part(Nombre, '.', 2))) AS tipo,
           strftime(CAST(epoch_ms(data_item.Fecha) AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d') AS fecha,
           CAST(data_item.Valor AS DOUBLE) AS valor,
           data_item.Id AS oid
    FROM ef, UNNEST(ef.Data) AS t(data_item)
    WHERE Data IS NOT NULL AND len(Data) > 0
),
{_CROSSWALK_SQL},
joined AS (
    SELECT flat.*, muni.m_codigo, cross_w.distrito_mitma, cross_w.municipio_mitma, cross_w.gau_mitma
    FROM flat
    LEFT JOIN muni ON lower(flat.nombre) LIKE lower(muni.m_nombre)
    LEFT JOIN cross_w ON muni.m_codigo % 100 = cross_w.municipio_ine
    WHERE (distrito_mitma IS NOT NULL OR municipio_mitma IS NOT NULL OR gau_mitma IS NOT NULL)
)
SELECT m_codigo AS codigo_ine, fecha, nombre, tipo, valor, distrito_mitma, municipio_mitma, gau_mitma
FROM (
    SELECT *, row_number() OVER (PARTITION BY COD ORDER BY fecha DESC, valor DESC, oid DESC) AS rn
    FROM joined
) WHERE rn = 1
"""


def query_ine_renta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renta variant: the regex family (F11 global+case-insensitive
    regexp_replace, F12 regexp_matches predicate, F13 regexp_extract,
    P6 negated regex filter) — reference silver/ine/ine_renta.py:24-38."""
    part = load_table(spark, sf_dir, "part")
    named = part.select(
        "p_partkey",
        F.when(
            F.col("p_size") % 3 == 0,
            F.concat(F.col("p_name"), F.lit(" Seccion "), F.col("p_size")),
        )
        .otherwise(F.col("p_name"))
        .alias("Nombre"),
        "p_type",
        "p_retailprice",
    )
    return (
        named.select(
            "p_partkey",
            F.trim(
                F.regexp_replace(F.col("Nombre"), F.lit(r"(?i)\s*secci(ó|o)n\s+\d+"), F.lit(""))
            ).alias("municipio"),
            F.regexp_extract(F.col("Nombre"), r"(\d+)", 1).alias("num_seccion"),
            F.col("Nombre").rlike(r"(?i)secci(ó|o)n\s+\d+").alias("es_seccion"),
            "p_type",
            "p_retailprice",
        )
        # P6: NOT regexp_matches(lower(p_type), 'promo|standard')
        .filter(~F.lower(F.col("p_type")).rlike("promo|standard"))
        .select(
            "p_partkey",
            "municipio",
            "num_seccion",
            "es_seccion",
            F.col("p_type").alias("tipo"),
            F.col("p_retailprice").alias("renta"),
        )
    )


ORACLE_INE_RENTA = r"""
WITH named AS (
    SELECT p_partkey,
           CASE WHEN p_size % 3 = 0 THEN p_name || ' Seccion ' || CAST(p_size AS VARCHAR)
                ELSE p_name END AS Nombre,
           p_type, p_retailprice
    FROM part
)
SELECT p_partkey,
       TRIM(regexp_replace(Nombre, '\s*secci(ó|o)n\s+\d+', '', 'gi')) AS municipio,
       regexp_extract(Nombre, '(\d+)', 1) AS num_seccion,
       regexp_matches(Nombre, '(?i)secci(ó|o)n\s+\d+') AS es_seccion,
       p_type AS tipo,
       p_retailprice AS renta
FROM named
WHERE NOT regexp_matches(lower(p_type), 'promo|standard')
"""


ORACLE_INE_EMPRESAS = f"""
WITH ef AS ({_BRONZE_SQL}),
exploded AS (
    SELECT COD,
           COALESCE(NULLIF(TRIM(split_part(Nombre, '.', 1)), ''), Nombre) AS municipio,
           lower(TRIM(split_part(Nombre, '.', 2))) AS segmento,
           TRIM(split_part(Nombre, '.', 3)) AS tipo,
           strftime(CAST(epoch_ms(data_item.Fecha) AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d') AS fecha,
           data_item.Valor AS valor,
           data_item.Id AS oid
    FROM ef, UNNEST(ef.Data) AS t(data_item)
    WHERE len(Data) > 0
),
one AS (
    SELECT COD, municipio, segmento, tipo, fecha, valor FROM (
        SELECT *, row_number() OVER (PARTITION BY COD ORDER BY fecha DESC, valor DESC, oid DESC) AS rn
        FROM exploded
    ) WHERE rn = 1
),
{_CROSSWALK_SQL}
SELECT COD, municipio, segmento, fecha, valor, distrito_mitma, municipio_mitma, gau_mitma
FROM one
LEFT JOIN muni ON lower(one.municipio) LIKE lower(muni.m_nombre)
LEFT JOIN cross_w ON muni.m_codigo % 100 = cross_w.municipio_ine
WHERE upper(one.tipo) LIKE '%CNAE%'
  AND (distrito_mitma IS NOT NULL OR municipio_mitma IS NOT NULL OR gau_mitma IS NOT NULL)
"""


QUERIES = {
    "silver_ine_empresas": (query_ine_empresas, ORACLE_INE_EMPRESAS),
    "silver_ine_poblacion": (query_ine_poblacion, ORACLE_INE_POBLACION),
    "silver_ine_renta": (query_ine_renta, ORACLE_INE_RENTA),
}
