"""Validation + transformation layer of the visits ETL.

Reference behavior (SURVEY §2.3-§2.6): per file —
layout check → per-row validity flags (email regex, strict date regex) →
valid/invalid split → error expansion (one row per failed check) →
normalize/rename/cast → per-email aggregate. Everything below is a lazy
DataFrame lineage: one CSV scan feeds both branches, Catalyst prunes and
pushes down, the only wide op is the per-email aggregate.

Defect rulings applied (SURVEY §0.1): D6 (cast on renamed columns),
D7 (cast ints first, null-normalize "-"/"0" for string columns only, keep
int 0), D20 (first/last visit dates from the batch's fechaEnvio min/max).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pipeline_etl_website_visits_spark.etl import schema as S

_FLAG_COLS = ["valid_email", "valid_fecha_envio", "valid_fecha_open", "valid_fecha_click", "is_valid"]
_DATE_FLAG_BY_COL = {
    "Fecha envio": "valid_fecha_envio",
    "Fecha open": "valid_fecha_open",
    "Fecha click": "valid_fecha_click",
}


def validate_layout(columns: list[str]) -> tuple[bool, list[str], list[str]]:
    """Set-compare file columns vs the declared layout.

    Missing ⇒ hard failure, extra ⇒ tolerated (utils/utils_transform.py:87-99).
    Column order is irrelevant. Driver-side on the header — not a
    distributed op (SURVEY §2.2).
    """
    have = set(columns)
    missing = [c for c in S.VALID_COLUMNS if c not in have]
    extra = [c for c in columns if c not in set(S.VALID_COLUMNS)]
    return (not missing, missing, extra)


def _email_valid(col: Column) -> Column:
    # notna ∧ trim≠"" ∧ regex (utils/utils_transform.py:112-116).
    t = F.trim(col)
    return col.isNotNull() & (t != "") & t.rlike(S.EMAIL_PATTERN)


def _date_valid(col: Column) -> Column:
    # NULL is valid; non-null must be non-blank and strict-format
    # (utils/utils_transform.py:121-129).
    t = F.trim(col)
    return col.isNull() | ((t != "") & t.rlike(S.DATE_PATTERN))


def with_validity_flags(df: DataFrame) -> DataFrame:
    """Add valid_email / valid_fecha_* / is_valid boolean columns (F1-F3)."""
    out = df.withColumn("valid_email", _email_valid(F.col("email")))
    for src, flag in _DATE_FLAG_BY_COL.items():
        out = out.withColumn(flag, _date_valid(F.col(src)))
    date_flags = [F.col(f) for f in _DATE_FLAG_BY_COL.values()]
    is_valid = F.col("valid_email")
    for f in date_flags:
        is_valid = is_valid & f
    return out.withColumn("is_valid", is_valid)


def split_valid_invalid(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F4: two filtered branches of one lineage (utils/utils_transform.py:135-136)."""
    return flagged.filter(F.col("is_valid")), flagged.filter(~F.col("is_valid"))


def expand_errors(invalid: DataFrame, filename_col: Column) -> DataFrame:
    """E1: one output row per failed check, vectorized.

    The reference iterates rows in Python (utils/utils_transform.py:143-165);
    here it is array(when...) → filter nulls → explode — fully codegen'd.
    Output: (nombreArchivo, email, tipoError).
    """
    checks = F.array(
        F.when(~F.col("valid_email"), F.lit("Email")),
        F.when(~F.col("valid_fecha_envio"), F.lit("Fecha envio")),
        F.when(~F.col("valid_fecha_open"), F.lit("Fecha open")),
        F.when(~F.col("valid_fecha_click"), F.lit("Fecha click")),
    )
    failed = F.filter(checks, lambda x: x.isNotNull())
    return invalid.select(
        filename_col.alias("nombreArchivo"),
        F.col("email"),
        F.explode(failed).alias("tipoError"),
    )


def normalize_and_cast(valid: DataFrame) -> DataFrame:
    """P1-P5: rename → trim/null-normalize strings → cast dates and ints.

    D7 ruling: int columns cast directly (unparseable → NULL, literal 0
    survives); string columns trim then map "-"/"0" → NULL; date columns
    parse strictly as dd/MM/yyyy HH:mm (unparseable → NULL, matching
    pandas errors="coerce"). The ``try_`` forms keep unparseable → NULL
    under ANSI mode too, where a plain cast or ``to_timestamp`` raises: a
    row can pass the date regex and still name no real instant
    (31/02/2024).
    """
    df = valid.drop(*[c for c in _FLAG_COLS if c in valid.columns])
    df = df.withColumnsRenamed(S.COLUMNS_TO_MAP)
    exprs: list[Column] = []
    for c in df.columns:
        if c in S.STR_COLUMNS:
            t = F.trim(F.col(c))
            exprs.append(F.when(t.isin("-", "0") | (t == ""), None).otherwise(t).alias(c))
        elif c in S.TS_COLUMNS:
            exprs.append(
                F.try_to_timestamp(F.trim(F.col(c)), F.lit(S.DATE_FORMAT)).alias(c)
            )
        elif c in S.INT_COLUMNS:
            exprs.append(F.col(c).try_cast("int").alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def visitors_aggregate(stats: DataFrame) -> DataFrame:
    """A1+A3: per-email batch aggregate feeding the visitantes merge.

    Counters are the batch's row count (utils/utils_transform.py:229-233);
    first/last visit dates derive from fechaEnvio min/max (D20 ruling),
    falling back to the current date when all fechaEnvio are NULL.
    """
    today = F.current_date()
    return stats.groupBy("email").agg(
        F.count("*").cast("long").alias("visitasTotales"),
        F.count("*").cast("long").alias("visitasAnioActual"),
        F.count("*").cast("long").alias("visitasMesActual"),
        F.coalesce(F.min(F.col("fechaEnvio").cast("date")), today).alias("fechaPrimeraVisita"),
        F.coalesce(F.max(F.col("fechaEnvio").cast("date")), today).alias("fechaUltimaVisita"),
    )


def transform_file(raw: DataFrame, filename: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full per-file transform: (estadisticas, visitors_batch, errores).

    ``raw`` is the all-string projection of one report file (layout already
    validated). One scan, three outputs, all lazy.
    """
    flagged = with_validity_flags(raw)
    ok, bad = split_valid_invalid(flagged)
    errores = expand_errors(bad, F.lit(filename))
    stats = normalize_and_cast(ok).withColumn("nombreArchivo", F.lit(filename))
    visitors = visitors_aggregate(stats)
    return stats, visitors, errores
