"""Deterministic cross-engine value canonicalization (reference F1, F13-F16).

The reference hashes rows by Python ``str()``-ifying every value,
NULL-coalescing to ``"NULL"`` and joining with ``"|"`` before folding into
SHA-256 (src/reconciliation/compare/checksum.py:73-77 in the reference).
``str()`` formatting is not reproducible across engines (float repr,
datetime isoformat), so this module defines its OWN canonical form, with a
bit-identical implementation in Spark SQL expressions *and* in DuckDB SQL
(used by the oracle harness). The rules, verified equal across both
engines:

==============  =====================================================
Spark type      canonical string
==============  =====================================================
NULL            ``"NULL"``
string          the value as-is
int family      decimal digits (cast to string)
boolean         ``"true"`` / ``"false"``
double/float    ``cast(value as decimal(24,6))`` rendered with full
                scale, e.g. ``185.220000`` (6 fractional digits covers
                the reference's 1e-9-tolerance *reporting* use cases
                while avoiding engine-specific shortest-repr floats)
decimal(p,s)    cast to string (scale preserved)
timestamp       microseconds since epoch, as digits (session TZ = UTC)
date            days since epoch, as digits
binary          uppercase hex
==============  =====================================================

Row canonical form: canonical values joined with ``"|"``; row hash =
``md5(row_canonical)`` (32 hex chars). md5 here is a content fingerprint
for reconciliation, not a security primitive — the salted/keyed hashing
family lives in functions/masking.py with SHA-2.

Additional cross-engine trap (learned the hard way, see
operators/quality.py outliers_zscore_sql): DuckDB's direct
decimal->DOUBLE cast double-rounds (int128 -> double, then multiply by
10^-scale) and drifts a ulp from Spark's correctly-rounded BigDecimal
conversion once the decimal's magnitude passes ~2^53 / 10^scale.  When
an oracle must hand a large exact decimal to double space, route it
through VARCHAR (``CAST(CAST(x AS VARCHAR) AS DOUBLE)``) — string
parsing is correctly rounded in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_TOKEN = "NULL"
SEP = "|"
# 6 fractional digits; 24 total digits handles |x| < 1e18.
_FLOAT_DECIMAL = "decimal(24,6)"

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def quote(name: str, qualifier: str = "") -> str:
    """Backtick-quoted Spark SQL identifier, optionally ``qualifier.``-prefixed."""
    q = "`" + name.replace("`", "``") + "`"
    return f"{qualifier}.{q}" if qualifier else q


def sql_string(value: str) -> str:
    """Spark SQL string literal (backslash escapes are the parser default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canon_expr(expr: str, dtype: T.DataType) -> str:
    """Spark SQL text of the canonical string of ``expr`` (NULL -> "NULL").

    ``expr`` is itself Spark SQL text: a quoted column, or an aggregate
    such as ``min(`c`)``. Building the whole row expression as text costs
    one parse instead of a py4j round trip per function call.
    """
    if isinstance(dtype, T.StringType):
        s = expr
    elif isinstance(dtype, _INT_TYPES) or isinstance(dtype, T.BooleanType):
        s = f"CAST({expr} AS STRING)"
    elif isinstance(dtype, _FLOAT_TYPES):
        s = f"CAST(CAST({expr} AS {_FLOAT_DECIMAL}) AS STRING)"
    elif isinstance(dtype, T.DecimalType):
        s = f"CAST({expr} AS STRING)"
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # NTZ: session TZ is pinned to UTC, so the cast is shift-free and
        # unix_micros matches DuckDB's epoch_us on the naive value.
        s = f"CAST(unix_micros(CAST({expr} AS TIMESTAMP)) AS STRING)"
    elif isinstance(dtype, T.DateType):
        s = f"CAST(datediff({expr}, DATE'1970-01-01') AS STRING)"
    elif isinstance(dtype, T.BinaryType):
        s = f"hex({expr})"
    else:
        # structured types (array/map/struct): stable JSON rendering
        s = f"to_json({expr})"
    return f"coalesce({s}, '{NULL_TOKEN}')"


def canon_col(expr: str, dtype: T.DataType) -> Column:
    """Canonical-string column for one Spark SQL expression, e.g. a column
    name or ``min(c)``."""
    return F.expr(canon_expr(expr, dtype))


def canon_sql(col: str, dtype: T.DataType, qualifier: str = "") -> str:
    """DuckDB SQL fragment producing the same canonical string as canon_col.

    Used to build oracle queries that must hash-match the Spark plan.
    """
    q = f"{qualifier}.{col}" if qualifier else col
    if isinstance(dtype, T.StringType):
        s = q
    elif isinstance(dtype, _INT_TYPES):
        s = f"CAST({q} AS VARCHAR)"
    elif isinstance(dtype, T.BooleanType):
        s = f"CAST({q} AS VARCHAR)"
    elif isinstance(dtype, _FLOAT_TYPES):
        s = f"CAST(CAST({q} AS DECIMAL(24,6)) AS VARCHAR)"
    elif isinstance(dtype, T.DecimalType):
        s = f"CAST({q} AS VARCHAR)"
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        s = f"CAST(epoch_us({q}) AS VARCHAR)"
    elif isinstance(dtype, T.DateType):
        s = f"CAST(date_diff('day', DATE '1970-01-01', {q}) AS VARCHAR)"
    elif isinstance(dtype, T.BinaryType):
        s = f"upper(hex({q}))"
    else:
        raise ValueError(f"no DuckDB canonical form for {dtype}")
    return f"COALESCE({s}, '{NULL_TOKEN}')"


# ---------------------------------------------------------------------------
# SQLServer -> Avro -> PG type-matrix overlays (reference research.md:369-390)
#
# After Avro decode, several source types arrive in Spark as generic
# primitives whose *semantics* the physical type no longer carries:
# TIME -> long (time-micros), DATETIMEOFFSET -> ISO-8601 string,
# UNIQUEIDENTIFIER -> GUID string, BIT -> boolean, BINARY -> bytes.
# canon_col already covers the physical types; these overlays pin the
# LOGICAL canonical forms so both engines agree on the semantic value:
# offsets collapse to the UTC instant, GUIDs to lowercase (the
# reference's stated normalization), time-of-day to micros digits.
# ---------------------------------------------------------------------------

LOGICAL_TYPES = ("time-micros", "datetimeoffset", "uuid")


def canon_logical(col: Column | str, logical: str) -> Column:
    """Canonical string for a logical (Avro-mapped) type overlay."""
    c = F.col(col) if isinstance(col, str) else col
    if logical == "time-micros":
        # long micros since midnight; digits (same as the int family)
        s = c.cast("long").cast("string")
    elif logical == "datetimeoffset":
        # ISO-8601 with offset -> UTC instant micros (session TZ is UTC,
        # so the offset-aware parse lands on the absolute instant)
        s = F.unix_micros(c.cast("timestamp")).cast("string")
    elif logical == "uuid":
        # reference: "SQL Server GUIDs converted to lowercase UUID strings"
        s = F.lower(c)
    else:
        raise ValueError(f"unknown logical type: {logical!r}")
    return F.coalesce(s, F.lit(NULL_TOKEN))


def canon_logical_sql(col: str, logical: str) -> str:
    """DuckDB twin of canon_logical."""
    if logical == "time-micros":
        s = f"CAST(CAST({col} AS BIGINT) AS VARCHAR)"
    elif logical == "datetimeoffset":
        s = f"CAST(epoch_us(CAST({col} AS TIMESTAMPTZ)) AS VARCHAR)"
    elif logical == "uuid":
        s = f"lower({col})"
    else:
        raise ValueError(f"unknown logical type: {logical!r}")
    return f"COALESCE({s}, '{NULL_TOKEN}')"


def _resolve_fields(df: DataFrame, cols: list[str] | None) -> list[tuple[str, T.DataType]]:
    by_name = {f.name: f.dataType for f in df.schema.fields}
    names = cols if cols is not None else [f.name for f in df.schema.fields]
    return [(n, by_name[n]) for n in names]


def row_canonical_expr(fields: list[tuple[str, T.DataType]], qualifier: str = "") -> str:
    """Spark SQL text of the '|'-joined canonical row string."""
    parts = ", ".join(canon_expr(quote(n, qualifier), t) for n, t in fields)
    return f"concat_ws('{SEP}', {parts})"


def row_hash_expr(fields: list[tuple[str, T.DataType]], qualifier: str = "") -> str:
    """Spark SQL text of the per-row md5 hex fingerprint."""
    return f"md5({row_canonical_expr(fields, qualifier)})"


def row_canonical(df: DataFrame, cols: list[str] | None = None) -> Column:
    """'|'-joined canonical row string (column order = ``cols`` order)."""
    return F.expr(row_canonical_expr(_resolve_fields(df, cols)))


def row_hash(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Per-row md5 hex fingerprint over the canonical row string."""
    return F.expr(row_hash_expr(_resolve_fields(df, cols)))


def row_hash_sql(fields: list[tuple[str, T.DataType]], qualifier: str = "") -> str:
    """DuckDB fragment matching row_hash for the same (name, type) list."""
    parts = ", ".join(canon_sql(n, t, qualifier) for n, t in fields)
    return f"md5(concat_ws('{SEP}', {parts}))"


def null_safe_equal_sql(
    left: str,
    right: str,
    dtype: T.DataType,
    float_tol: float | None = 1e-9,
    trim_strings: bool = True,
) -> str:
    """Reference-compatible column equality (F13-F15) as SQL text that
    Spark and DuckDB parse alike, so the diff and its oracle share one rule.

    - NULL == NULL is equal; NULL vs value differs (reconciler.py:394-400)
    - floats equal when |l-r| < float_tol (reconciler.py:402-406)
    - strings equal when they differ only by leading/trailing whitespace
      (reconciler.py:409-416)
    """
    if isinstance(dtype, _FLOAT_TYPES) and float_tol is not None:
        return (
            f"(({left} IS NULL AND {right} IS NULL) OR "
            f"({left} IS NOT NULL AND {right} IS NOT NULL AND "
            f"abs({left} - {right}) < {float_tol!r}))"
        )
    if isinstance(dtype, T.StringType) and trim_strings:
        return f"(trim({left}) IS NOT DISTINCT FROM trim({right}))"
    return f"({left} IS NOT DISTINCT FROM {right})"
