"""Table checksums (reference A1-A4).

The reference offers two checksum families:

- an order-sensitive sequential SHA-256 fold over rows ordered by PK
  (compare/checksum.py:19-80) — inherently serial;
- an order-INsensitive in-database aggregate, PG
  ``MD5(string_agg(row_hash, '' ORDER BY row_hash))`` / MSSQL
  ``CHECKSUM_AGG`` (utils/query_optimizer/optimizer.py:93-117) — the one it
  recommends for production.

We make the order-insensitive family the engine default, in two modes:

- ``mode="commutative"`` (default, the 100 TB path): per-row md5 split into
  three integer chunks, exact decimal SUM of each chunk + COUNT, folded into
  one md5 hex digest. Fully map-side combinable — one partial-agg pass, no
  sort, no collect, scales linearly with executors.
- ``mode="sorted"`` (reference-parity): md5 of the sorted concatenation of
  row hashes — matches the reference's PG aggregate shape. Requires
  gathering all row hashes (collect_list); use only at validation scale.

The order-sensitive fold (A2) is provided as ``ordered_checksum`` — a
documented slow path that streams ordered partitions through the driver.

The commutative digest is built as Spark SQL text (``chunk_exprs`` splits
a row hash, ``digest_expr`` sums and folds it). ``runner.reconcile_table``
uses the same two helpers inside its one per-table audit query, gated to
one side's rows, so its checksums equal ``table_checksum``'s byte for byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.functions.canonical import (
    _resolve_fields,
    row_canonical_expr,
    row_hash,
    row_hash_expr,
    row_hash_sql,
)

# md5 = 32 hex chars -> 15 + 15 + 2 chunks, each fits a 64-bit int exactly.
_CHUNKS = [(1, 15), (16, 15), (31, 2)]


def chunk_exprs(rh: str) -> list[str]:
    """Spark SQL text splitting the md5 hex column ``rh`` into its integer
    chunks (BIGINT: 8 bytes per chunk through a shuffle, not 32 chars)."""
    return [f"CAST(conv(substring({rh}, {pos}, {ln}), 16, 10) AS BIGINT)" for pos, ln in _CHUNKS]


def digest_expr(chunks: list[str], gate: str | None = None) -> str:
    """Spark SQL text of the commutative checksum aggregate over the rows
    where ``gate`` holds (all rows without one): the exact decimal SUM of
    each chunk and the row count, folded into one md5 hex digest. The
    fused audit (runner.reconcile_table) and ``table_checksum`` both use
    it, so their digests are byte-identical."""
    if gate:
        chunks = [f"CASE WHEN {gate} THEN {c} END" for c in chunks]
    sums = ", ".join(
        f"coalesce(CAST(sum(CAST({c} AS DECIMAL(38,0))) AS STRING), '0')" for c in chunks
    )
    count = f"count_if({gate})" if gate else "count(1)"
    return f"md5(concat_ws('|', {sums}, CAST({count} AS STRING)))"


def table_checksum(
    df: DataFrame, cols: list[str] | None = None, mode: str = "commutative"
) -> DataFrame:
    """One-row DataFrame ``(checksum string, row_count bigint)``.

    Order-insensitive: any row permutation yields the same digest.
    """
    fields = _resolve_fields(df, cols)
    if mode == "sorted":
        return df.selectExpr(f"{row_hash_expr(fields)} AS __rh").selectExpr(
            "md5(concat_ws('', sort_array(collect_list(__rh)))) AS checksum",
            "count(1) AS row_count",
        )
    if mode == "fast":
        # 100 TB path: xxhash64 (JVM-native, no hex strings) summed as
        # decimal — cheapest possible one-pass commutative digest. No
        # DuckDB oracle (xxhash64 has no cross-engine twin); validated by
        # determinism/permutation/avalanche properties instead.
        xh = f"CAST(xxhash64({row_canonical_expr(fields)}) AS DECIMAL(38,0))"
        return df.selectExpr(f"{xh} AS __xh").selectExpr(
            "md5(concat_ws('|', coalesce(CAST(sum(__xh) AS STRING), '0'), "
            "CAST(count(1) AS STRING))) AS checksum",
            "count(1) AS row_count",
        )
    if mode != "commutative":
        raise ValueError(f"unknown checksum mode: {mode}")
    return df.selectExpr(f"{row_hash_expr(fields)} AS __rh").selectExpr(
        f"{digest_expr(chunk_exprs('__rh'))} AS checksum", "count(1) AS row_count"
    )


def table_checksum_sql(
    df: DataFrame,
    table: str,
    cols: list[str] | None = None,
    mode: str = "commutative",
    where: str | None = None,
) -> str:
    """DuckDB oracle SQL producing the identical (checksum, row_count).

    ``df`` supplies the schema for canonicalization; ``table`` is the DuckDB
    view name.
    """
    fields = _resolve_fields(df, cols)
    rh = row_hash_sql(fields)
    pred = f" WHERE {where}" if where else ""
    inner = f"SELECT {rh} AS __rh FROM {table}{pred}"
    if mode == "sorted":
        return (
            f"SELECT md5(coalesce(string_agg(__rh, '' ORDER BY __rh), '')) AS checksum, "
            f"count(*) AS row_count FROM ({inner})"
        )
    sums = ", ".join(
        f"coalesce(CAST(sum(CAST(('0x' || substr(__rh, {pos}, {ln})) AS BIGINT)::HUGEINT) "
        f"AS VARCHAR), '0') AS __s{i}"
        for i, (pos, ln) in enumerate(_CHUNKS)
    )
    return (
        f"SELECT md5(concat_ws('|', __s0, __s1, __s2, CAST(row_count AS VARCHAR))) AS checksum, "
        f"row_count FROM (SELECT {sums}, count(*) AS row_count FROM ({inner}))"
    )


def incremental_checksum(
    df: DataFrame,
    change_col: str,
    since,
    cols: list[str] | None = None,
    mode: str = "commutative",
) -> DataFrame:
    """Delta checksum over rows with ``change_col > since`` (reference A4/S7).

    The filter is a plain Catalyst predicate, so it pushes down to the
    parquet/JDBC scan — the reference's 10-100x incremental speedup falls
    out of partition pruning + pushdown for free.
    """
    return table_checksum(df.filter(F.col(change_col) > F.lit(since)), cols, mode)


def ordered_checksum_df(
    df: DataFrame,
    order_cols: list[str],
    cols: list[str] | None = None,
    bucket_width: int | None = 100_000,
) -> DataFrame:
    """A2 as a distributed one-row DataFrame.

    A sequential SHA-256 fold over ordered row-hash strings equals
    SHA-256 of their ordered CONCATENATION, so the serial loop collapses
    into ``sha2(concat(sorted row hashes))``.

    With ``bucket_width`` set (the default — the 100 TB path), the fold
    is HIERARCHICAL: rows land in order-aligned PK-range buckets
    (``key div width``, so every key in bucket i precedes every key in
    bucket i+1), each bucket folds its own rows in order (bounded
    ``collect_list`` of at most ~width hashes, distributed across the
    shuffle), and the final digest folds the bucket digests in bucket
    order — a single task over #buckets 64-char strings, not over every
    row. Any row change still flips the final digest, and bucket digests
    double as a merkle level for localizing WHERE two tables diverge.
    Requires a numeric, non-negative first order column (the CDC PK
    convention); pass ``bucket_width=None`` for the flat validation-only
    digest over arbitrary order columns.
    """
    pairs = df.select(
        F.struct(*[F.col(c) for c in order_cols]).alias("__k"),
        row_hash(df, cols).alias("__rh"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("__k", "__rh"))), lambda x: x["__rh"]
    )
    if bucket_width is None:
        return pairs.agg(
            F.sha2(F.concat_ws("", ordered), 256).alias("checksum"),
            F.count(F.lit(1)).alias("row_count"),
        )
    # integer div keeps bucketing exact at any key magnitude (double
    # floor-division would lose precision past 2^53)
    bkt = F.expr(f"CAST({order_cols[0]} AS BIGINT) div {int(bucket_width)}")
    per_bucket = (
        df.select(
            bkt.alias("__bkt"),
            F.struct(*[F.col(c) for c in order_cols]).alias("__k"),
            row_hash(df, cols).alias("__rh"),
        )
        .groupBy("__bkt")
        .agg(
            F.sha2(F.concat_ws("", ordered), 256).alias("__bh"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    bucket_fold = F.transform(
        F.array_sort(F.collect_list(F.struct("__bkt", "__bh"))), lambda x: x["__bh"]
    )
    return per_bucket.agg(
        F.sha2(F.concat_ws("", bucket_fold), 256).alias("checksum"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("row_count"),
    )


def ordered_checksum_df_sql(
    df: DataFrame,
    table: str,
    order_cols: list[str],
    cols: list[str] | None = None,
    bucket_width: int | None = 100_000,
) -> str:
    fields = _resolve_fields(df, cols)
    rh = row_hash_sql(fields)
    order = ", ".join(order_cols)
    if bucket_width is None:
        return (
            f"SELECT sha256(coalesce(string_agg(__rh, '' ORDER BY {order}), '')) AS checksum, "
            f"count(*) AS row_count FROM "
            f"(SELECT {', '.join(order_cols)}, {rh} AS __rh FROM {table})"
        )
    # same two-level fold; // is integer division on BIGINT in DuckDB,
    # matching Spark's `div` for non-negative keys
    return f"""
SELECT sha256(coalesce(string_agg(__bh, '' ORDER BY __bkt), '')) AS checksum,
       CAST(coalesce(sum(__n), 0) AS BIGINT) AS row_count
FROM (
    SELECT __bkt,
           sha256(string_agg(__rh, '' ORDER BY {order})) AS __bh,
           count(*) AS __n
    FROM (SELECT {', '.join(order_cols)},
                 CAST({order_cols[0]} AS BIGINT) // {int(bucket_width)} AS __bkt,
                 {rh} AS __rh
          FROM {table})
    GROUP BY __bkt
)
"""


def ordered_checksum(df: DataFrame, order_cols: list[str], cols: list[str] | None = None) -> str:
    """Order-sensitive SHA-256 fold (reference A2), bit-faithful semantics.

    Sequential by definition (each row's digest depends on the running
    fold). We sort distributed, then stream partitions in order through the
    driver. Documented slow path — prefer table_checksum.
    """
    import hashlib

    hashed = df.orderBy(*order_cols).select(row_hash(df, cols).alias("__rh"))
    fold = hashlib.sha256()
    for row in hashed.toLocalIterator():
        fold.update(row["__rh"].encode("ascii"))
    return fold.hexdigest()
