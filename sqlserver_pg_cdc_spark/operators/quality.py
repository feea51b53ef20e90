"""Data-quality checks & table profiling.

The reference is at heart a data-quality engine (reconciliation = the
cross-system check); these are the single-table checks that complete the
family — the constraints its replication assumes (PK uniqueness, FK
integrity, NOT NULL) but never verifies:

- ``check_not_null`` / ``check_unique`` / ``check_referential`` /
  ``check_range``: each returns one result row
  (check_name, column, violations, passed) and stays fully distributed
  (violation counting is an aggregate; uniqueness is a groupBy-count;
  referential is a left-anti join).
- ``run_checks``: unions any number of checks into one report frame.
- ``profile_table``: per-column null count, distinct count (HLL by
  default, exact via per-column pruned jobs), canonical min/max — never
  the multi-distinct Expand rewrite.

All oracle-expressible; violations never leave the cluster.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.functions.canonical import canon_col, canon_sql, quote


def _result(df: DataFrame, check: str, column: str, violations: Column) -> DataFrame:
    return df.agg(violations.cast("long").alias("violations")).select(
        F.lit(check).alias("check_name"),
        F.lit(column).alias("column_name"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def check_not_null(df: DataFrame, col: str) -> DataFrame:
    return _result(df, "not_null", col, F.count_if(F.col(col).isNull()))


def check_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """Violations = rows beyond the first per duplicate key group."""
    dup_extra = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("violations"))
    )
    name = ",".join(cols)
    return dup_extra.select(
        F.lit("unique").alias("check_name"),
        F.lit(name).alias("column_name"),
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )


def check_referential(
    child: DataFrame, parent: DataFrame, fk_cols: list[str], pk_cols: list[str]
) -> DataFrame:
    """Orphaned child rows: FK set minus parent PK set (left-anti join —
    the reference's set-difference, kept distributed)."""
    # SQL FK semantics (MATCH SIMPLE): a row with any NULL FK component
    # satisfies the constraint — exclude those before orphan counting
    non_null = child
    for f in fk_cols:
        non_null = non_null.filter(F.col(f).isNotNull())
    cond = [non_null[f] == parent[p] for f, p in zip(fk_cols, pk_cols)]
    orphans = non_null.join(parent, cond, "left_anti")
    name = ",".join(fk_cols)
    return orphans.agg(F.count(F.lit(1)).alias("violations")).select(
        F.lit("referential").alias("check_name"),
        F.lit(name).alias("column_name"),
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )


def check_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    out_of_range = F.count_if(
        F.col(col).isNotNull() & ((F.col(col) < lo) | (F.col(col) > hi))
    )
    return _result(df, "range", col, out_of_range)


def run_checks(checks: list[DataFrame]) -> DataFrame:
    """Union the per-check single-row frames into one report."""
    return reduce(lambda a, b: a.unionByName(b), checks)


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    distinct: str = "approx",
    rsd: float = 0.05,
) -> DataFrame:
    """Per-column profile: (column_name, n_nulls, n_distinct, min_canon,
    max_canon). min/max are computed on the native type, then rendered in
    the cross-engine canonical form.

    Never uses multiple ``countDistinct`` in one aggregate: Spark's
    multi-distinct rewrite expands every scanned row N_cols times
    (Expand node), a full-table xN shuffle at warehouse scale. Instead:

    - ``distinct="approx"`` (default, production): HLL++
      ``approx_count_distinct`` rides the SAME single aggregation pass
      as nulls/min/max — approx is a regular aggregate, so the plan is
      one scan, zero Expand. ``rsd`` bounds the relative error.
    - ``distinct="exact"``: exact counts via one column-pruned
      ``countDistinct`` job per column (a lone distinct compiles to a
      two-level hash aggregate, no Expand), submitted concurrently so
      the tiny jobs overlap. Total I/O ~ one full scan (each job reads
      only its column), exact cross-engine parity for oracles.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError(f"distinct must be 'approx' or 'exact', got {distinct!r}")
    fields = [(f.name, f.dataType) for f in df.schema.fields
              if cols is None or f.name in cols]
    aggs = []
    for i, (name, dtype) in enumerate(fields):
        c = F.col(name)
        aggs.extend(
            [
                F.count_if(c.isNull()).cast("long").alias(f"__nn{i}"),
                canon_col(f"min({quote(name)})", dtype).alias(f"__mn{i}"),
                canon_col(f"max({quote(name)})", dtype).alias(f"__mx{i}"),
            ]
        )
        if distinct == "approx":
            aggs.append(
                F.approx_count_distinct(c, rsd).cast("long").alias(f"__nd{i}")
            )
    wide = df.agg(*aggs).collect()[0]
    if distinct == "exact":
        from concurrent.futures import ThreadPoolExecutor

        def _count_distinct(name: str) -> int:
            return (
                df.select(name)
                .agg(F.countDistinct(name).cast("long").alias("d"))
                .collect()[0]["d"]
            )

        with ThreadPoolExecutor(max_workers=min(8, len(fields) or 1)) as pool:
            nd = list(pool.map(_count_distinct, [n for n, _ in fields]))
    else:
        nd = [wide[f"__nd{i}"] for i in range(len(fields))]
    rows = [
        (name, wide[f"__nn{i}"], nd[i], wide[f"__mn{i}"], wide[f"__mx{i}"])
        for i, (name, _) in enumerate(fields)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "column_name string, n_nulls long, n_distinct long, "
        "min_canon string, max_canon string",
    )


def profile_table_sql(df: DataFrame, table: str, cols: list[str] | None = None) -> str:
    """Oracle twin of profile_table(distinct="exact") — DuckDB's
    count(DISTINCT) is exact, so only the exact Spark mode hash-matches."""
    fields = [(f.name, f.dataType) for f in df.schema.fields
              if cols is None or f.name in cols]
    selects = []
    for name, dtype in fields:
        selects.append(
            f"SELECT '{name}' AS column_name, "
            f"count(*) FILTER (WHERE {name} IS NULL) AS n_nulls, "
            f"count(DISTINCT {name}) AS n_distinct, "
            f"{canon_sql(f'min({name})', dtype)} AS min_canon, "
            f"{canon_sql(f'max({name})', dtype)} AS max_canon "
            f"FROM {table}"
        )
    return " UNION ALL ".join(selects)


def k_anonymity(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """k-anonymity profile over a set of quasi-identifier columns:
    ``(class_size, n_classes, n_rows, re_id_risk)``.

    Rows sharing one combination of quasi-identifier values form an
    equivalence class; the dataset is k-anonymous for k = the smallest
    class size. The histogram shows the whole risk surface (GDPR
    pseudonymization review rides on this before release — reference's
    PII family, src/utils/pii.py, stops at masking; this measures
    whether masking sufficed). ``re_id_risk`` = 1/class_size, the
    worst-case singling-out probability for rows in that class.

    Scale: one groupBy on the quasi-identifiers (the only shuffle over
    data), then a histogram aggregation whose cardinality is bounded by
    the number of DISTINCT class sizes — tiny. NULL QI values group
    together (first-class groupBy semantics), matching SQL GROUP BY.
    """
    classes = df.groupBy(*qi_cols).agg(F.count("*").alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("class_size").cast("long").alias("n_rows"),
        )
        .select(
            F.col("class_size").cast("long").alias("class_size"),
            "n_classes",
            "n_rows",
            (F.lit(1.0) / F.col("class_size").cast("double")).alias("re_id_risk"),
        )
    )


def k_anonymity_sql(table_expr: str, qi_cols: list[str]) -> str:
    qi = ", ".join(qi_cols)
    return f"""
WITH classes AS (
    SELECT {qi}, count(*) AS class_size FROM ({table_expr}) GROUP BY {qi}
)
SELECT CAST(class_size AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       1.0::DOUBLE / CAST(class_size AS DOUBLE) AS re_id_risk
FROM classes GROUP BY class_size
"""


def outliers_zscore(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier detection: rows where
    ``|v - mean| > z * stddev`` of their group —
    ``(*keys, <value_col>, group_mean, group_sd, zscore)``.

    Cross-engine determinism: the group moments are EXACT decimal sums
    (2-dp values, 4-dp squares); mean/variance/sd then derive in double
    from identical operands on both engines, so the flag boundary is
    bit-stable. Variance uses the E[x²]-E[x]² form — cancellation-prone
    for |mean| >> sd but deterministic, which is what the oracle
    contract needs (Welford would be order-dependent). sqrt is
    correctly rounded in both engines.

    Scale: one groupBy over the data for the moments (map-side
    combinable), one join of group-count-sized stats back (AQE
    broadcasts when small), flag rides the scan. Zero-variance groups
    flag nothing (sd = 0 -> |v - mean| > 0 is never, since v == mean).
    """
    dec = F.col(value_col).cast("decimal(18,2)")
    stats = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec).cast("double").alias("__s"),
        F.sum((dec * dec).cast("decimal(38,4)")).cast("double").alias("__ss"),
    )
    mean = F.col("__s") / F.col("__n").cast("double")
    var = F.greatest(
        F.col("__ss") / F.col("__n").cast("double") - mean * mean, F.lit(0.0)
    )
    enriched = stats.select(
        *key_cols,
        mean.alias("group_mean"),
        F.sqrt(var).alias("group_sd"),
    )
    joined = df.join(enriched, key_cols)
    zscore = (F.col(value_col) - F.col("group_mean")) / F.col("group_sd")
    return (
        joined.filter(
            F.abs(F.col(value_col) - F.col("group_mean"))
            > F.lit(z) * F.col("group_sd")
        )
        .select(*key_cols, value_col, "group_mean", "group_sd", zscore.alias("zscore"))
    )


def outliers_zscore_sql(
    table_expr: str, key_cols: list[str], value_col: str, z: float = 3.0
) -> str:
    keys = ", ".join(key_cols)
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sel = ", ".join(f"t.{k}" for k in key_cols)
    return f"""
WITH src AS ({table_expr}),
stats AS (
    -- decimal -> VARCHAR -> DOUBLE: DuckDB's direct decimal->double cast
    -- double-rounds (int128 -> double, then * 10^-scale) and drifts a
    -- ulp from Spark's correctly-rounded BigDecimal conversion on
    -- 1e14-magnitude sums; the string parse is correctly rounded in
    -- both engines
    SELECT {keys},
           count(*) AS n,
           CAST(CAST(sum(CAST({value_col} AS DECIMAL(18,2))) AS VARCHAR)
                AS DOUBLE) AS s,
           CAST(CAST(sum(CAST(CAST({value_col} AS DECIMAL(18,2))
                              * CAST({value_col} AS DECIMAL(18,2))
                              AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS ss
    FROM src GROUP BY {keys}
),
enriched AS (
    SELECT {keys}, s / CAST(n AS DOUBLE) AS group_mean,
           sqrt(greatest(ss / CAST(n AS DOUBLE)
                         - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)),
                         0.0)) AS group_sd
    FROM stats
)
SELECT {sel}, t.{value_col}, s.group_mean, s.group_sd,
       (t.{value_col} - s.group_mean) / s.group_sd AS zscore
FROM src t JOIN enriched s ON {on}
WHERE abs(t.{value_col} - s.group_mean) > CAST({z!r} AS DOUBLE) * s.group_sd
"""


def fk_containment(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Foreign-key candidate profiling: how fully the child column's
    values are contained in the parent column —
    ``(n_child_distinct, n_contained, containment, is_fk_candidate)``.

    Containment ~1.0 marks an (undeclared) referential relationship —
    the discovery step before check_referential enforces it. Exact
    distinct sets via one left-semi join on the candidate key: two
    aggregations + a semi-join keyed on the value, no value set ever
    reaches the driver.
    """
    cd = child.select(F.col(child_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    pd_ = parent.select(F.col(parent_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    contained = cd.join(pd_, "__v", "left_semi")
    n_child = cd.agg(F.count(F.lit(1)).alias("n_child_distinct"))
    n_cont = contained.agg(F.count(F.lit(1)).alias("n_contained"))
    return n_child.crossJoin(n_cont).select(
        F.col("n_child_distinct").cast("long").alias("n_child_distinct"),
        F.col("n_contained").cast("long").alias("n_contained"),
        (
            F.col("n_contained").cast("double")
            / F.greatest(F.col("n_child_distinct"), F.lit(1)).cast("double")
        ).alias("containment"),
        (F.col("n_contained") == F.col("n_child_distinct")).alias("is_fk_candidate"),
    )


def fk_containment_sql(
    child_expr: str, child_col: str, parent_expr: str, parent_col: str
) -> str:
    return f"""
WITH cd AS (SELECT DISTINCT {child_col} AS v FROM ({child_expr})
            WHERE {child_col} IS NOT NULL),
pd AS (SELECT DISTINCT {parent_col} AS v FROM ({parent_expr})
       WHERE {parent_col} IS NOT NULL),
contained AS (SELECT v FROM cd WHERE v IN (SELECT v FROM pd))
SELECT CAST((SELECT count(*) FROM cd) AS BIGINT) AS n_child_distinct,
       CAST((SELECT count(*) FROM contained) AS BIGINT) AS n_contained,
       CAST((SELECT count(*) FROM contained) AS DOUBLE)
           / CAST(greatest((SELECT count(*) FROM cd), 1) AS DOUBLE) AS containment,
       (SELECT count(*) FROM contained) = (SELECT count(*) FROM cd)
           AS is_fk_candidate
"""


def quantile_buckets(
    df: DataFrame,
    col: str,
    n: int,
    relative_error: float = 1e-4,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Scale path for NTILE-style quantile bucketing (the production
    variant `workload.q_balance_quartiles` documents; reference analog:
    quartile severity bucketing, src/reporting/severity.py).

    Exact NTILE is one GLOBAL sort — a single-partition WindowExec that
    cannot scale past one executor's memory. Here the plan is

    1. ONE approx-percentile aggregate computes the n-1 interior cut
       points (a t-digest-style mergeable sketch: map-side partials,
       one tiny reduce — `approx_percentile` with accuracy
       ``1/relative_error``), then
    2. ONE scan assigns each row ``1 + #cuts strictly below its
       value`` via a literal-array fold — embarrassingly parallel,
       whole-stage-codegen, no shuffle, no window.

    Differences from exact NTILE, by construction: rows within
    ``relative_error`` of a cut point may land one bucket off, heavy
    ties keep ALL equal values in one bucket (NTILE force-splits them
    to equalize counts), and NULLs get a NULL bucket (NTILE ranks them
    wherever the sort placed them). On continuous data the two agree.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    out_t = "int" if n <= 2**31 - 1 else "long"
    if n == 1:
        return df.withColumn(
            bucket_col,
            F.when(F.col(col).isNotNull(), F.lit(1)).cast(out_t),
        )
    probs = [i / n for i in range(1, n)]
    accuracy = max(100, int(round(1.0 / relative_error)))
    cuts_row = (
        df.filter(F.col(col).isNotNull())
        .agg(F.percentile_approx(col, probs, accuracy).alias("c"))
        .collect()[0]["c"]
    )
    if cuts_row is None:  # no non-NULL rows
        return df.withColumn(bucket_col, F.lit(None).cast(out_t))
    arr = F.array(*[F.lit(c) for c in cuts_row])
    count_below = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, cut: acc + F.when(F.col(col) > cut, 1).otherwise(0),
    )
    return df.withColumn(
        bucket_col,
        F.when(F.col(col).isNotNull(), F.lit(1) + count_below).cast(out_t),
    )
