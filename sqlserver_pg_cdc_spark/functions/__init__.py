from sqlserver_pg_cdc_spark.functions.canonical import (  # noqa: F401
    canon_col,
    canon_sql,
    null_safe_equal_sql,
    row_hash,
    row_hash_sql,
)
