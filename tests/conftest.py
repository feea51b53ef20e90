import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from sqlserver_pg_cdc_spark.session import get_spark  # noqa: E402

# --- slow-tier marking (see pytest.ini) ------------------------------------
# The subprocess CLI e2e tests each spawn a fresh JVM+SparkSession
# (~20-40 s before any assertion); the listed property/sweep tests are
# the suite's heaviest in-session items (40-150 s each, measured with
# --durations). Everything else — every operator, sink, gate, oracle
# and maintenance contract — stays in the default tier.
_SLOW_FILES = {"test_pipeline_cli_e2e.py"}
_SLOW_TESTS = {
    # whole-catalog sweep over schema-only tables (the adversarial
    # harness's `edge` sweep covers degenerate populations besides)
    "test_every_catalog_query_runs_on_empty_tables",
    # heaviest randomized property tests
    "test_scd2_apply_invariants",
    "test_split_transactions_partition_property",
    "test_duplicate_spans_invariants",
    "test_incremental_diff_equals_full_random",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        name = item.name.split("[")[0]
        if (
            fname in _SLOW_FILES
            # scheduler CLI e2e: the test_cli_* items shell out to the
            # CLI (fresh JVM each); the module's pure-python cron /
            # retry / credentials / in-session units stay default-tier
            or (fname == "test_scheduler_cli_e2e.py"
                and name.startswith("test_cli_"))
            or name in _SLOW_TESTS
        ):
            item.add_marker(pytest.mark.slow)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="tests",
        extra_conf={
            # static conf: must be set at session creation (bucketed-table
            # tests need a throwaway warehouse)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_"),
            "spark.sql.catalogImplementation": "in-memory",
        },
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, table, sf_dir=SF_DIR):
    from sqlserver_pg_cdc_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, table)


@pytest.fixture
def at_commit_step(monkeypatch):
    """Arm ``fn()`` to run once at one step of the next commit of a
    hash-partitioned state (`HashPartitionedStateMixin._commit`); with
    no ``fn`` the step raises ``RuntimeError("injected crash ...")``:

    - "after_write": the batch temp is written, nothing renamed;
    - "mid_rename": one generation directory renamed, the rest not;
    - "after_renames": every generation renamed, no version linked;
    - "after_link": the version is committed, nothing cleaned up;
    - "mid_gc": part of the cleanup done.

    "mid_rename" needs a batch touching two partitions or more, and
    "mid_gc" one that supersedes at least one generation."""
    import shutil

    from sqlserver_pg_cdc_spark.streaming.apply import HashPartitionedStateMixin

    armed = {"step": None, "fn": None, "renames": 0, "rmtrees": 0}
    rename, link, rmtree = os.rename, os.link, shutil.rmtree
    gc = HashPartitionedStateMixin._gc

    def fire(step):
        if step is not None and armed["step"] == step:
            armed["step"] = None
            armed["fn"]()

    def _rename(src, dst, *a, **k):
        if "__batchtmp_" in str(src):
            armed["renames"] += 1
            fire({1: "after_write", 2: "mid_rename"}.get(armed["renames"]))
        return rename(src, dst, *a, **k)

    def _link(src, dst, *a, **k):
        fire("after_renames")
        return link(src, dst, *a, **k)

    def _gc(self, body):
        fire("after_link")
        armed["rmtrees"] = 0
        return gc(self, body)

    def _rmtree(path, *a, **k):
        if os.path.basename(str(path)).startswith(("part_", "__batchtmp_")):
            armed["rmtrees"] += 1
            if armed["rmtrees"] == 2:
                fire("mid_gc")
        return rmtree(path, *a, **k)

    monkeypatch.setattr(os, "rename", _rename)
    monkeypatch.setattr(os, "link", _link)
    monkeypatch.setattr(shutil, "rmtree", _rmtree)
    monkeypatch.setattr(HashPartitionedStateMixin, "_gc", _gc)

    def crash(step):
        raise RuntimeError(f"injected crash {step}")

    def arm(step, fn=None):
        fn = fn or (lambda: crash(step))
        armed.update(step=step, fn=fn, renames=0, rmtrees=0)

    return arm
