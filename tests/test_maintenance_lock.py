"""Single-writer lock enforcement (`streaming/lock.py`) — round-9
verdict item #6: the quiesce contract on day-2 maintenance ops
(purge_tombstones / rescale / prune_history / compact_batch_log) is now
ENFORCED, not just documented. Concurrent writers fail fast while a
pass holds the lock; a crashed pass leaves a lock that reads stale by
pid/timestamp and is broken on the next open."""

import json
import os
import subprocess
import sys
import time

import pytest

from sqlserver_pg_cdc_spark.streaming.lock import (
    LOCK_FILE,
    MaintenanceLockError,
    assert_no_maintenance,
    lock_path,
    maintenance_lock,
    read_lock,
)


def _sink(spark, tmp_path, name="st", n=4):
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    return PartitionedParquetUpsertSink(
        spark, str(tmp_path / name), ["id"], n_partitions=n
    )


def _rows(spark, ids, deleted=(), lsn=10):
    return spark.createDataFrame(
        [
            (i, f"n{i}", "true" if i in deleted else "false", lsn + i)
            for i in ids
        ],
        "id long, name string, __deleted string, lsn long",
    )


def _dead_pid() -> int:
    """A pid guaranteed dead: spawn a trivial process and wait it out."""
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_upsert_fails_fast_while_maintenance_holds_lock(spark, tmp_path):
    """The r8-ADVICE lost-update scenario: a batch landing between a
    maintenance pass's stats and rewrite passes would be silently
    overwritten — now one side raises instead."""
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(10)), 0)
    with maintenance_lock(str(tmp_path / "st"), "purge_tombstones"):
        with pytest.raises(MaintenanceLockError, match="purge_tombstones"):
            sink(_rows(spark, range(10, 20)), 1)
        # a second maintenance op is excluded the same way
        with pytest.raises(MaintenanceLockError, match="single-writer"):
            sink.purge_tombstones(5, deleted_col="__deleted")
    # lock released: the replayed batch applies cleanly
    sink(_rows(spark, range(10, 20)), 1)
    assert sink.read_target().count() == 20


def test_purge_and_rescale_hold_and_release_the_lock(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(12), deleted={3, 5}), 0)
    out = sink.purge_tombstones(10**9, deleted_col="__deleted")
    assert out["purged"] == 2
    assert read_lock(str(tmp_path / "st")) is None  # released
    sink.rescale(8)
    # the lock is a SIBLING file (never inside the layout) and released
    assert not os.path.exists(tmp_path / "st" / LOCK_FILE)
    assert read_lock(str(tmp_path / "st")) is None
    sink(_rows(spark, range(12, 15)), 1)
    assert sink.read_target().count() == 13


def test_crashed_pass_lock_is_stale_and_recoverable(spark, tmp_path):
    """A pass that died leaves the marker behind; its pid is gone, so
    the next writer treats it as ABSENT (proceeding without deleting —
    a writer-side remove would race a fresh acquire) and the next
    maintenance op breaks it through the break mutex and proceeds."""
    import socket

    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(5), deleted={1}), 0)
    sdir = str(tmp_path / "st")
    with open(lock_path(sdir), "w") as f:
        json.dump(
            {"op": "rescale", "pid": _dead_pid(),
             "host": socket.gethostname(), "ts": time.time()},
            f,
        )
    sink(_rows(spark, range(5, 8)), 1)  # writer proceeds past the dead lock
    assert sink.read_target().count() == 8
    # the stale marker is NOT writer-deleted; the next maintenance
    # acquire breaks it and runs
    assert read_lock(sdir) is not None
    assert sink.purge_tombstones(10**9, deleted_col="__deleted")["purged"] == 1
    assert read_lock(sdir) is None  # the pass released its own lock


def test_foreign_host_lock_blocks_until_age_out(tmp_path):
    """A lock from another host has no liveness signal: fresh blocks,
    aged-out breaks (the timestamp half of the staleness rule)."""
    sdir = str(tmp_path / "x")
    os.makedirs(sdir)
    with open(lock_path(sdir), "w") as f:
        json.dump(
            {"op": "prune_history", "pid": 1, "host": "elsewhere",
             "ts": time.time()},
            f,
        )
    with pytest.raises(MaintenanceLockError, match="prune_history"):
        assert_no_maintenance(sdir)
    with open(lock_path(sdir), "w") as f:
        json.dump(
            {"op": "prune_history", "pid": 1, "host": "elsewhere",
             "ts": time.time() - 7200},
            f,
        )
    assert_no_maintenance(sdir, stale_after_s=3600)  # aged out: ignored
    # ... but not writer-deleted; a maintenance acquire breaks it
    assert read_lock(sdir) is not None
    with maintenance_lock(sdir, "x", stale_after_s=3600):
        assert read_lock(sdir)["op"] == "x"
    # an unparseable marker (crash mid-write) falls back to file mtime
    with open(lock_path(sdir), "w") as f:
        f.write("{half a json")
    with pytest.raises(MaintenanceLockError):
        assert_no_maintenance(sdir)
    old = time.time() - 7200
    os.utime(lock_path(sdir), (old, old))
    assert_no_maintenance(sdir, stale_after_s=3600)


def test_recycled_pid_lock_ages_out_on_the_long_horizon(tmp_path):
    """A crashed pass whose pid was recycled by a LIVE unrelated
    process must not hold the lock forever: alive-pid locks age out at
    4x the horizon (a genuinely live pass runs minutes, not hours)."""
    import socket

    sdir = str(tmp_path / "y")
    os.makedirs(sdir)
    me = {"op": "rescale", "pid": os.getpid(),  # alive: this process
          "host": socket.gethostname()}
    with open(lock_path(sdir), "w") as f:
        json.dump(dict(me, ts=time.time()), f)
    with pytest.raises(MaintenanceLockError):
        assert_no_maintenance(sdir, stale_after_s=3600)  # fresh: held
    with open(lock_path(sdir), "w") as f:
        json.dump(dict(me, ts=time.time() - 5 * 3600), f)
    # past 4x the horizon: treated as a recycled pid, ignored
    assert_no_maintenance(sdir, stale_after_s=3600)


def test_writer_beacon_blocks_maintenance_start_mid_batch(spark, tmp_path):
    """The other direction of enforcement: a maintenance pass must not
    START while a writer batch is in flight — the batch's beacon makes
    the acquire release its lock and raise; a crashed writer's beacon
    (dead pid) is swept and does not block."""
    import socket

    from sqlserver_pg_cdc_spark.streaming.lock import writer_beacon

    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(6), deleted={2}), 0)
    sdir = str(tmp_path / "st")
    with writer_beacon(sdir, "in-flight batch"):
        with pytest.raises(MaintenanceLockError, match="in-flight"):
            sink.purge_tombstones(10**9, deleted_col="__deleted")
        # the failed acquire released its lock: writers keep flowing
        assert read_lock(sdir) is None
    # beacon released: the pass runs
    assert sink.purge_tombstones(10**9, deleted_col="__deleted")["purged"] == 1
    # a crashed writer's beacon does not block (dead pid -> swept)
    bdir = sdir + ".__writers"  # beacons are SIBLINGS of the state dir
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "w_dead.json"), "w") as f:
        json.dump({"op": "upsert batch", "pid": _dead_pid(),
                   "host": socket.gethostname(), "ts": time.time()}, f)
    assert sink.purge_tombstones(10**9, deleted_col="__deleted")["purged"] == 0
    assert os.listdir(bdir) == []  # swept in passing


def test_scd2_apply_fails_during_prune_lock(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    sink = PartitionedScd2Sink(
        spark, str(tmp_path / "hist"), ["id"], n_partitions=4
    )
    batch = spark.createDataFrame(
        [(1, "a", 10, "c"), (2, "b", 11, "c")],
        "id long, name string, lsn long, op string",
    )
    sink(batch, 0)
    with maintenance_lock(str(tmp_path / "hist"), "prune_history"):
        with pytest.raises(MaintenanceLockError, match="prune_history"):
            sink(
                spark.createDataFrame(
                    [(3, "c", 12, "c")],
                    "id long, name string, lsn long, op string",
                ),
                1,
            )
    assert sink.prune_history(0)["pruned"] == 0  # lock released: runs


def test_gate_log_write_fails_during_compaction_lock(spark, tmp_path):
    """compact_batch_log holds the lock on the LOG dir; a gate batch
    arriving mid-compaction fails fast instead of writing a generation
    the sweep could clobber."""
    from sqlserver_pg_cdc_spark.streaming.minhash import DedupGateSink

    gate = DedupGateSink(
        spark, str(tmp_path / "gs"), str(tmp_path / "gd"),
        "doc_id", "text", threshold=0.2, n_partitions=4,
    )
    docs = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo {i}") for i in range(6)],
        "doc_id long, text string",
    )
    gate(docs, 0)
    with maintenance_lock(str(tmp_path / "gd"), "compact_batch_log"):
        with pytest.raises(MaintenanceLockError, match="compact_batch_log"):
            gate(docs.limit(2), 1)
    # and the real compaction itself acquires/releases cleanly
    out = gate.compact_dup_log(0)
    assert read_lock(str(tmp_path / "gd")) is None
    assert "watermark_batch_id" in out
    gate(docs.limit(2), 1)  # post-compaction batch applies


def test_media_gate_checks_both_dirs(spark, tmp_path):
    import pandas as pd

    from sqlserver_pg_cdc_spark.operators.multimodal import encode_bmp
    from sqlserver_pg_cdc_spark.streaming.media import MediaDedupGateSink

    import numpy as np

    px = np.full((16, 16, 3), 99, dtype=np.uint8)
    payload = encode_bmp(16, 16, px.tobytes())
    df = spark.createDataFrame(
        pd.DataFrame([(1, payload)], columns=["doc_id", "payload"]),
        "doc_id long, payload binary",
    )
    gate = MediaDedupGateSink(
        spark, str(tmp_path / "ms"), str(tmp_path / "md"),
        "doc_id", "payload", media="image", n_partitions=4,
    )
    with maintenance_lock(str(tmp_path / "md"), "compact_batch_log"):
        with pytest.raises(MaintenanceLockError, match="media gate"):
            gate(df, 0)
    with maintenance_lock(str(tmp_path / "ms"), "rescale"):
        with pytest.raises(MaintenanceLockError, match="media gate"):
            gate(df, 0)
    gate(df, 0)  # both released
    assert {r["doc"] for r in gate.fingerprints().collect()} == {1}


def test_markers_are_siblings_and_survive_rescale_swap(spark, tmp_path):
    """Round-10 ADVICE (medium): the in-dir lock rode rescale's rename
    away from the target path mid-swap, and a concurrent writer's
    beacon makedirs could recreate the target as a husk between the two
    renames — failing the swap and tricking recovery into deleting the
    completed new layout. Sibling markers make both impossible: the
    lock never moves, and marking never materializes the state dir."""
    sdir = str(tmp_path / "sib")
    with maintenance_lock(sdir, "rescale"):
        assert os.path.exists(lock_path(sdir))
        assert lock_path(sdir) == sdir + "." + LOCK_FILE
        # acquiring the lock must not create the state dir itself
        assert not os.path.isdir(sdir)
    from sqlserver_pg_cdc_spark.streaming.lock import writer_beacon

    with writer_beacon(sdir, "batch"):
        assert os.path.isdir(sdir + ".__writers")
        assert not os.path.isdir(sdir)  # beacons don't materialize it


def test_heartbeat_keeps_long_passes_live(tmp_path):
    """Round-10 ADVICE: a pass running longer than stale_after_s used
    to be judged stale (ts written once) — writers would walk through
    its lock. The holder now heartbeats the marker's ts."""
    from sqlserver_pg_cdc_spark.streaming.lock import (
        _is_stale,
        _live_beacons,
        writer_beacon,
    )

    sdir = str(tmp_path / "hb")
    horizon = 0.3
    with maintenance_lock(sdir, "slow_pass", stale_after_s=horizon):
        time.sleep(6 * horizon)  # well past even the 4x alive-pid rule
        info = read_lock(sdir)
        assert not _is_stale(info, horizon)
        with pytest.raises(MaintenanceLockError, match="slow_pass"):
            assert_no_maintenance(sdir, stale_after_s=horizon)
    assert read_lock(sdir) is None  # stop() joined: no resurrection
    with writer_beacon(sdir, "slow batch", stale_after_s=horizon):
        time.sleep(6 * horizon)
        assert _live_beacons(sdir, horizon)  # still live, not swept
    assert _live_beacons(sdir, horizon) == []


# --- mixed-version window: legacy in-dir markers (round-11 ADVICE) --------


def test_legacy_in_dir_lock_blocks_writers_and_maintenance(
    spark, tmp_path
):
    """Pre-round-11 versions marked INSIDE the state dir. During a
    mixed-version window a new writer/pass must still see an old
    pass's live in-dir lock — walking through it would void
    single-writer exclusion."""
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(4)), 0)
    legacy = os.path.join(sink.target_dir, LOCK_FILE)
    with open(legacy, "w") as f:
        json.dump(
            {"op": "old-version purge", "pid": os.getpid(),
             "host": __import__("socket").gethostname(),
             "ts": time.time()},
            f,
        )
    with pytest.raises(MaintenanceLockError, match="purge"):
        assert_no_maintenance(sink.target_dir, "upsert batch")
    with pytest.raises(MaintenanceLockError, match="LEGACY"):
        with maintenance_lock(sink.target_dir, "rescale"):
            pass
    os.remove(legacy)
    assert_no_maintenance(sink.target_dir, "upsert batch")


def test_legacy_in_dir_lock_stale_is_broken(spark, tmp_path):
    """A crashed old-version pass's in-dir lock (dead pid) must not
    block new maintenance forever — it is broken through the same
    compare-bytes mutex as a sibling lock."""
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(4)), 0)
    legacy = os.path.join(sink.target_dir, LOCK_FILE)
    with open(legacy, "w") as f:
        json.dump(
            {"op": "old purge", "pid": _dead_pid(),
             "host": __import__("socket").gethostname(),
             "ts": time.time()},
            f,
        )
    with maintenance_lock(sink.target_dir, "purge"):
        assert not os.path.exists(legacy)


def test_legacy_in_dir_writer_beacon_blocks_maintenance(spark, tmp_path):
    """An old-version writer batch's in-dir beacon must hold off a new
    maintenance pass exactly like a sibling beacon."""
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, range(4)), 0)
    bdir = os.path.join(sink.target_dir, "__writers")
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "w_legacy.json"), "w") as f:
        json.dump(
            {"op": "old-version upsert", "pid": os.getpid(),
             "host": __import__("socket").gethostname(),
             "ts": time.time()},
            f,
        )
    with pytest.raises(MaintenanceLockError, match="in-flight"):
        with maintenance_lock(sink.target_dir, "purge"):
            pass
    os.remove(os.path.join(bdir, "w_legacy.json"))
    with maintenance_lock(sink.target_dir, "purge"):
        pass


def test_pre_family_media_state_names_the_migration(spark, tmp_path):
    """Round-11 ADVICE: opening a pre-round-11 media index state (no
    `family` column) must fail with a rebuild hint, not a bare
    AnalysisException from deep inside a select."""
    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.streaming.media import FingerprintIndexSink

    sink = FingerprintIndexSink(
        spark, str(tmp_path / "fpx"), "doc_id", "payload",
        media="image", n_partitions=2,
    )
    png = bytes.fromhex("89504e470d0a1a0a")  # sniffable header only
    sink(
        spark.createDataFrame(
            [(1, png)], "doc_id long, payload binary"
        ),
        0,
    )
    # simulate the pre-change layout faithfully: rewrite every state
    # partition without the family column AND commit a manifest version
    # whose (validly hashed) schema never knew about it — a real legacy
    # state read through its own manifest exposes the missing column
    import shutil

    from sqlserver_pg_cdc_spark.streaming.apply import (
        _manifest_sha,
        read_manifest,
    )

    sdir = str(tmp_path / "fpx")
    meta = read_manifest(sdir)
    for gen in meta["parts"].values():
        p = os.path.join(sdir, gen)
        old = spark.read.parquet(p).drop("family")
        old.write.mode("overwrite").parquet(p + ".new")
        shutil.rmtree(p)
        os.rename(p + ".new", p)
    meta["schema"]["fields"] = [
        f for f in meta["schema"]["fields"] if f["name"] != "family"
    ]
    meta["version"] += 1
    meta["sha256"] = _manifest_sha(meta)
    with open(os.path.join(sdir, "_log", f"{meta['version']:020d}.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="family"):
        sink.fingerprints()
