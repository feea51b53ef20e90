"""The benchmark's own tests: input determinism, the tail-percentile rule
and write-amplification counting. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import ChangeGenerator, payload_row, reconcile_tables  # noqa: E402
from instrument import FileLedger, tree_bytes  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402

SIZES = [("big", 30_000), ("small", 3_000), ("control", 3_000)]


def _payloads(seed, batches=3, n_keys=5_000, events=500):
    g = ChangeGenerator(n_keys, seed)
    return [g.next_batch(events).payload() for _ in range(batches)]


def test_change_files_are_byte_identical_per_seed():
    assert _payloads(7) == _payloads(7)
    assert _payloads(7) != _payloads(8)


def test_change_stream_shape():
    g = ChangeGenerator(5_000, 3)
    a, b = g.next_batch(1_000), g.next_batch(1_000)
    assert a.events == b.events == 1_000
    assert sum(a.ops.values()) == 1_000
    # LSNs continue across files
    assert '"lsn":1000}' in a.lines[-1] and '"lsn":1001}' in b.lines[0]
    # roughly 10% creates, 80% updates, 10% deletes
    assert 0.05 < a.ops["d"] / 1_000 < 0.15 and a.ops["u"] / 1_000 > 0.7
    # Zipf skew repeats hot keys inside a batch
    assert 0 < a.superseded_share < 1


def test_delete_carries_the_current_image():
    g = ChangeGenerator(5_000, 1)
    batch = g.next_batch(200)
    first_delete = next(line for line in batch.lines if '"op":"d"' in line)
    key = int(first_delete.split('"id":')[1].split(",")[0])
    # the image a delete carries is the latest one this batch wrote for
    # the key, or the bootstrap image if the batch had not touched it yet
    earlier = [
        line for line in batch.lines[: batch.lines.index(first_delete)]
        if f'"after":{{"id":{key},' in line
    ]
    if earlier:
        image = earlier[-1].split('"after":')[1].split("}")[0]
        assert f'"before":{image}}}' in first_delete
    else:
        row = payload_row(key, 1)
        assert f'"amount":{row["amount"]}' in first_delete


def test_drift_sets_are_deterministic_and_exact():
    a = reconcile_tables(5, SIZES, 0.01, "control")
    assert a == reconcile_tables(5, SIZES, 0.01, "control")
    assert a != reconcile_tables(6, SIZES, 0.01, "control")
    big, small, control = a
    assert control.drift == 0 and control.target_rows == control.rows
    for t in (big, small):
        assert not set(t.missing) & set(t.modified)
        assert len(t.extra) == len(t.missing)
        assert all(k >= t.rows for k in t.extra)
        assert 0.005 < t.drift / t.rows < 0.015
        # ids are the unique PK, so the target count is exact
        assert t.target_rows == t.rows - len(t.missing) + len(t.extra)


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5


@pytest.mark.parametrize(
    "n,q",
    [(100, 90.0), (200, 95.0), (1_000, 99.0), (20, 50.0), (40, 75.0), (25, 60.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    xs = list(range(1, n + 1))
    got_q, v = tail_percentile(xs)
    assert got_q == q
    assert sum(1 for x in xs if x > v) >= 10


def test_tail_percentile_falls_back_to_median():
    assert tail_percentile([1.0, 2.0, 3.0]) == (50.0, 2.0)
    # ties leave nothing strictly beyond any rung
    assert tail_percentile([2.0] * 50) == (50.0, 2.0)


def _write(path, n_rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": list(range(n_rows))}), path)


def test_write_amplification_counts_new_files_only(tmp_path):
    root = str(tmp_path / "target")
    _write(f"{root}/part_00000/a.parquet", 10)
    _write(f"{root}/part_00001/b.parquet", 20)
    ledger = FileLedger(root)
    assert ledger.new_writes().files == 0

    # a batch swaps partition 1 (old file gone, new one written) and adds
    # partition 2; partition 0 is untouched
    os.remove(f"{root}/part_00001/b.parquet")
    _write(f"{root}/part_00001/c.parquet", 25)
    _write(f"{root}/part_00002/d.parquet", 5)
    w = ledger.new_writes()
    assert (w.files, w.rows, w.dirs) == (2, 30, 2)
    assert w.bytes == sum(
        os.path.getsize(f"{root}/{p}") for p in ("part_00001/c.parquet", "part_00002/d.parquet")
    )
    assert ledger.new_writes() == type(w)(0, 0, 0, 0)
    assert tree_bytes(root) == sum(
        os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(root) for n in ns
    )
