"""Seeded input generators for the benchmark workloads.

The seeded choices are pure Python, so the same seed gives the same bytes on
every run: the CDC generator emits Debezium-envelope JSON-lines files, the
reconcile generator emits the per-table drift sets. Bootstrap rows, table
values and drift classes are closed-form integer formulas evaluated both in
Python and in Spark (``payload_row`` / ``bootstrap_frame``,
``_drift_class`` / ``table_frames``), so large tables never pass through the
Python process.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from dataclasses import dataclass, field

STATUSES = ("active", "pending", "closed")
BASE_TS_MS = 1_700_000_000_000
_MUL = 2654435761  # Knuth's multiplicative hash constant; id * _MUL < 2**63
_MUL2 = 40503  # a second multiplier, independent of the value columns'
ZIPF_S = 0.8  # key skew: a key of rank r is drawn with weight 1/(r+1)**ZIPF_S
CREATE_SHARE = 0.10
DELETE_SHARE = 0.10


def payload_row(key: int, seed: int) -> dict:
    """The bootstrap image of ``key`` (mirrors ``bootstrap_frame``)."""
    return {
        "id": key,
        "name": f"name-{key}",
        "amount": (key * _MUL + seed) % 1_000_003,
        "status": STATUSES[key % 3],
    }


def payload_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("amount", T.LongType(), True),
            T.StructField("status", T.StringType(), True),
        ]
    )


def bootstrap_frame(spark, n_keys: int, seed: int):
    """``n_keys`` bootstrap rows ``payload_row(0..n_keys-1, seed)`` built in
    Spark; the integer formula is exact in 64-bit arithmetic."""
    from pyspark.sql import functions as F

    status = F.element_at(
        F.array(*[F.lit(s) for s in STATUSES]), (F.col("id") % 3 + 1).cast("int")
    )
    return spark.range(n_keys).select(
        F.col("id"),
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("name"),
        ((F.col("id") * F.lit(_MUL) + F.lit(seed)) % F.lit(1_000_003)).alias("amount"),
        status.alias("status"),
    )


@dataclass
class ChangeBatch:
    """One spool file's worth of change events."""

    lines: list[str]
    ops: dict[str, int]
    distinct_keys: int

    @property
    def events(self) -> int:
        return len(self.lines)

    @property
    def superseded_share(self) -> float:
        """Share of events overwritten by a later event on the same key
        within this batch (a property of the input, not of the sink)."""
        return (self.events - self.distinct_keys) / self.events

    def payload(self) -> bytes:
        return ("\n".join(self.lines) + "\n").encode()


@dataclass
class ChangeGenerator:
    """Zipf-skewed Debezium change stream over a bootstrapped key space.

    Op mix: ``CREATE_SHARE`` creates of fresh keys, ``DELETE_SHARE``
    deletes and the rest updates, each update or delete aimed at a
    bootstrap key drawn with probability ~ 1/(rank+1)**ZIPF_S. A draw
    that lands on a key deleted earlier re-creates it (op ``c``), so the
    realised mix drifts slightly toward creates; ``ChangeBatch.ops``
    records it. LSNs start at 1 (the bootstrap is LSN 0) and increase by
    one per event.
    """

    n_keys: int
    seed: int
    _rng: random.Random = field(init=False, repr=False)
    _cum: list[float] = field(init=False, repr=False)
    _rows: dict = field(init=False, repr=False, default_factory=dict)
    _deleted: set = field(init=False, repr=False, default_factory=set)
    _lsn: int = field(init=False, default=0)
    _next_key: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._cum = list(
            itertools.accumulate((r + 1) ** -ZIPF_S for r in range(self.n_keys))
        )
        self._next_key = self.n_keys

    def _zipf_key(self) -> int:
        u = self._rng.random() * self._cum[-1]
        return min(bisect.bisect_left(self._cum, u), self.n_keys - 1)

    def _current(self, key: int) -> dict:
        row = self._rows.get(key)
        return row if row is not None else payload_row(key, self.seed)

    def _updated(self, key: int) -> dict:
        row = dict(self._current(key))
        row["amount"] = self._rng.randrange(1_000_003)
        row["status"] = STATUSES[self._rng.randrange(3)]
        return row

    def next_batch(self, n_events: int) -> ChangeBatch:
        lines: list[str] = []
        ops = {"c": 0, "u": 0, "d": 0}
        keys: set[int] = set()
        for _ in range(n_events):
            self._lsn += 1
            x = self._rng.random()
            if x < CREATE_SHARE:
                key = self._next_key
                self._next_key += 1
                op, before, after = "c", None, self._updated(key)
            else:
                key = self._zipf_key()
                if key in self._deleted:
                    op, before, after = "c", None, self._updated(key)
                elif x < CREATE_SHARE + DELETE_SHARE:
                    op, before, after = "d", self._current(key), None
                else:
                    op, before, after = "u", self._current(key), self._updated(key)
            if op == "d":
                self._deleted.add(key)
            else:
                self._deleted.discard(key)
                self._rows[key] = after
            ops[op] += 1
            keys.add(key)
            lines.append(
                json.dumps(
                    {
                        "before": before,
                        "after": after,
                        "op": op,
                        "ts_ms": BASE_TS_MS + self._lsn,
                        "lsn": self._lsn,
                    },
                    separators=(",", ":"),
                )
            )
        return ChangeBatch(lines, ops, len(keys))


# -- reconciliation tables ----------------------------------------------------


@dataclass(frozen=True)
class TableSpec:
    """One source/target pair: ``rows`` source rows keyed 0..rows-1 and
    ``drift`` row ids split equally across MISSING (absent from the
    target), EXTRA (target-only ids ``rows..``) and MODIFIED (target value
    changed)."""

    name: str
    rows: int
    missing: tuple[int, ...]
    modified: tuple[int, ...]
    extra: tuple[int, ...]
    drift_mod: int  # 0 for a table without drift
    drift_seed: int

    @property
    def drift(self) -> int:
        return len(self.missing) + len(self.modified) + len(self.extra)

    @property
    def target_rows(self) -> int:
        return self.rows - len(self.missing) + len(self.extra)


def _drift_class(key: int, seed: int, mod: int) -> int:
    """0 = MISSING, 1 = MODIFIED, else untouched (mirrored in Spark)."""
    return (key * _MUL2 + seed) % 1_000_003 % mod


def reconcile_tables(
    seed: int, sizes: list[tuple[str, int]], drift_share: float, control: str
) -> list[TableSpec]:
    """Drift sets per table; ``control`` gets none. MISSING and MODIFIED
    rows are the ids whose seeded hash class is 0 or 1 (each ~1/3 of
    ``drift_share``); EXTRA gets as many fresh ids as MISSING has rows."""
    out = []
    for t, (name, rows) in enumerate(sizes):
        if name == control:
            out.append(TableSpec(name, rows, (), (), (), 0, 0))
            continue
        mod = round(3 / drift_share)
        s = seed * 1009 + t
        missing = tuple(k for k in range(rows) if _drift_class(k, s, mod) == 0)
        modified = tuple(k for k in range(rows) if _drift_class(k, s, mod) == 1)
        extra = tuple(range(rows, rows + len(missing)))
        out.append(TableSpec(name, rows, missing, modified, extra, mod, s))
    return out


def table_frames(spark, spec: TableSpec, seed: int):
    """(source, target) Spark frames for ``spec``: a unique ``id`` PK and
    a few typed business columns derived from (id, seed); the target
    carries the drift ``reconcile_tables`` chose."""
    from pyspark.sql import functions as F

    i = F.col("id")

    def rows(lo: int, hi: int):
        return spark.range(lo, hi).select(
            i,
            ((i * F.lit(_MUL) + F.lit(seed)) % F.lit(1_000_003)).alias("qty"),
            ((i * 7919 + seed) % 100_000 / F.lit(100)).cast("decimal(12,2)").alias("price"),
            F.concat(F.lit("item-"), (i % 9973).cast("string")).alias("label"),
            F.date_add(F.lit("2020-01-01").cast("date"), (i % 1500).cast("int")).alias("day"),
        )

    source = rows(0, spec.rows)
    if not spec.drift_mod:
        return source, source
    cls = (i * F.lit(_MUL2) + F.lit(spec.drift_seed)) % F.lit(1_000_003) % F.lit(spec.drift_mod)
    target = (
        source.filter(cls != 0)
        .withColumn("qty", F.when(cls == 1, F.col("qty") + 1).otherwise(F.col("qty")))
        .unionByName(rows(spec.rows, spec.rows + len(spec.extra)))
    )
    return source, target
