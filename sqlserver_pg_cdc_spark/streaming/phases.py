"""Wall-clock phase accounting for the gate sinks.

The ingest gates are the most expensive rows in the bench series
(probe → cluster → log → index per micro-batch); a cross-round
regression in one of them should name its PHASE without a profiling
session. Each gate ``__call__`` records the wall time of its sections
through a :class:`PhaseRecorder` and folds them into a per-class
accumulator; a caller resets the accumulator before a timed run and
reads the snapshot afterwards (``cli pipeline`` publishes it as
``stage_wall_s``).

Time lands on the phase whose section ran the Spark ACTION — lazy
transformations built in one section but executed in a later one count
toward the executing section, which is the honest attribution for "what
would I optimize".

Overhead: a handful of ``time.time()`` calls per batch — always on.
"""

from __future__ import annotations

import time


class PhaseRecorder:
    def __init__(self):
        self.t = time.time()
        self.ph: dict[str, float] = {}

    def mark(self, key: str) -> None:
        """Close the current section under ``key`` and start the next."""
        now = time.time()
        self.ph[key] = self.ph.get(key, 0.0) + (now - self.t)
        self.t = now


_ACC: dict[str, dict[str, float]] = {}


def record(gate: str, ph: dict[str, float]) -> None:
    acc = _ACC.setdefault(gate, {})
    for k, v in ph.items():
        acc[k] = acc.get(k, 0.0) + v


def reset(gate: str) -> None:
    _ACC[gate] = {}


def snapshot(gate: str) -> dict[str, float]:
    return {k: round(v, 3) for k, v in _ACC.get(gate, {}).items()}
