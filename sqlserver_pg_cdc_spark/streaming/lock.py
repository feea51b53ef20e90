"""Single-writer lock sentinel for quiesced maintenance passes.

Every day-2 maintenance op on streamed state (`purge_tombstones`,
`rescale`, `prune_history`, `compact_batch_log`) documents "run
quiesced — single writer only": the op works from one snapshot across
its stats pass and its rewrite pass, so a concurrent ``foreachBatch``
writer committing in that window would race it for the next version
(for the hash-partitioned state, whichever commits second fails; for a
batch log, the pass could clobber the batch's generation). This module
ENFORCES the contract in BOTH directions:

* the maintenance op holds a create-exclusive marker
  (``__maintenance.lock``, O_CREAT|O_EXCL — atomic on every POSIX
  filesystem) in the state/log dir for the duration of the pass;
  writer batches that arrive while it is held FAIL FAST with a clear
  message (Structured Streaming replays them after the pass), and a
  second concurrent maintenance op fails the exclusive create;
* every writer batch holds a BEACON (``__writers/w_*.json``) for its
  duration, and a maintenance op refuses to start while live beacons
  exist — so a pass can no more start mid-batch than a batch can start
  mid-pass. The handshake is the classic store-then-load: the writer
  creates its beacon FIRST and only then checks the lock (aborting and
  removing the beacon if one appeared); the maintenance op creates the
  lock FIRST and only then checks beacons (releasing the lock if any
  are live). Both sides proceeding simultaneously is impossible —
  whichever marker landed second is seen by the other side's check.

Crash recovery, without TOCTOU races:

* a lock whose pid is GONE on this host is stale immediately; a lock
  whose pid is ALIVE here still ages out after ``4 x stale_after_s``
  (pids recycle — an unrelated long-lived process reusing the pid must
  not make the lock immortal); foreign-host/anonymous locks age out
  after ``stale_after_s``. Beacons follow the same rules.
* WRITERS never delete a stale lock — they treat it as absent and
  proceed (deleting would race a maintenance op that just broke the
  same stale lock and created a fresh LIVE one: the unconditional
  remove could take out the live lock).
* MAINTENANCE acquirers break a stale lock through a short-lived break
  mutex (``__maintenance.lock.break``, O_EXCL) and remove the lock
  only if its bytes still equal the payload they judged stale — a
  fresh lock that replaced it in the meantime is never deleted.

Breaking a stale lock is safe because every guarded op is individually
crash-recoverable (the state store's manifest commit, the
batch-log meta commit point): the lock exists to serialize LIVE
writers, not to mark corruption.

Both markers live at SIBLING paths of the state dir
(``<state>.__maintenance.lock``, ``<state>.__writers/``), never inside
it, so that marking a state never materializes its directory and the
markers never mix with the state's own files.

Long passes stay live via a HEARTBEAT: the holding process rewrites
its marker's ``ts`` every ``stale_after_s / 8`` from a daemon thread,
so a pass (or writer batch) running longer than the staleness horizon
is never mis-judged stale (round-10 ADVICE: a 7-hour rescale must not
have writers walk through its lock at hour 6). The rewrite is an
atomic ``os.replace``, and `_break_stale`'s compare-bytes-then-delete
never removes a marker whose bytes changed since it was judged.

Reference analog: the reference serializes day-2 maintenance against
its connectors by pausing them (docs/troubleshooting-part01.md
retention runbooks); here the pause is enforced at the state boundary
rather than assumed.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

LOCK_FILE = "__maintenance.lock"
_BEACON_DIR = "__writers"

# Staleness horizon for locks/beacons whose owner cannot be
# liveness-checked (other host, unparseable payload). Same-host dead
# pids break immediately; same-host ALIVE pids age out at 4x this
# (these passes run minutes — an alive pid past that horizon is almost
# certainly a recycled pid, and an immortal lock blocks everything).
DEFAULT_STALE_AFTER_S = 6 * 3600.0


class MaintenanceLockError(RuntimeError):
    """A maintenance pass holds (or contends for) the single-writer
    lock — or in-flight writer batches hold the state. Retry after the
    other side finishes."""


def lock_path(state_dir: str) -> str:
    """The maintenance lock's SIBLING path for a state dir:
    ``<state>.__maintenance.lock``. A sibling, not a member: creating it
    must never materialize the state dir."""
    return f"{os.path.normpath(state_dir)}.{LOCK_FILE}"


_lock_path = lock_path  # internal alias (pre-round-11 name)


def _legacy_lock_path(state_dir: str) -> str:
    """Pre-round-11 versions kept the lock INSIDE the state dir. During
    a mixed-version window an old writer/pass still marks there, so new
    code READS the legacy location too (round-11 ADVICE) — a live
    legacy marker blocks exactly like a sibling one, a stale one is
    broken through the same mutex. New code never WRITES here."""
    return os.path.join(os.path.normpath(state_dir), LOCK_FILE)


def _legacy_beacon_dir(state_dir: str) -> str:
    """Pre-round-11 in-dir writer-beacon location (read-only; see
    :func:`_legacy_lock_path`)."""
    return os.path.join(os.path.normpath(state_dir), _BEACON_DIR)


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


class _Heartbeat:
    """Keep a marker's ``ts`` fresh from a daemon thread while its
    holder runs — a pass longer than the staleness horizon must not be
    judged dead mid-flight. Rewrites are atomic `os.replace`, so a
    concurrent `_break_stale` (which deletes only if the bytes still
    equal what it judged stale) can never remove a heartbeating marker.
    ``stop()`` JOINS the thread before returning: the holder removes
    the marker right after, and an in-flight beat landing post-removal
    would strand a marker that reads live until age-out."""

    def __init__(self, path: str, payload: dict, stale_after_s: float):
        self._path = path
        self._payload = payload
        self._stop = threading.Event()
        self._interval = max(stale_after_s / 8.0, 0.05)
        self._t = threading.Thread(
            target=self._run, daemon=True, name=f"lock-hb:{path}"
        )
        self._t.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                _atomic_write_json(
                    self._path, dict(self._payload, ts=time.time())
                )
            except OSError:
                pass  # dir swept mid-beat; the holder's exit handles it

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=30.0)


def _payload(op: str) -> dict:
    import socket

    return {
        "op": op,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "ts": time.time(),
    }


def _read_marker(path: str) -> tuple[dict, bytes] | None:
    """(parsed payload, raw bytes) or None. An unparseable marker
    (crash mid-write) reads as an empty dict — present but anonymous,
    so staleness falls back to file mtime."""
    try:
        with open(path, "rb") as f:
            raw = f.read()
    except (FileNotFoundError, OSError):
        return None
    try:
        info = json.loads(raw)
    except (ValueError, UnicodeDecodeError):
        info = {}
    if "ts" not in info:
        try:
            info["ts"] = os.path.getmtime(path)
        except OSError:
            info["ts"] = time.time()
    return info, raw


def read_lock(state_dir: str) -> dict | None:
    """The lock's payload (op, pid, host, ts) or None — present means
    present, NOT necessarily live; pair with :func:`_is_stale`."""
    got = _read_marker(_lock_path(state_dir))
    return got[0] if got is not None else None


def _is_stale(info: dict, stale_after_s: float) -> bool:
    import socket

    age = time.time() - float(info.get("ts", 0.0))
    pid = info.get("pid")
    host = info.get("host")
    if pid is not None and host == socket.gethostname():
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            return True  # owner died on this host: stale immediately
        except (OverflowError, ValueError):
            return True  # garbage pid: treat as crashed-mid-write
        except PermissionError:
            pass  # alive, owned by another user
        # alive on this host — but pids recycle: age out on the long
        # horizon rather than living forever under a reused pid
        return age > 4 * stale_after_s
    # foreign-host or anonymous marker: age is the only signal
    return age > stale_after_s


def _break_stale(path: str, judged_raw: bytes) -> None:
    """Remove a lock judged stale — serialized through a break mutex,
    and only if its bytes still equal what was judged (a fresh lock
    that replaced it is never deleted)."""
    bm = path + ".break"
    try:
        fd = os.open(bm, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # another breaker is active; if IT crashed, age its mutex out
        try:
            if time.time() - os.path.getmtime(bm) > 60:
                os.remove(bm)
        except OSError:
            pass
        return
    try:
        os.close(fd)
        cur = _read_marker(path)
        if cur is not None and cur[1] == judged_raw:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
    finally:
        try:
            os.remove(bm)
        except FileNotFoundError:
            pass


def _held_message(what: str, state_dir: str, info: dict) -> str:
    return (
        f"{what} refused: maintenance op {info.get('op')!r} "
        f"(pid {info.get('pid')}, host {info.get('host')}, started "
        f"{time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime(float(info.get('ts', 0.0))))}) "
        f"holds the single-writer lock on {state_dir}; retry after it "
        f"finishes, or remove {LOCK_FILE} if it crashed on another host"
    )


def assert_no_maintenance(
    state_dir: str,
    what: str = "upsert batch",
    stale_after_s: float = DEFAULT_STALE_AFTER_S,
) -> None:
    """Writer-side check: fail fast while a LIVE maintenance pass holds
    the dir. A stale (crashed) lock is treated as ABSENT — deliberately
    not deleted here: an unconditional writer-side remove would race a
    maintenance acquirer that just broke the same stale lock and
    created a fresh live one. The next maintenance op breaks it.

    Both the sibling path and the legacy in-dir path are read: during a
    mixed-version window an OLD maintenance pass still marks inside the
    state dir, and walking through its lock would void single-writer
    exclusion (round-11 ADVICE)."""
    for p in (_lock_path(state_dir), _legacy_lock_path(state_dir)):
        got = _read_marker(p)
        if got is None:
            continue
        info, _ = got
        if _is_stale(info, stale_after_s):
            continue
        raise MaintenanceLockError(_held_message(what, state_dir, info))


def _beacon_dir(state_dir: str) -> str:
    """Writer beacons live at a SIBLING path (``<state>.__writers``)
    for the same reason as the lock: marking in-flight writers must not
    materialize the state dir."""
    return f"{os.path.normpath(state_dir)}.{_BEACON_DIR}"


def _live_beacons(
    state_dir: str, stale_after_s: float
) -> list[dict]:
    """Live writer beacons; stale ones (dead pid / aged out) are swept
    in passing. Scans the sibling dir AND the legacy in-dir location —
    an old-version writer's in-dir beacon must still hold off a new
    maintenance pass during a mixed-version window (round-11 ADVICE)."""
    live = []
    for bdir in (_beacon_dir(state_dir), _legacy_beacon_dir(state_dir)):
        try:
            names = os.listdir(bdir)
        except (FileNotFoundError, NotADirectoryError):
            continue
        for n in names:
            p = os.path.join(bdir, n)
            got = _read_marker(p)
            if got is None:
                continue
            info, _ = got
            if _is_stale(info, stale_after_s):
                try:
                    os.remove(p)
                except OSError:
                    pass
                continue
            live.append(info)
    return live


@contextmanager
def writer_beacon(
    state_dir: str,
    what: str = "upsert batch",
    stale_after_s: float = DEFAULT_STALE_AFTER_S,
):
    """Held by a writer batch for its whole duration. Mark-then-check:
    the beacon lands BEFORE the lock check, so a maintenance op that
    acquires the lock concurrently is guaranteed to see either this
    beacon (and release) or this writer's abort. Use this — not a bare
    :func:`assert_no_maintenance` — around any state-mutating batch."""
    os.makedirs(_beacon_dir(state_dir), exist_ok=True)
    path = os.path.join(
        _beacon_dir(state_dir), f"w_{os.getpid()}_{uuid.uuid4().hex[:8]}.json"
    )
    payload = _payload(what)
    with open(path, "w") as f:
        json.dump(dict(payload), f)
    try:
        assert_no_maintenance(state_dir, what, stale_after_s)
    except MaintenanceLockError:
        # abort: the pass holds the lock; our beacon must not keep
        # blocking it after we give way
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        raise
    hb = _Heartbeat(path, payload, stale_after_s)
    try:
        yield
    finally:
        hb.stop()
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


@contextmanager
def maintenance_lock(
    state_dir: str,
    op: str,
    stale_after_s: float = DEFAULT_STALE_AFTER_S,
):
    """Hold the create-exclusive maintenance marker for the pass. After
    the lock lands, in-flight writer beacons are checked (the mirror of
    the writer's mark-then-check): any live beacon releases the lock
    and raises — the pass must not start mid-batch.

    Deliberately does NOT create ``state_dir``: the lock is a sibling
    file (see the module docstring)."""
    # mixed-version window (round-11 ADVICE): an OLD maintenance pass
    # marks INSIDE the state dir — refuse while its marker is live,
    # break it when stale. New code never writes this location. (The
    # reverse hole — an old pass cannot see a NEW writer's sibling
    # beacon — is closed only by finishing the version rollout; this
    # side at least never walks through the old side's lock.)
    legacy = _legacy_lock_path(state_dir)
    got = _read_marker(legacy)
    if got is not None:
        info, raw = got
        if _is_stale(info, stale_after_s):
            _break_stale(legacy, raw)
        else:
            raise MaintenanceLockError(
                f"maintenance op {op!r} refused: {info.get('op')!r} "
                f"(pid {info.get('pid')}) holds the LEGACY in-dir "
                f"single-writer lock on {state_dir} (pre-round-11 "
                "version still active); retry after it finishes"
            )
    path = _lock_path(state_dir)
    fd = None
    for _attempt in range(3):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            got = _read_marker(path)
            if got is None:
                continue  # vanished between create and read: retry
            info, raw = got
            if _is_stale(info, stale_after_s):
                _break_stale(path, raw)
                continue
            raise MaintenanceLockError(
                f"maintenance op {op!r} refused: "
                f"{info.get('op')!r} (pid {info.get('pid')}) already "
                f"holds the single-writer lock on {state_dir}"
            )
    if fd is None:
        raise MaintenanceLockError(
            f"maintenance op {op!r} could not acquire the single-writer "
            f"lock on {state_dir} (live contention)"
        )
    payload = _payload(op)
    with os.fdopen(fd, "w") as f:
        json.dump(dict(payload), f)
    live = _live_beacons(state_dir, stale_after_s)
    if live:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        whats = sorted({str(b.get("op")) for b in live})
        raise MaintenanceLockError(
            f"maintenance op {op!r} refused: {len(live)} in-flight "
            f"writer batch(es) hold {state_dir} ({', '.join(whats)}) — "
            "quiesce the stream (or wait for the batches to drain) and "
            "retry"
        )
    hb = _Heartbeat(path, payload, stale_after_s)
    try:
        yield
    finally:
        hb.stop()
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
