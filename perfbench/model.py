"""Pure-Python latest-wins reference for the CDC workload.

Independent of the engine: it reads the generator's own record of what was
published and applies the pipeline's contract directly. A redelivered
replay id applies once, a corrupt payload goes to the dead-letter set, and
per key the row with the highest ``(commit_ts, replay_id)`` wins, where a
winning DELETE leaves a tombstone that hides the key from the live view.
"""

from __future__ import annotations

from collections.abc import Iterable

from perfbench.gen import Record

#: key -> (commit_ts_ms, replay_id, city) for every live (non-deleted) key
Live = dict[str, tuple[int, int, str]]


def latest_wins(history: Iterable[Record]) -> tuple[Live, set[int]]:
    """Return the live state and the dead-lettered replay ids after
    ``history`` (in publish order) is applied to an empty state."""
    state: dict[str, tuple[int, int, str, str]] = {}
    seen: set[int] = set()
    dlq: set[int] = set()
    for r in history:
        if r.replay_id in seen:
            continue
        seen.add(r.replay_id)
        if r.corrupt:
            dlq.add(r.replay_id)
            continue
        cur = state.get(r.key)
        if cur is None or (r.ts_ms, r.replay_id) > (cur[0], cur[1]):
            state[r.key] = (r.ts_ms, r.replay_id, r.change_type, r.city)
    live = {k: (ts, rid, city) for k, (ts, rid, ct, city) in state.items() if ct != "DELETE"}
    return live, dlq


def diff(expected: Live, actual: Live, limit: int = 5) -> tuple[int, list[str]]:
    """Number of keys whose live row differs, and a few of them for the log."""
    bad = sorted(k for k in expected.keys() | actual.keys() if expected.get(k) != actual.get(k))
    return len(bad), [f"{k}: expected {expected.get(k)} got {actual.get(k)}" for k in bad[:limit]]
