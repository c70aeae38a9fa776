"""Manifest-pointer layout for materialized index tables.

The dedup and IVF indexes (operators/dedup_index.py, operators/ivf.py) are
long-lived on-disk layouts that get appended to on every ingest batch and
compacted on a maintenance cadence. The r4-era code mutated the live
directories directly (`mode("append")` into the table, compaction via two
``os.rename`` calls) — which double-counts rows when a crashed append
replays, and breaks entirely on object stores (no rename). This module
gives each table the same manifest discipline the streaming state store
uses (streaming/pipeline.py: `_write_manifest`), in miniature:

- ``_CURRENT.json`` in the index root maps each logical table to
  ``{"base": <dir>, "segments": [<dir>, ...]}``; readers scan the union.
  A missing pointer (or a table absent from it) resolves to the plain
  directory name, so pre-pointer indexes keep working unchanged.
- Appends write a NEW segment directory named by an idempotency token
  (invisible to readers), then register it in the pointer with one atomic
  replace (``os.replace`` locally — a single object PUT on S3/GCS). A
  replayed append with the same token is a no-op if already registered,
  and overwrites the unregistered debris if the first attempt crashed
  mid-write: appends are exactly-once.
- Compaction reads the union, writes a new base generation, publishes
  ``{"base": gen, "segments": []}`` in one flip, then garbage-collects
  every unreferenced directory.
- At NO point is the table unreadable, and no reader ever sees a
  half-written directory — the two failure modes the mutate-in-place
  layout had.

Writers (append/compact) still assume single-writer-per-table (the ingest
loop is serial per index; compaction is offline maintenance); readers are
never blocked.
"""

from __future__ import annotations

import json
import os
import re

POINTER_FILE = "_CURRENT.json"

#: reserved pointer key for LAYOUT metadata that must flip atomically
#: WITH the table repoints it describes (e.g. the label snapshot's bucket
#: count — ADVICE r11: a grow/shrink re-bucket that publishes the new
#: bucket generations in one pointer write but the bucket count in a
#: separate file gives concurrent readers a mixed layout/pointer view:
#: duplicates on shrink, missing rows on grow). Not a table name; every
#: table iteration below skips it.
META_KEY = "_meta"

_TOKEN_RE = re.compile(r"[^A-Za-z0-9_.-]")


def _pointer_path(root: str) -> str:
    return os.path.join(root, POINTER_FILE)


def _read_raw(root: str) -> dict:
    """Pointer file verbatim (tables + the reserved META_KEY entry)."""
    p = _pointer_path(root)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def read_pointer(root: str) -> dict:
    """table -> {"base": dir, "segments": [dirs]} ({} when no flip has
    happened yet). The reserved META_KEY entry is excluded (use
    :func:`read_meta`)."""
    return {t: v for t, v in _read_raw(root).items() if t != META_KEY}


def read_meta(root: str) -> dict:
    """The pointer's layout-metadata entry ({} when absent). Reading it
    and the table entries from the same file is what makes a layout
    migration atomic for readers: one ``os.replace`` flips both."""
    return dict(_read_raw(root).get(META_KEY, {}))


def _write_pointer(root: str, cur: dict) -> None:
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cur, f)
    os.replace(tmp, _pointer_path(root))


def _entry(root: str, table: str) -> dict:
    return read_pointer(root).get(table, {"base": table, "segments": []})


def resolve_table(root: str, table: str) -> str:
    """Absolute path of the CURRENT base generation of ``table`` (segments
    excluded — use :func:`live_paths` for the full reader view)."""
    return os.path.join(root, _entry(root, table)["base"])


def live_paths(root: str, table: str) -> list[str]:
    """Every directory a reader must scan: base + registered segments, in
    registration order. Paths that don't exist yet (fresh index before the
    first build) are kept so the caller's error is a clear read failure."""
    e = _entry(root, table)
    return [os.path.join(root, e["base"])] + [
        os.path.join(root, s) for s in e["segments"]
    ]


def table_exists(root: str, table: str) -> bool:
    return os.path.isdir(resolve_table(root, table))


def next_generation(root: str, table: str) -> str:
    """An unused base-generation directory name ``<table>.g<N>``."""
    n = 0
    while os.path.exists(os.path.join(root, f"{table}.g{n}")):
        n += 1
    return f"{table}.g{n}"


def segment_name(table: str, token: str) -> str:
    """Deterministic segment directory name for an append token (the
    token is the idempotency key — e.g. a streaming batch_id)."""
    return f"{table}.s-{_TOKEN_RE.sub('_', str(token))}"


def segment_registered(root: str, table: str, token: str) -> bool:
    return segment_name(table, token) in _entry(root, table)["segments"]


def begin_segment(root: str, table: str, token: str) -> str:
    """Path to write the segment's data into. If an UNREGISTERED directory
    with this name exists (a crashed prior attempt), it is cleared — the
    replay rewrites it from scratch, which is what makes the append
    exactly-once. Call :func:`publish_segment` after the write succeeds."""
    import shutil

    name = segment_name(table, token)
    if segment_registered(root, table, token):
        raise ValueError(
            f"segment {name!r} is already published; check "
            "segment_registered() before writing"
        )
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def publish_segment(root: str, table: str, token: str) -> None:
    """Atomically register a fully-written segment (one pointer PUT)."""
    cur = _read_raw(root)  # raw: preserve META_KEY and untouched entries
    e = cur.get(table, {"base": table, "segments": []})
    name = segment_name(table, token)
    if name not in e["segments"]:
        e["segments"].append(name)
    cur[table] = e
    _write_pointer(root, cur)


def publish_generation(root: str, table: str, gen_name: str) -> None:
    """Atomically repoint ``table``'s base at ``gen_name`` and clear its
    segment list (compaction folded them in)."""
    cur = _read_raw(root)
    cur[table] = {"base": gen_name, "segments": []}
    _write_pointer(root, cur)


def publish_generations(
    root: str, gens: dict[str, str], meta: dict | None = None
) -> None:
    """Atomically repoint SEVERAL tables in ONE pointer write — the flip
    a partitioned snapshot needs: when a fold moves rows between bucket
    tables, publishing buckets one at a time would expose a window where
    a row has left its source bucket but not yet appeared in its
    destination. One ``os.replace`` (a single object PUT) keeps every
    reader on an all-old or all-new view; a crash before it leaves only
    unreferenced debris for gc_generations.

    ``meta`` (optional) merges layout metadata into the pointer's
    reserved META_KEY entry IN THE SAME write — the commit point for
    layout migrations (bucket-count declare/grow/shrink): readers can
    never observe new generations under an old layout or vice versa.
    A ``meta`` value of None DELETES that key (the bucketed->monolithic
    migration un-declares the bucket count in the same flip)."""
    cur = _read_raw(root)
    for table, gen_name in gens.items():
        cur[table] = {"base": gen_name, "segments": []}
    if meta:
        m = dict(cur.get(META_KEY, {}))
        for k, v in meta.items():
            if v is None:
                m.pop(k, None)
            else:
                m[k] = v
        if m:
            cur[META_KEY] = m
        else:
            cur.pop(META_KEY, None)
    _write_pointer(root, cur)


def drop_table(root: str, table: str) -> None:
    """Remove ``table`` from the pointer and delete every directory that
    belongs to it (plain dir, ``.g<N>`` generations, ``.s-*`` segments).
    For layout migrations that obsolete a whole table — the monolithic
    label snapshot after a bucketed re-declare, or out-of-range bucket
    tables after a bucket-count shrink (ADVICE r10: these otherwise stay
    referenced in the pointer as never-GC'd stale data). Safe when no
    writer is in flight; callers run it AFTER the migration's commit
    point, so readers have already resolved away from the table."""
    import shutil

    cur = _read_raw(root)
    if table in cur:
        del cur[table]
        _write_pointer(root, cur)
    for name in os.listdir(root):
        if name == table or name.startswith(table + ".g") or name.startswith(
            table + ".s-"
        ):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def gc_generations(root: str, table: str, grace_seconds: float = 0.0) -> None:
    """Remove every directory of ``table`` the pointer does not reference:
    stale bases/segments from completed flips and dangling ones from
    crashed writes. Safe whenever no append/compaction is in flight.

    ``grace_seconds`` protects CONCURRENT READERS: a reader resolves
    ``live_paths`` and then scans them — if a compaction flips the pointer
    and GC deletes the old generation inside that window, the scan fails
    mid-read. Deployments with live readers pass a grace >= the longest
    reader scan (the object-store version of a snapshot retention window);
    directories younger than the grace survive one GC pass and die on a
    later one, so directory count stays bounded over time either way.
    The default 0 keeps offline maintenance (no readers) immediate."""
    import shutil
    import time

    e = _entry(root, table)
    live = {e["base"], *e["segments"]}
    now = time.time()
    for name in os.listdir(root):
        if name in live:
            continue
        if name == table or name.startswith(table + ".g") or name.startswith(
            table + ".s-"
        ):
            full = os.path.join(root, name)
            if grace_seconds > 0:
                try:
                    if now - os.path.getmtime(full) < grace_seconds:
                        continue
                except OSError:
                    continue
            shutil.rmtree(full, ignore_errors=True)
