"""Run-scoped scratch directories for queries that need on-disk state
(streaming checkpoints/stages, incremental-MV state parquet).

Two failure modes this replaces (ADVICE r4):

- *fixed per-SF dirs, rmtree'd at entry*: two overlapping runs at the
  same SF (driver correctness + bench DO overlap) — the second entry
  deletes the first run's live checkpoint/state mid-stream;
- *uuid dirs, never deleted*: no race, but every gate/bench sweep
  leaks one dir per streaming/MV query per run.

`run_dir()` gives each invocation a private uuid-keyed dir (no
sharing, no race) and garbage-collects *sibling* run dirs whose
top-level mtime is older than `_GC_AGE_S`. Age-based GC is safe
against concurrency: a live run's dir was created seconds-to-minutes
ago, far under the 2h horizon, so only abandoned footprints are
swept. Immutable machine-level caches (staged events/bronze/avro
fixtures) intentionally do NOT live under this root — they are
shared by design and published once per machine by
`publish_fixture()`.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

_ROOT = os.path.join(tempfile.gettempdir(), "sg_runs")
_GC_AGE_S = 2 * 3600
_DONE = "_DONE"


def publish_fixture(target: str, build) -> str:
    """Publish the immutable fixture dir ``target`` once per machine
    and return it. ``build(staging)`` fills a private
    ``<target>.build-<uuid>`` dir (it exists when ``build`` is
    called); a ``_DONE`` marker is written after ``build`` returns,
    then the dir is renamed into place. A concurrent loser keeps the
    winner's copy when it carries the marker, and replaces an
    unmarked (partial) target. A ``build`` that raises leaves no
    staging dir behind. The content must be a pure function of the
    target's key, so any published copy is identical."""
    marker = os.path.join(target, _DONE)
    if os.path.exists(marker):
        return target
    staging = f"{target}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(staging)
    try:
        build(staging)
        open(os.path.join(staging, _DONE), "w").close()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, target)
    except OSError:
        if os.path.exists(marker):
            shutil.rmtree(staging, ignore_errors=True)
        else:
            shutil.rmtree(target, ignore_errors=True)
            os.rename(staging, target)
    return target


def run_dir(prefix: str) -> str:
    """Create and return a fresh private scratch dir for one query
    invocation; opportunistically sweep abandoned siblings (>2h old)."""
    os.makedirs(_ROOT, exist_ok=True)
    _gc()
    d = os.path.join(_ROOT, f"{prefix}-{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    return d


def _gc(now: float | None = None) -> None:
    now = time.time() if now is None else now
    try:
        entries = os.listdir(_ROOT)
    except OSError:
        return
    for name in entries:
        p = os.path.join(_ROOT, name)
        try:
            if now - os.path.getmtime(p) > _GC_AGE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue  # racing sibling GC / live deletion — skip
