"""Cached derived-artifact lifecycle — the one place that decides when
an on-disk asset derived from a source table is current and how it is
installed (CSV/JSON/XML/ORC/binary copies, the LSH/IVF/PQ index
generations, the IVM rollups, the stream checkpoints).

Contract (grown through ADVICE r06/r08 and the r9 review):

- **One entry point**: ``ensure_artifact(src, tag, params, parts,
  write)`` returns the artifact's root. It is current when every
  relative path in ``parts`` exists under the root; then it returns
  at once and runs nothing else, so build-only work (frame
  construction, driver-side collects, nested artifacts) belongs
  inside ``write``. Otherwise ``write`` runs through the atomic
  install below. ``artifact_root`` and ``install_artifact`` stay
  public for tests of the crash and race paths.
- **Staleness-proof keying**: the cache root digests the source
  parquet's (path, mtime_ns, size) plus a caller-supplied params
  string, so regenerating the source OR changing any
  semantics-defining constant re-keys the artifact — a cached asset
  can never silently serve results computed under old parameters.
- **Atomic install**: build into a pid-suffixed temp dir, rename into
  place. The loser of a concurrent rename race uses the winner's
  copy; any OTHER rename failure re-raises instead of leaving the
  caller to crash later on a missing artifact.
- **Crash hygiene**: a failed build removes its own temp dir before
  re-raising (no unbounded /tmp debris from repeated failures).
- **Deferred stale sweep** (ADVICE r09: an immediate rmtree races a
  concurrent process still holding lazy DataFrames over the old
  generation — its scans would hit FileNotFound mid-plan): after a
  successful install, old generations of the SAME source (identified
  by the source.txt marker) are first *marked* (a ``swept.txt``
  tombstone) and only rmtree'd by a LATER install once the mark is
  older than ``SWEEP_GRACE_SEC`` — long enough for any in-flight run
  over the old generation to finish. Other sources' caches — e.g. the
  same table at a different scale factor — are never touched.

Per-session scratch directories (``scratch_dir``): a query whose run
IS a write — a sink round trip, a stream checkpoint, a rewritten
layout — cannot share a cached artifact, so it writes under
``rsqes_<tag>_<md5(abspath(src))[:16]>_<applicationId>``. Keying by
the application id keeps two concurrent sessions on one corpus off
each other's checkpoint; within a session the root is reused (a
re-run is a restart against the same checkpoint) unless the caller
asks for a ``fresh`` one. Each call stamps ``source.txt`` and runs the
same deferred sweep, so the directories earlier sessions left for the
same tag and source are marked and later reaped — one live directory
per (tag, source) survives. Outputs go in named subdirectories: Spark
would read ``source.txt`` as a data file of the root.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable

# Grace period between marking a stale generation and deleting it.
# 30 min comfortably exceeds any single bench/pytest run over one
# artifact; tests shrink it to exercise the reap path.
SWEEP_GRACE_SEC = 1800.0


def artifact_root(src: str, tag: str, params: str = "") -> str:
    """Cache root for one artifact generation of ``src``. ``params``
    must fold in every constant the artifact's CONTENT depends on —
    derive it from the defining constants themselves (the way
    queries._minhash_sql_parts derives oracle fragments), never from
    a manually-bumped version string alone."""
    st = os.stat(src)
    key = f"{src}|{st.st_mtime_ns}|{st.st_size}|{tag}|{params}"
    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"rsqes_{tag}_{digest}")
    # Revive a tombstoned generation that became current again (source
    # reverted to an earlier mtime_ns+size, e.g. fixtures restored from
    # an archive): the key computing to THIS root makes it the live
    # generation by definition, so an aged swept.txt left from its
    # stale period must not let a later sweep reap it mid-serve
    # (ADVICE r10). Covers both the ensure-complete fast path (which
    # never reaches install_artifact) and the install path.
    try:
        os.remove(os.path.join(root, "swept.txt"))
    except OSError:
        pass
    return root


def ensure_artifact(
    src: str,
    tag: str,
    params: str,
    parts: tuple[str, ...],
    write: Callable[[str], None],
) -> str:
    """Return the root of the current ``tag`` artifact of ``src``,
    building it first when any of ``parts`` (paths relative to the
    root, e.g. ``"assign/_SUCCESS"``) is missing. ``write(tmp_dir)``
    materializes the content; see ``artifact_root`` for ``params``."""
    root = artifact_root(src, tag, params)

    def complete(r: str) -> bool:
        return all(os.path.exists(os.path.join(r, p)) for p in parts)

    if not complete(root):
        install_artifact(root, tag, src, write, complete)
    return root


def scratch_dir(spark, tag: str, src: str, fresh: bool) -> str:
    """This session's scratch root for ``tag`` over ``src`` (see the
    module docstring). ``fresh=True`` empties it first, for a query
    whose every run must start from a new checkpoint."""
    src = os.path.abspath(src)
    digest = hashlib.md5(src.encode()).hexdigest()[:16]
    app_id = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"rsqes_{tag}_{digest}_{app_id}")
    if fresh:
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "source.txt"), "w") as f:
        f.write(src)
    _sweep_stale_generations(tag, src, keep=os.path.basename(root))
    return root


def install_artifact(
    root: str,
    tag: str,
    src: str,
    write_fn: Callable[[str], None],
    complete_fn: Callable[[str], bool],
) -> None:
    """Build-into-temp + atomic-rename install with stale-generation
    sweep. ``write_fn(tmp_dir)`` materializes the content;
    ``complete_fn(root)`` decides whether an installed artifact is
    whole (checked again on rename failure to distinguish a benign
    race loss from a real error)."""
    tmp = f"{root}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_fn(tmp)
        with open(os.path.join(tmp, "source.txt"), "w") as f:
            f.write(src)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, root)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not complete_fn(root):
            raise
    _sweep_stale_generations(tag, src, keep=os.path.basename(root))


def _sweep_stale_generations(tag: str, src: str, keep: str) -> None:
    """Two-phase sweep of old generations of ``src`` under ``tag``:
    mark on first sighting, rmtree on a later pass once the mark has
    aged past ``SWEEP_GRACE_SEC`` (deferred so a concurrent process
    mid-scan over the old generation never loses its files)."""
    parent = tempfile.gettempdir()
    now = time.time()
    for d in os.listdir(parent):
        if not d.startswith(f"rsqes_{tag}_"):
            continue
        path = os.path.join(parent, d)
        if d == keep:
            # The generation being kept may carry a tombstone from an
            # earlier stale period (source reverted): clear it so the
            # grace clock restarts if it ever goes stale again.
            try:
                os.remove(os.path.join(path, "swept.txt"))
            except OSError:
                pass
            continue
        try:
            with open(os.path.join(path, "source.txt")) as f:
                stale_src = f.read()
        except OSError:
            continue
        if stale_src != src:
            continue
        marker = os.path.join(path, "swept.txt")
        try:
            marked_at = os.stat(marker).st_mtime
        except OSError:
            try:  # first sighting — tombstone it, reap on a later pass
                with open(marker, "w") as f:
                    f.write(str(now))
            except OSError:
                pass
            continue
        if now - marked_at >= SWEEP_GRACE_SEC:
            shutil.rmtree(path, ignore_errors=True)
