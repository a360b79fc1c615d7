"""Session state release point: the session memo, tracked persists and
materialized artifacts.

:func:`session_memo` is the engine's one cache for derived frames a
long-lived session reuses — resolved tables, prepared plans, the bar and
token materialized views, the IVF index, the LSH planes. Entries are
keyed by ``(applicationId, *key)``; an access from a new SparkContext
releases and drops every entry of the previous ones, and
:func:`release_memo` (called first by ``registry.clear_plan_cache()``,
the REFRESH entry point) releases the rest.

Operators persist intermediates they read more than once (simhash
fingerprints, MinHash candidate pairs, the fine OHLC bar frame, IVF
assignments, the curation dedup frame). Those handles used to be
function-locals: nothing outside the operator could unpersist them, so
every artifact refresh/rebuild cycle leaked block-manager storage.
Routing them through :func:`tracked_persist` gives
``registry.clear_plan_cache()`` one switch that releases them all.

Tracked persists are a flat list, not app-keyed: entries belonging to
stopped sessions unpersist as harmless no-ops, and a long-lived engine
calls release on every refresh anyway.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}
_TRACKED: list[DataFrame] = []
_ARTIFACT_DIRS: list[str] = []


def _release(entry) -> None:
    try:
        entry.unpersist()
    except Exception:
        pass  # no unpersist (plain values), or owning session stopped


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()`` once per ``(applicationId, *key)``; later calls in the
    same application return the identical object. Entries of other
    (stopped) applications are released and dropped first, so a process
    that creates several sessions does not pin dead frames. ``key``'s
    first element names the entry kind (``"plan"``, ``"table"``, ...)."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        _release(_MEMO.pop(k))
    full = (app, *key)
    if full not in _MEMO:
        _MEMO[full] = build()
    return _MEMO[full]


def release_memo() -> None:
    """Release every memo entry (``unpersist()`` where it has one) and
    drop it; the next access rebuilds against current files."""
    for entry in _MEMO.values():
        _release(entry)
    _MEMO.clear()


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` whose handle clear_plan_cache() can release."""
    df.persist()
    _TRACKED.append(df)
    return df


def materialize_artifact(df: DataFrame, name: str) -> DataFrame:
    """The engine's materialized-view primitive: write ``df`` to a
    session-scoped parquet directory and return a SCAN of it.

    Two properties no in-memory alternative gives simultaneously:

    * **lineage-truncated reads** — the returned frame's plan is a file
      scan, so warm reads re-analyze a one-node plan instead of the full
      build tree (measured 0.1-0.4 s of driver-side analysis per read
      for the curation/IVF/bar artifacts at sf0.1);
    * **deterministic release** — :func:`release_artifacts` (or the
      per-frame :func:`release_artifact`) deletes the directory; no
      reliance on ContextCleaner/GC (``unpersist()`` is a silent no-op
      on localCheckpoint blocks, and the RDD handle is off limits — the
      engine is pure-DataFrame by pinned test).

    This is also the production shape: a nightly artifact IS a written
    table (write_curated, ivf_save); the bench artifacts simply live in
    a temp dir with engine-managed lifetime. A frame scanned after its
    directory was released fails LOUDLY (FILE_NOT_EXIST) — consistent
    with the plan cache's loud-staleness contract; clear_plan_cache()
    rebuilds on the next call.
    """
    path = tempfile.mkdtemp(prefix=f"dexart_{name}_")
    df.write.mode("overwrite").parquet(path)
    _ARTIFACT_DIRS.append(path)
    scan = df.sparkSession.read.parquet(path)
    scan._dexart_path = path  # release handle for release_artifact()
    return scan


def release_artifact(df: DataFrame) -> bool:
    """Delete the artifact directory backing one materialize_artifact
    frame (per-object release, e.g. ``IvfIndex.unpersist``). Returns
    False for frames that aren't artifacts so callers can fall back to
    ``unpersist()``."""
    path = getattr(df, "_dexart_path", None)
    if path is None:
        return False
    shutil.rmtree(path, ignore_errors=True)
    try:
        _ARTIFACT_DIRS.remove(path)
    except ValueError:
        pass  # already swept by release_artifacts()
    return True


def release_tracked() -> None:
    """Unpersist every tracked frame (refresh-cycle storage hygiene).

    Deliberately does NOT delete materialized artifact directories: the
    session memo (plans, bar/token frames, the IVF index) holds live
    scans of those dirs, and standalone callers of this function (tools,
    tests) do not release it — deleting here would leave
    permanently-dangling memoized frames. Only :func:`release_artifacts`,
    called by registry.clear_plan_cache() AFTER :func:`release_memo`,
    may sweep the dirs."""
    for df in _TRACKED:
        _release(df)
    _TRACKED.clear()


def release_artifacts() -> None:
    """Delete every materialized artifact directory. Call only after the
    memo holding their scans is released (clear_plan_cache does this in
    order), or at process exit."""
    for p in _ARTIFACT_DIRS:
        shutil.rmtree(p, ignore_errors=True)
    _ARTIFACT_DIRS.clear()


# Processes that exit without a final clear_plan_cache() (bench, CLI,
# pytest) must not strand sf-scale parquet in the temp dir — the
# cache()/localCheckpoint storage this mechanism replaced died with the
# JVM automatically; match that.
atexit.register(release_artifacts)
