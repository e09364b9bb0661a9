from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def q(name: str, sql: str | None):
    """Register a driver-contract query with its DuckDB oracle SQL
    (None -> rows-only check)."""

    def deco(fn: QueryFn):
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def corpus_key(spark: SparkSession, sf_dir: str, table: str) -> tuple:
    """THE key for per-corpus derived state (shingle indexes, trained
    merges, memoized pipeline frames, written scratch copies):
    applicationId (a new session rebuilds instead of erroring on gone
    blocks) + sf_dir + the source file's mtime/size (a rewritten corpus
    invalidates). Cache per-corpus state ONLY through artifact() (which
    keys on this) and write per-app files only under scratch_dir() -
    hand-copied stamps drifted apart before there was one store."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    stamp = (os.path.getmtime(path), os.path.getsize(path))
    return (spark.sparkContext.applicationId, sf_dir, stamp)


# (name, applicationId, sf_dir, stamp) -> what build() returned
_ARTIFACTS: dict[tuple, Any] = {}
_SCRATCH_ROOTS: set[str] = set()


def _release(value: Any) -> None:
    """unpersist() every DataFrame / Broadcast in an artifact (bare, or
    inside a dict/tuple/list); paths and driver-side values need
    nothing."""
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif isinstance(value, (DataFrame, Broadcast)):
        value.unpersist()


def artifact(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    build: Callable[[], Any],
) -> Any:
    """The session store for per-corpus derived state: `build()` runs
    once per (name, corpus_key(spark, sf_dir, table)) and its result -
    a persisted/checkpointed frame, a Broadcast, a written path or a
    driver value - is returned to every later caller. Build parameters
    (n_merges, dim, threshold) belong in `name`. A miss first drops the
    entries of the same name, app and sf_dir under an older stamp and
    releases them, so a rewritten corpus never leaves its superseded
    blocks pinned for the process lifetime."""
    key = (name, *corpus_key(spark, sf_dir, table))
    if key not in _ARTIFACTS:
        for stale in [k for k in _ARTIFACTS if k[:3] == key[:3]]:
            _release(_ARTIFACTS.pop(stale))
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]


def scratch_dir(spark: SparkSession, name: str) -> str:
    """<tempdir>/spark_graft_<appId>/<name> (name sanitized to one path
    component): the one place per-app files go. The first call for an
    app registers an atexit hook that removes its whole root, so a run
    leaves nothing behind in the temp dir."""

    def clean(s: str) -> str:
        return re.sub(r"[^A-Za-z0-9_-]", "_", s)

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{clean(spark.sparkContext.applicationId)}",
    )
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, True)  # ignore_errors
    return os.path.join(root, clean(name))
