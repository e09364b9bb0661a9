"""Driver-contract query registry.

Each registered entry: name -> (spark_fn, oracle_sql | None).
spark_fn(spark, sf_dir) returns a DataFrame built with the engine's
operators; oracle_sql is the equivalent ANSI SQL DuckDB runs on the same
parquet views. Column names (and rounded float values) must match - the
driver sorts columns by name and hashes values.

Submodules register themselves on import:
  timeseries   the reference pipeline's operators (SURVEY.md section 2)
  relational   star-schema joins/aggs/windows/set-ops (section 2.9 ext)
  text         documents-table dedup + text analysis extensions
  similarity   embeddings-table similarity search extensions
  multimodal   binary-column decode / feature extraction extensions
  linkage      record linkage / interval / SCD2 extensions
"""

from __future__ import annotations

import glob
import json
import os
import re

from .registry import REGISTRY, q

# The external driver verifies the FIRST `WINDOW` entries of queries()
# against the DuckDB oracle; anything later gets no correctness row at
# all (round-1 lesson: the whole similarity suite fell outside the
# window).  Through round 5 the window was a hand-maintained _PRIORITY
# list; that drifted (orders_expectations fell out of the round-5
# tracking comment), so from round 6 the rotation is COMPUTED from the
# accumulated CORRECTNESS_r*.json files the driver writes to the repo
# root:
#
#   1. the 10 reference-core queries (SURVEY §2 - the operators the
#      reference itself ships) are always in-window;
#   2. then every oracle-paired query that has NEVER had a green driver
#      row (rows+schema+hash all true), oldest-registered first;
#   3. then oracle-paired greens, stalest first (ascending round of
#      their most recent green row), so displaced flagships cycle back
#      automatically;
#   4. rows-only queries (oracle_sql None) never take a window slot -
#      a slot spent on a rows-only check verifies nothing the tail
#      doesn't; their correctness lives in differential pytests.
#
# Ties inside each tier break on registry (registration) order, which
# is fixed by module import order, so the window is deterministic for a
# given set of history files.  tests/test_rotation.py pins the rule.
WINDOW = 50

# Reference-core queries (SURVEY §2): always occupy the first 10 slots.
CORE = [
    "ohlcv_5m",
    "session_labels",
    "session_counts",
    "completeness_gate",
    "settle_config_file",
    "backadjust_rangejoin",
    "bar_pipeline_5m",
    "bar_pipeline_60m",
    "predict_next_contract",
    "settlement_schedule",
]

# Queries whose SEMANTICS or oracle changed this round: their old
# green rows certify the old form, so the rotation treats them as
# never-green until the driver re-verifies the new form (then remove
# them from the set). Empty: the last members (the three multimodal
# queries fused in r14) were re-certified green in CORRECTNESS_r15.
RETRY: frozenset[str] = frozenset()

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _load_green_history(root: str = _REPO_ROOT) -> dict[str, int]:
    """name -> round of most recent fully-green driver row.

    Green means rows_match AND schema_match AND hash_match all true -
    the driver's strongest verdict.  Queries absent from the mapping
    have never been driver-verified.
    """
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, verdict in rows.items():
            if not isinstance(verdict, dict):
                continue
            if (
                verdict.get("rows_match")
                and verdict.get("schema_match")
                and verdict.get("hash_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def rotation_order(
    registry: dict | None = None, history: dict[str, int] | None = None
) -> list[str]:
    """Deterministic full ordering of the registry under the rotation
    rule (window = first WINDOW names)."""
    registry = REGISTRY if registry is None else registry
    history = _load_green_history() if history is None else history
    names = list(registry)
    pos = {n: i for i, n in enumerate(names)}

    core = [n for n in CORE if n in registry]
    oracle = [
        n for n in names if n not in core and registry[n][1] is not None
    ]
    rows_only = [
        n for n in names if n not in core and registry[n][1] is None
    ]

    never = [n for n in oracle if n not in history or n in RETRY]
    stale = sorted(
        (n for n in oracle if n in history and n not in RETRY),
        key=lambda n: (history[n], pos[n]),
    )
    return core + never + stale + rows_only


def _ordered():
    return {name: REGISTRY[name] for name in rotation_order()}


def queries():
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracle_sql():
    return {
        name: sql for name, (_, sql) in _ordered().items() if sql is not None
    }


from . import timeseries  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import linkage  # noqa: E402,F401
