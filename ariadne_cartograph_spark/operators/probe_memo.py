"""The one memo for plan-statistics probes.

The auto-routers measure a plan (row counts, duplicate ratio, shingle
skew) only to PICK between physical plans that return identical
results, so a cached — or in the worst case stale — entry can never
change results, only the plan shape. This mirrors Spark's own CBO
statistics caching: repeated calls on the same logical plan (bench
loops, the parity harness, multi-stage pipelines reusing a corpus)
route with ZERO extra Spark jobs.

A key is the probe's name, the semanticHash of every probed plan and
the probe's other parameters. Stored values are never None, so
``get`` returning None means a miss.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

# Six probes once kept six FIFO memos of 256 entries each; one FIFO of
# their combined size never evicts more entries in total than they did.
MEMO_MAX = 6 * 256

_MEMO: dict[tuple, Any] = {}


def key(probe: str, *parts: Any) -> tuple | None:
    """Memo key for ``probe`` over ``parts`` (DataFrames enter by
    semanticHash); None when a plan refuses to hash, and then the
    probe just runs unmemoized."""
    try:
        return (probe, *(p.semanticHash() if isinstance(p, DataFrame) else p for p in parts))
    except Exception:
        return None


def get(k: tuple | None) -> Any:
    return None if k is None else _MEMO.get(k)


def put(k: tuple | None, value: Any) -> None:
    if k is None:
        return
    if len(_MEMO) >= MEMO_MAX:
        _MEMO.pop(next(iter(_MEMO)))
    _MEMO[k] = value
