"""Physical-plan introspection — the engine's scale guardrails.

At 100 TB a wrong plan (lost pushdown, surprise cross product, extra
shuffle, demoted broadcast) is the difference between minutes and days.
These helpers read the executed plan string so tests can pin the plan
properties each operator is designed around; they are assertions about
*shape*, not timings, so they hold from sf0.001 to cluster scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan_string(df))


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in p for p in pushed_filters(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings — check column pruning reached the scan."""
    return re.findall(r"ReadSchema: (struct<[^>]*)", plan_string(df))


def count_shuffles(df: DataFrame) -> int:
    return plan_string(df).count("Exchange hashpartitioning")


def count_broadcast_joins(df: DataFrame) -> int:
    p = plan_string(df)
    return p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin")


def has_top_k(df: DataFrame) -> bool:
    """Global top-k planned as TakeOrderedAndProject (no full sort)."""
    return "TakeOrderedAndProject" in plan_string(df)


def has_window_group_limit(df: DataFrame) -> bool:
    """Rank-filter window rewritten to partial per-group top-k."""
    return "WindowGroupLimit" in plan_string(df)


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in plan_string(df)


def join_types(df: DataFrame) -> list[str]:
    return re.findall(r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\w* \[[^\]]*\], \[[^\]]*\], (\w+)", plan_string(df))


def has_broadcast_hint(df: DataFrame) -> bool:
    """True when the ANALYZED plan carries an explicit broadcast hint.

    AQE choosing broadcast on observed size is healthy; a hand-forced
    hint on a data-dependent side is a scale hazard (the hinted side can
    outgrow the driver).  Hints are eliminated by the optimizer, so this
    must read the analyzed plan, not the executed one.
    """
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # match the broadcast strategy specifically — a MERGE/SHUFFLE_HASH/
    # SHUFFLE_REPLICATE_NL hint is a different (non-driver-memory) hazard
    # and must not be reported as a broadcast hint
    return bool(
        re.search(r"ResolvedHint \(strategy=broadcast", analyzed)
        or re.search(r"UnresolvedHint (?:BROADCAST|BROADCASTJOIN|MAPJOIN)\b", analyzed, re.I)
    )
