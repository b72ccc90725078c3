"""Engine-wide plan invariants over EVERY registered query.

Catches registration rot (a query that stops building) and the silent
scale-killer class (a non-broadcast cartesian product appearing through a
refactor) in one sweep, at plan-build cost only — nothing executes.
BroadcastNestedLoopJoin is allowed: the registry's 1-row scalar cross
joins (totals, boundaries) legitimately plan as broadcast NLJs; a
CartesianProduct node means BOTH sides were too big to broadcast, which
no registered query should ever do.
"""

from __future__ import annotations

from habits_etl_spark.plans import QUERIES
from habits_etl_spark.session import conf_scope


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a Spark plan-node argument list."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
            elif depth < 0:
                break
    return groups


def unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes whose PARTITION spec is empty — the single-task
    global sort this engine bans (scale killer at 100 TB; Spark logs
    "No Partition Defined for Window operation" for them).

    A Window node prints ``Window [exprs], [partSpec], [orderSpec]``;
    with an empty partition spec the middle group disappears, leaving
    exactly two groups with sort markers in the last."""
    bad = []
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*()0123456789")
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(stripped[len("Window "):])
        if len(groups) == 2 and (
            " ASC " in groups[-1] or " DESC " in groups[-1]
        ):
            bad.append(stripped[:160])
    return bad


def test_every_query_builds_and_has_no_cartesian_product(spark, sf_dir):
    """Also: building a query leaves the session conf as it found it, so
    one query's settings never leak into the next one's plan."""
    failures = []
    for name, fn in sorted(QUERIES.items()):
        conf = spark.conf.getAll
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: plan build failed: {e}")
            continue
        after = spark.conf.getAll
        for k in sorted(set(conf) | set(after)):
            if conf.get(k) != after.get(k):
                failures.append(f"{name}: conf {k}: {conf.get(k)} -> {after.get(k)}")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in physical plan")
        for w in unpartitioned_windows(plan):
            failures.append(f"{name}: unpartitioned (single-task) window: {w}")
    assert not failures, "\n".join(failures)


def test_every_query_analyzes_under_ansi_mode(spark, sf_dir):
    """The driver harness builds its own session and may enable ANSI; a
    query that only analyzes in legacy mode (implicit lossy casts,
    unchecked element_at, ...) would break there. Building the full
    registry under ANSI catches the analysis-time class for every query
    at plan cost; execution-sensitive ops are additionally RUN under ANSI
    in test_robustness's sample."""
    failures = []
    with conf_scope(spark, {"spark.sql.ansi.enabled": "true"}):
        for name, fn in sorted(QUERIES.items()):
            try:
                fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
            except Exception as e:  # noqa: BLE001 - collecting all failures
                failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)
