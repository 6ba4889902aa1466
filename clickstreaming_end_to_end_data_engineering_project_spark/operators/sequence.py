"""Ordered sequence-pattern matching over event streams: the
funnel-with-timestamps verb (MATCH_RECOGNIZE's most-used subset) — per
entity, the greedy earliest completion of an ordered list of step
predicates, optionally inside a horizon measured from the first step,
with optional per-step max-gap bounds and between-step absence
("no intervening C") constraints (r17 verdict #7).
Generalizes the reference's single hard-coded view→click→purchase
funnel (plans/funnel.conversion_funnel keeps the reference-parity
summary shape; this returns per-entity step timestamps for arbitrary
steps).

Semantics (the standard funnel contract): t₁ = the entity's earliest
step-1 event; tₖ = the earliest step-k event STRICTLY after tₖ₋₁ (and
within t₁ + horizon when given, and within tₖ₋₁ + max_gap when given)
— greedy earliest completion, which for this nested-min structure also
maximizes the number of completed steps (taking any later qualifying
event can only shrink the room for later steps).  Same-instant events
do not chain (ts is strictly increasing across steps; ties inside one
step resolve by min() being instant-exact).  A NULL predicate or
timestamp never matches: an event with a NULL ts takes no step and
blocks none, so an entity whose step-1 events all lack a timestamp has
no row.

Absence semantics (STRICT, the nested-min-expressible form): with an
absence predicate between steps k-1 and k, the match fails at step k
if a blocker event occurs STRICTLY between tₖ₋₁ and the earliest
qualifying step-k event — equivalently, tₖ is kept only when
min(blocker ts > tₖ₋₁) ≥ tₖ.  A blocker at EXACTLY tₖ₋₁ or tₖ does
not block ("strictly between"); a blocker before any step-k event
kills the tail even if a later step-k event exists with no blocker
before IT (MATCH_RECOGNIZE's reluctant C*-free core, not backtracking
— the declarative form both engines state identically).

Scale shape: one filtered scan + key-partitioned min-aggregate per
step (plus one per absence constraint), joined back on the entity key
— k small shuffles for a k-step pattern, each predicate pushed to the
scan; no window over the raw stream and no per-entity event lists ever
materialize.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def match_sequence(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    steps: "Sequence[tuple[str, Column]]",
    within: "str | None" = None,
    max_gaps: "Sequence[str | None] | None" = None,
    absences: "Sequence[Column | None] | None" = None,
) -> DataFrame:
    """One row per entity that matched step 1: (entity, t_<name> per
    step), NULL from the first unmatched step onward.  ``steps`` is an
    ordered list of (name, boolean-Column) stages; ``within`` is an
    interval literal ("2 hours") bounding EVERY later step relative to
    t₁ (the whole-pattern horizon).  ``max_gaps`` (len = len(steps)-1)
    gives per-step interval literals bounding tₖ ≤ tₖ₋₁ + gap;
    ``absences`` (same length) gives blocker predicates — step k is
    NULLed when a blocker event falls strictly between tₖ₋₁ and tₖ
    (see the module docstring for the exact strict-absence
    semantics)."""
    if len(steps) < 1:
        raise ValueError("match_sequence: need at least one step")
    names = [n for n, _ in steps]
    if len(set(names)) != len(names):
        raise ValueError(f"match_sequence: duplicate step names: {names}")
    n_later = len(steps) - 1
    if max_gaps is not None and len(max_gaps) != n_later:
        raise ValueError(
            f"match_sequence: max_gaps needs {n_later} entries "
            f"(one per later step), got {len(max_gaps)}"
        )
    if absences is not None and len(absences) != n_later:
        raise ValueError(
            f"match_sequence: absences needs {n_later} entries "
            f"(one per later step), got {len(absences)}"
        )
    first_name, first_pred = steps[0]
    result = (
        events.filter(first_pred & F.col(ts_col).isNotNull())
        .groupBy(entity_col)
        .agg(F.min(ts_col).alias(f"t_{first_name}"))
    )
    horizon = (
        F.col(f"t_{first_name}") + F.expr(f"INTERVAL {within}")
        if within is not None
        else None
    )
    prev = f"t_{first_name}"
    for j, (name, pred) in enumerate(steps[1:]):
        gate = F.col(ts_col) > F.col(prev)
        if horizon is not None:
            gate = gate & (F.col(ts_col) <= horizon)
        gap = max_gaps[j] if max_gaps is not None else None
        if gap is not None:
            gate = gate & (
                F.col(ts_col) <= F.col(prev) + F.expr(f"INTERVAL {gap}")
            )
        cols = [entity_col, prev] + ([f"t_{first_name}"] if prev != f"t_{first_name}" else [])
        nxt = (
            events.filter(pred)
            .join(result.select(*dict.fromkeys(cols)), entity_col)
            .filter(gate)
            .groupBy(entity_col)
            .agg(F.min(ts_col).alias(f"t_{name}"))
        )
        result = result.join(nxt, entity_col, "left")
        blocker = absences[j] if absences is not None else None
        if blocker is not None:
            # earliest blocker strictly after the previous step; the
            # step survives only when it lands at-or-before it (a
            # blocker at exactly t_k does not sit strictly between).
            # No upper bound needed: a blocker at-or-after t_k never
            # disqualifies, and min() finds the one that matters.
            blk_col = f"_blk_{name}"
            blk = (
                events.filter(blocker)
                .join(result.select(entity_col, prev), entity_col)
                .filter(F.col(ts_col) > F.col(prev))
                .groupBy(entity_col)
                .agg(F.min(ts_col).alias(blk_col))
            )
            result = (
                result.join(blk, entity_col, "left")
                .withColumn(
                    f"t_{name}",
                    F.when(
                        F.col(blk_col).isNull()
                        | (F.col(f"t_{name}") <= F.col(blk_col)),
                        F.col(f"t_{name}"),
                    ),
                )
                .drop(blk_col)
            )
        prev = f"t_{name}"
    return result
