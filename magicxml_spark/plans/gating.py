"""Gate-shape helper: filter on expensive COMPUTED columns safely.

The trap this API closes (BASELINE r11, the round's 20x find): a
``.filter`` placed directly on the output of an operator that appends
expensive computed columns (``with_lang``'s vote/score chains,
``gopher_quality``'s n-gram battery, ``fineweb_quality``'s line
profile) gets pushed below the operator's projections by Catalyst's
predicate-pushdown SUBSTITUTION — the predicate's column references
are replaced by the full expression trees they alias, and the
substituted copies re-evaluate the chains with zero subexpression
reuse. Measured at sf1 on the langid gate: 350-420 s for the pushed
spelling vs 17-22 s with the compact ``(id, text, lang)`` frame
materialized before the filter.

Until round 12 the safe spelling was a CONVENTION (each call site
hand-wrote select -> localCheckpoint -> filter, documented in
SCALING.md). ``gate_on_computed`` makes it an API: one call
materializes the compact projection and filters the materialized
frame, so the predicate can never reach the computed-column
expression trees. tests/test_gate_shape.py is the matching
structural lint — it walks the registered-query sources and fails on
any direct ``.filter`` over a gate-producing operator's output, the
same grep-the-source pattern as the forced-broadcast whitelist.

Scale: ``localCheckpoint`` materializes ONLY the compact projection
(the id/text/verdict columns the caller lists — never the operator's
internal evidence columns unless asked for), one narrow write of the
frame that every downstream stage was going to shuffle anyway; the
documented trade is executor-loss recompute (same as every stage
boundary in the v5/v6 compositions).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def gate_on_computed(
    df: DataFrame,
    cols: Sequence[str],
    predicate: Column,
) -> DataFrame:
    """Materialize the compact ``cols`` projection of ``df``, then
    filter the MATERIALIZED frame with ``predicate``.

    Use this wherever a pipeline gates on a column an upstream
    operator COMPUTED (langid verdicts, quality keep flags,
    classifier scores): the materialization boundary stops Catalyst
    from substituting the predicate below the operator's projections
    and re-evaluating the expensive chains (the langid gate-shape
    trap, 20x at sf1 — BASELINE r11). ``cols`` must include every
    column the predicate reads and every column downstream stages
    need; list the compact set (id, text, verdict), not the
    operator's full evidence output.

    ``localCheckpoint``, not ``persist``: CacheManager matches by
    plan and would silently turn repeated identical queries into
    cache hits (the v5 rationale)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"gate_on_computed cols not in the frame: {missing} "
            f"(have {df.columns})"
        )
    compact = df.select(*cols).localCheckpoint(eager=True)
    return compact.filter(predicate)
