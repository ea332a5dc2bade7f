"""Perplexity -> scheduling-directive / precedence-cost mapping.

Pure column expressions mirroring the reference prioritizer math
(``DecesiveValuePrioritizer.java:291-336``, defaults ``:48-50`` and
crawl profile cxml:39-41); the Python twins drive the reference simulator
and the unit tests that pin both sides to the same values.

Directives (Heritrix SchedulingConstants): HIGHEST=0 (prerequisites),
HIGH=1, MEDIUM=2, NORMAL=3; -1 = reject (out of scope).

Boundaries: perp <= 5e2 -> HIGH, <= 5e3 -> MEDIUM, <= inf -> NORMAL;
perp <= 1 or non-finite -> reject (with the all-finite default boundary set).

Cost: HIGHEST->1, HIGH->4, MEDIUM->8, NORMAL-> log-squash of
[log1p(5e3), log1p(min(maxvalue, 2^31-1))] onto [64, 127], ceil, values
>= maxvalue pinned to 127. Recursion discount: cost = max(cost - k, 0).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

HIGHEST, HIGH, MEDIUM, NORMAL = 0, 1, 2, 3

DEFAULT_BOUNDARIES = (5e2, 5e3, float("inf"))  # HIGH, MEDIUM, NORMAL
DEFAULT_MAXVALUE = 5e4
DEFAULT_MAX_PRECEDENCE = 127

SEED_PERPLEXITY = 2.0  # seeds are scheduled with perp=2 (TextPrioSeedModule)


def directive_for_perplexity(
    perp: Column,
    boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES,
) -> Column:
    """Scheduling directive column; -1 means reject/out-of-scope."""
    b_high, b_med, b_norm = boundaries
    finite = ~F.isnan(perp) & (perp != float("inf")) & (perp != float("-inf"))
    norm_boundary_finite = math.isfinite(b_norm)
    nonfinite_result = F.lit(-1) if norm_boundary_finite else F.lit(NORMAL)
    return (
        F.when(perp <= 1.0, F.lit(-1))
        .when(~finite, nonfinite_result)
        .when(perp <= b_high, F.lit(HIGH))
        .when(perp <= b_med, F.lit(MEDIUM))
        .when(perp <= b_norm, F.lit(NORMAL))
        .otherwise(F.lit(-1))
    )


def precedence_cost(
    perp: Column,
    directive: Column,
    boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES,
    maxvalue: float = DEFAULT_MAXVALUE,
    max_precedence: int = DEFAULT_MAX_PRECEDENCE,
) -> Column:
    """Precedence cost column (lower = fetched earlier within a directive)."""
    B = math.log1p(min(maxvalue, 2**31 - 1))
    A = math.log1p(boundaries[1])  # MEDIUM boundary
    a, b = 64.0, float(max_precedence)
    squash = F.ceil((F.log1p(perp) - F.lit(A)) * F.lit((b - a) / (B - A)) + F.lit(a)).cast("int")
    return (
        F.when(directive == HIGHEST, F.lit(1))
        .when(directive == HIGH, F.lit(4))
        .when(directive == MEDIUM, F.lit(8))
        .when(directive != NORMAL, F.lit(max_precedence))  # rejected
        .when(perp >= min(maxvalue, 2**31 - 1), F.lit(max_precedence))
        .otherwise(squash)
    )


def apply_priority(
    perp: Column,
    is_prerequisite: Column | None = None,
    recursion: Column | None = None,
    boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES,
    maxvalue: float = DEFAULT_MAXVALUE,
    max_precedence: int = DEFAULT_MAX_PRECEDENCE,
) -> tuple[Column, Column]:
    """(directive, cost) pair for a candidate given its via-page perplexity.

    ``recursion`` is the via-chain walk depth (0 in the batch engine except
    for seed/robots-derived candidates); prerequisites get promoted one
    directive level, matching schedule() in the reference.
    """
    directive = directive_for_perplexity(perp, boundaries)
    cost = precedence_cost(perp, directive, boundaries, maxvalue, max_precedence)
    if recursion is not None:
        cost = F.greatest(cost - recursion, F.lit(0))
    out_directive = directive
    if is_prerequisite is not None:
        out_directive = F.when(
            is_prerequisite & (directive >= 0), F.greatest(F.lit(HIGHEST), directive - 1)
        ).otherwise(directive)
    return out_directive, cost


# ---------------------------------------------------------------------------
# Python mirrors (simulator / property tests)
# ---------------------------------------------------------------------------


def directive_py(
    perp: float, boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES
) -> int:
    if perp <= 1.0:
        return -1
    if not math.isfinite(perp):
        return NORMAL if not math.isfinite(boundaries[2]) else -1
    if perp <= boundaries[0]:
        return HIGH
    if perp <= boundaries[1]:
        return MEDIUM
    if perp <= boundaries[2]:
        return NORMAL
    return -1


def cost_py(
    perp: float,
    directive: int,
    boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES,
    maxvalue: float = DEFAULT_MAXVALUE,
    max_precedence: int = DEFAULT_MAX_PRECEDENCE,
) -> int:
    if directive == HIGHEST:
        return 1
    if directive == HIGH:
        return 4
    if directive == MEDIUM:
        return 8
    B = min(maxvalue, 2**31 - 1)
    if perp >= B:
        return max_precedence
    B = math.log1p(B)
    A = math.log1p(boundaries[1])
    val = math.log1p(perp)
    a, b = 64.0, float(max_precedence)
    return int(math.ceil((val - A) * (b - a) / (B - A) + a))


def apply_priority_py(
    perp: float,
    is_prerequisite: bool = False,
    recursion: int = 0,
    boundaries: tuple[float, float, float] = DEFAULT_BOUNDARIES,
    maxvalue: float = DEFAULT_MAXVALUE,
    max_precedence: int = DEFAULT_MAX_PRECEDENCE,
) -> tuple[int, int]:
    d = directive_py(perp, boundaries)
    if d < 0:
        return -1, max_precedence
    c = max(cost_py(perp, d, boundaries, maxvalue, max_precedence) - recursion, 0)
    if is_prerequisite:
        d = max(HIGHEST, d - 1)
    return d, c
