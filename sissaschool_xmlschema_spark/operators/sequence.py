"""Content-model checks as window functions + fused occurrence aggregation.

The reference validates child order and occurrence bounds with the ``ModelVisitor``
automaton (xmlschema/validators/models.py:177-366) and ``ParticleMixin`` bounds
(particles.py:109-126), emitting ``XMLSchemaChildrenValidationError`` with the
failing child index (exceptions.py:438-533).

Flat-table lowering: document order is ``Window.partitionBy(scope).orderBy(order)``.
All window-based checks for a spec are fused into ONE window pass (one shuffle on the
scope key, one sort) — at 100 TB this matters: k checks cost one exchange, not k.
All Occurs bounds are likewise fused into ONE groupBy with conditional sums
(map-side partial aggregation makes this a single shuffle of tiny partial rows).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import truncate_value

VIOLATION_COLS = (
    "conv_id",
    "turn_idx",
    "path",
    "constraint_id",
    "offending_value",
    "reason",
)


@dataclass(frozen=True)
class ModelWindowTrees:
    """The window pass's constant Column trees: ``helpers`` (pass 1's
    window columns) and ``select`` (pass 2's scope key plus exploded
    violation structs)."""

    helpers: Tuple[Column, ...]
    select: Tuple[Column, ...]


@dataclass(frozen=True)
class OccursTrees:
    """The occurrence stage's constant Column trees: the scope key, one
    conditional count per bound (``_n_<i>``) and the bound check over
    those counts."""

    scope: str
    aggs: Tuple[Column, ...]
    bounds: Tuple[Column, ...]


def model_window_violations(
    df: DataFrame,
    checks: Sequence[object],
    table: str,
    scope: str,
    order: str,
    tiebreakers: Sequence[str] = (),
    fuse_occurs: bool = False,
) -> DataFrame | None:
    """All Contiguity / Monotone / FirstTurn / LastTurn / Transition checks in a
    single window pass (:func:`model_window_trees` + :func:`apply_model_window`,
    the pair ``validate`` runs with a compiled plan's trees)."""
    trees = model_window_trees(checks, table, scope, order, tiebreakers,
                               fuse_occurs)
    return None if trees is None else apply_model_window(df, trees)


def apply_model_window(df: DataFrame, trees: ModelWindowTrees) -> DataFrame:
    """Run a window pass: materialize the helpers, then explode violations."""
    return (
        df.select("*", *trees.helpers)
        .select(*trees.select)
        .select(
            "conv_id",
            F.col("_v.tix").alias("turn_idx"),
            "_v.path",
            "_v.constraint_id",
            "_v.offending_value",
            "_v.reason",
        )
    )


def model_window_trees(
    checks: Sequence[object],
    table: str,
    scope: str,
    order: str,
    tiebreakers: Sequence[str] = (),
    fuse_occurs: bool = False,
) -> Optional[ModelWindowTrees]:
    """Column trees of the window pass (None when ``checks`` has no window
    check).

    Window expressions cannot appear inside the higher-order
    ``explode(filter(array(...)))`` projection, so this runs as two selects over
    the SAME window partitioning: pass 1 materializes lag/row_number/count columns
    (one exchange + sort), pass 2 is a plain projection Catalyst fuses into it.

    ``fuse_occurs=True`` additionally evaluates every Occurs bound as a
    whole-partition window aggregate emitted on the group's first row, riding
    the same exchange+sort.  ``validate`` leaves it off and runs the bounds
    as their own groupBy instead (runner module docstring, stage C).
    """
    occurs = [c for c in checks if isinstance(c, S.Occurs)] if fuse_occurs else []
    if not occurs and all(isinstance(c, S.Occurs) for c in checks):
        return None
    w = Window.partitionBy(scope).orderBy(order, *tiebreakers)
    wp = Window.partitionBy(scope)

    lag_cols = {order}
    needs_first = bool(occurs)
    needs_last = False
    for chk in checks:
        if isinstance(chk, (S.Monotone, S.Transition)):
            lag_cols.add(chk.column)
        if isinstance(chk, S.FirstTurn):
            needs_first = True
        if isinstance(chk, S.LastTurn):
            needs_last = True

    # Every helper is an OFFSET function over the ONE ordered window spec:
    # first/last-row detection uses lag/lead of a literal (NULL exactly at
    # the partition edge, robust to NULL data values) instead of
    # row_number/count-over-partition — a whole-partition frame would force
    # a SECOND WindowExec pass (different window spec), measured +40% on the
    # window stage at 80M rows.
    helpers = [F.lag(F.col(c)).over(w).alias(f"_prev_{c}") for c in sorted(lag_cols)]
    if needs_first:
        helpers.append(F.lag(F.lit(1)).over(w).alias("_lag1"))
    if needs_last:
        helpers.append(F.lead(F.lit(1)).over(w).alias("_lead1"))
    for i, c in enumerate(occurs):
        helpers.append(
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).over(wp).alias(f"_occ_{i}")
        )

    prev_order = F.col(f"_prev_{order}")
    is_first = F.col("_lag1").isNull() if needs_first else None
    is_last = F.col("_lead1").isNull() if needs_last else None

    structs = []

    def emit(ok, cid: str, value, reason: str, tix=None) -> None:
        structs.append(
            F.when(
                ~ok,
                F.struct(
                    F.lit(f"{table}").alias("path"),
                    F.lit(cid).alias("constraint_id"),
                    truncate_value(value).alias("offending_value"),
                    F.lit(reason).alias("reason"),
                    (
                        tix if tix is not None
                        else F.col(order).try_cast("long")
                    ).alias("tix"),
                ),
            )
        )

    for chk in checks:
        if isinstance(chk, S.Contiguity):
            # position automaton: expected index = prev+1, first index = 0
            # (models.py:267-366; error index exceptions.py:471-498)
            ok = F.when(prev_order.isNull(), F.col(order) == 0).otherwise(
                F.col(order) == prev_order + 1
            )
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                "turn index breaks the 0..n-1 sequence (gap, duplicate or bad "
                "start)",
            )
        elif isinstance(chk, S.Monotone):
            prev_val = F.col(f"_prev_{chk.column}")
            cmp = (
                F.col(chk.column) > prev_val
                if chk.strict
                else F.col(chk.column) >= prev_val
            )
            ok = prev_val.isNull() | cmp
            emit(
                ok,
                f"model:{chk.name}",
                F.col(chk.column),
                f"column '{chk.column}' must be "
                f"{'strictly increasing' if chk.strict else 'non-decreasing'} "
                f"in turn order",
            )
        elif isinstance(chk, S.FirstTurn):
            ok = ~is_first | F.expr(chk.where)
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                f"first turn must satisfy: {chk.where}",
            )
        elif isinstance(chk, S.LastTurn):
            ok = ~is_last | F.expr(chk.where)
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                f"last turn must satisfy: {chk.where}",
            )
        elif isinstance(chk, S.Transition):
            prev_val = F.col(f"_prev_{chk.column}")
            ok = F.lit(True)
            # closed transitions for listed prev values; unlisted prev values are
            # open content (InterleavedModelVisitor, models.py:737-817)
            for prev, nexts in chk.allowed.items():
                ok = ok & (
                    (prev_val != F.lit(prev))
                    | prev_val.isNull()
                    | F.col(chk.column).isin(list(nexts))
                )
            if chk.start is not None:
                ok = ok & (
                    prev_val.isNotNull() | F.col(chk.column).isin(list(chk.start))
                )
            emit(
                ok,
                f"model:{chk.name}",
                F.col(chk.column),
                f"illegal transition on '{chk.column}'",
            )
        elif isinstance(chk, S.Occurs):
            continue  # fused below (or handled by occurs_violations)
        else:
            raise ValueError(f"unknown model check {chk!r}")

    for i, c in enumerate(occurs):
        n = F.col(f"_occ_{i}")
        ok = n >= c.min_occurs
        if c.max_occurs is not None:
            ok = ok & (n <= c.max_occurs)
        bound = (
            f"[{c.min_occurs}, "
            f"{'unbounded' if c.max_occurs is None else c.max_occurs}]"
        )
        # emit once per scope group (on its first row); turn_idx stays NULL
        # to match the standalone groupBy formulation's output
        emit(
            ~is_first | ok,
            f"occurs:{c.name}",
            n,
            f"occurrences of rows where ({c.where}) must be in {bound}",
            tix=F.lit(None).cast("long"),
        )

    if not structs:
        return None

    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return ModelWindowTrees(
        helpers=tuple(helpers),
        select=(
            F.col(scope).cast("string").alias("conv_id"),
            F.explode(arr).alias("_v"),
        ),
    )


def occurs_violations(
    df: DataFrame,
    checks: Sequence[S.Occurs],
    table: str,
    scope: str,
    salt: int = 0,
) -> DataFrame | None:
    """All min/maxOccurs bounds in one groupBy(scope) with conditional sums.

    particles.py:109-126 semantics: count of rows matching the particle predicate
    per scope group, compared to [min_occurs, max_occurs].  Catalyst's partial
    (map-side) aggregation already gives a two-phase shape; ``salt > 0``
    additionally spreads each scope group over ``salt`` reducers explicitly
    (groupBy(salt_key, scope) partials re-aggregated by scope) — the
    north-rule key-salting lever for a pathologically hot conv_id whose
    *reduce-side* partial row would otherwise pair with millions of map
    partials on one reducer.  Results are bit-identical with or without salt.
    """
    trees = occurs_trees(checks, table, scope)
    return None if trees is None else apply_occurs(df, trees, salt)


def occurs_trees(
    checks: Sequence[object], table: str, scope: str
) -> Optional[OccursTrees]:
    """Column trees of the occurrence stage (None without Occurs checks)."""
    occurs = [c for c in checks if isinstance(c, S.Occurs)]
    if not occurs:
        return None
    return OccursTrees(
        scope=scope,
        aggs=tuple(
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).alias(f"_n_{i}")
            for i, c in enumerate(occurs)
        ),
        bounds=_bound_select(occurs, table, scope),
    )


def apply_occurs(df: DataFrame, trees: OccursTrees, salt: int = 0) -> DataFrame:
    """Count per scope group and check the bounds (``salt``: see
    :func:`occurs_violations`)."""
    scope = trees.scope
    if salt > 0:
        salt_key = F.pmod(
            F.xxhash64(F.col(scope), F.monotonically_increasing_id()),
            F.lit(salt),
        ).alias("_salt")
        partial = df.groupBy(salt_key, F.col(scope)).agg(*trees.aggs)
        counts = partial.groupBy(scope).agg(
            *[F.sum(f"_n_{i}").alias(f"_n_{i}") for i in range(len(trees.aggs))]
        )
    else:
        counts = df.groupBy(scope).agg(*trees.aggs)
    return _explode_bounds(counts, trees.bounds)


def occurs_violations_from_counts(
    counts: DataFrame,
    occurs: Sequence[S.Occurs],
    table: str,
    scope: str,
) -> DataFrame:
    """Bounds check + violation rows over pre-aggregated per-scope counts
    (``scope`` + one ``_n_<i>`` column per constraint, in ``occurs`` order).

    Split out so the incremental runner can MERGE per-batch partial counts
    (a sum — conditional counts are distributive) and reuse the exact same
    reporting: the cross-batch analogue of the reference's identity-counter
    merge applied to particle occurrence bounds (particles.py:109-126 +
    schemas.py:1386-1389)."""
    return _explode_bounds(counts, _bound_select(occurs, table, scope))


def _bound_select(
    occurs: Sequence[S.Occurs], table: str, scope: str
) -> Tuple[Column, ...]:
    """Select list over per-scope counts: the scope key, a NULL turn and
    the exploded struct of every violated bound."""
    structs = []
    for i, c in enumerate(occurs):
        n = F.col(f"_n_{i}")
        ok = n >= c.min_occurs
        if c.max_occurs is not None:
            ok = ok & (n <= c.max_occurs)
        bound = (
            f"[{c.min_occurs}, "
            f"{'unbounded' if c.max_occurs is None else c.max_occurs}]"
        )
        structs.append(
            F.when(
                ~ok,
                F.struct(
                    F.lit(table).alias("path"),
                    F.lit(f"occurs:{c.name}").alias("constraint_id"),
                    n.cast("string").alias("offending_value"),
                    F.lit(
                        f"occurrences of rows where ({c.where}) must be in {bound}"
                    ).alias("reason"),
                ),
            )
        )
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return (
        F.col(scope).cast("string").alias("conv_id"),
        F.lit(None).cast("long").alias("turn_idx"),
        F.explode(arr).alias("_v"),
    )


def _explode_bounds(counts: DataFrame, bounds: Tuple[Column, ...]) -> DataFrame:
    return counts.select(*bounds).select(
        "conv_id",
        "turn_idx",
        "_v.path",
        "_v.constraint_id",
        "_v.offending_value",
        "_v.reason",
    )
