"""Spec → compiled plan lowering (the ``XsdGlobals.build()`` analogue).

The reference compiles an XSD once into a component graph with bound validator
closures under a build lock (xmlschema/validators/xsd_globals.py:537-578).  Here the
"build" happens once on the driver: every facet becomes a Column expression; every
identity / model check becomes a DataFrame-transform closure.  Nothing is interpreted
per row at execution time — Catalyst compiles the Column predicates into whole-stage
codegen, which is the engine's equivalent of the reference's validator-closure
specialization (facets bind ``validate`` at parse time, facets.py:129-140).

**Compile once, apply many.**  A :class:`CompiledPlan` also builds, when it is
created, every stage's constant Column trees — the row-local masks, select
list and violation array; the window helpers and violation array; the
occurrence aggregates and bound structs; the unique/key counting predicates
and select lists — and keeps them.  ``validate(df, plan)`` only applies them to
``df``, so a plan compiled once serves any number of DataFrames (documents,
partitions, micro-batches) without rebuilding a Column tree.  The trees name
columns (``F.col``), never a DataFrame's attributes, which is what makes them
reusable across inputs.  Callers that validate many inputs against one spec
pass the plan, not the spec (``CompiledXsd.plan`` does this per table).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as Fn

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import (
    facet_id,
    lower_facet,
    truncate_value,
)
from sissaschool_xmlschema_spark.operators.identity import (
    key_missing_trees,
    unique_trees,
)
from sissaschool_xmlschema_spark.operators.sequence import (
    ModelWindowTrees,
    OccursTrees,
    model_window_trees,
    occurs_trees,
)


@dataclass
class RowCheck:
    """A compiled row-local check: one Column predicate + violation metadata.

    ``value_col`` names the column shown as offending_value (None → NULL,
    e.g. for whole-row assertions)."""

    constraint_id: str
    path: str
    column: str
    ok: Column
    reason: str
    value_col: str = None


@dataclass(frozen=True)
class RowLocalTrees:
    """Stage A's constant Column trees (applied by
    ``runner.row_local_violations``): ``head`` selects the keys, one 63-bit
    violation mask per chunk of checks and the offending-value columns;
    ``any_flag`` keeps rows with a set bit; ``explode`` turns a flagged
    row's bits into violation structs."""

    head: Tuple[Column, ...]
    any_flag: Column
    explode: Column


@dataclass
class CompiledPlan:
    spec: S.TableSpec
    row_checks: List[RowCheck] = field(default_factory=list)
    identities: Tuple[object, ...] = ()
    model: Tuple[object, ...] = ()
    # constant Column trees per stage, built once with the plan (module
    # docstring); None where the spec has no check of that kind
    row_local: Optional[RowLocalTrees] = field(init=False, repr=False)
    model_window: Optional[ModelWindowTrees] = field(init=False, repr=False)
    occurs: Optional[OccursTrees] = field(init=False, repr=False)
    # parallel to ``identities``: (UniqueTrees, KeyMissingTrees) for a key,
    # (UniqueTrees,) for a unique, () for a keyref (its join side varies)
    identity_trees: Tuple[Tuple[object, ...], ...] = field(
        init=False, repr=False
    )

    def __post_init__(self) -> None:
        spec = self.spec
        self.row_local = row_local_trees(spec, self.row_checks)
        self.model_window = model_window_trees(
            self.model, spec.name, spec.scope_col, spec.order_col,
            tuple(spec.tiebreakers),
        )
        self.occurs = occurs_trees(self.model, spec.name, spec.scope_col)
        self.identity_trees = tuple(
            _identity_trees(c, spec) for c in self.identities
        )

    @property
    def check_ids(self) -> List[str]:
        ids = [c.constraint_id for c in self.row_checks]
        for c in self.identities:
            kind = type(c).__name__.lower()
            ids.append(f"{kind}:{c.name}")
        for c in self.model:
            prefix = "occurs" if isinstance(c, S.Occurs) else "model"
            ids.append(f"{prefix}:{getattr(c, 'name', type(c).__name__)}")
        return ids


def compile_plan(spec: S.TableSpec) -> CompiledPlan:
    """Lower a TableSpec. ``mode='skip'`` checks are dropped at compile time —
    the skip-mode short-circuit (simple_types.py:710-714) costs nothing at run
    time because the predicate is never emitted."""
    row_checks: List[RowCheck] = []

    def emit(col, facet, gate: Column = None, tag: str = "") -> None:
        if facet.mode == "skip":
            return
        ok, reason = lower_facet(facet, col.name)
        if getattr(col, "when", None):
            # xsi:type-style conditional column: facets apply only where
            # the discriminator predicate holds (elements.py:657-682)
            ok = ~Fn.expr(col.when) | ok
            reason = f"{reason} (where {col.when})"
        if gate is not None:
            ok = ~gate | ok
        cid = facet_id(facet, col.name) + tag
        row_checks.append(
            RowCheck(
                constraint_id=cid,
                path=f"{spec.name}/{col.name}",
                column=col.name,
                ok=ok,
                reason=reason,
                value_col=col.name,
            )
        )

    def test_col(test: str) -> Column:
        # NULL test results select nothing, like an XPath test that raises
        return Fn.coalesce(Fn.expr(test), Fn.lit(False))

    for col in spec.columns:
        alts = tuple(getattr(col, "alternatives", ()) or ())
        if not alts:
            for facet in col.facets:
                emit(col, facet)
            continue
        # XSD 1.1 conditional type assignment (get_alternative_type,
        # elements.py:1338-1361): FIRST arm whose test matches selects that
        # arm's facets; test=None always matches; the column's own facets
        # are the declared default type.  Lowered to first-match-wins gates
        # fused into the same single row-local pass.
        not_earlier = Fn.lit(True)
        for i, alt in enumerate(alts):
            matches = (
                Fn.lit(True) if alt.test is None else test_col(alt.test)
            )
            gate = not_earlier & matches
            arm = alt.name or f"alt{i}"
            for facet in alt.facets:
                emit(col, facet, gate=gate, tag=f"@{arm}")
            not_earlier = not_earlier & ~matches
        for facet in col.facets:
            emit(col, facet, gate=not_earlier, tag="@default")
    for ra in getattr(spec, "row_assertions", ()):
        # extra_validator analogue (validation.py:494-498) as a whole-row
        # SQL predicate, fused into the same single projection pass
        row_checks.append(
            RowCheck(
                constraint_id=f"assert:{ra.name}",
                path=spec.name,
                column=spec.order_col,
                ok=Fn.expr(ra.expr),
                reason=ra.reason or f"row assertion failed: {ra.expr}",
                value_col=None,
            )
        )
    return CompiledPlan(
        spec=spec,
        row_checks=row_checks,
        identities=tuple(spec.identities),
        model=tuple(spec.model),
    )


def _identity_trees(c, spec: S.TableSpec) -> Tuple[object, ...]:
    if isinstance(c, S.Key):
        return (
            unique_trees(c, spec.name, spec.order_col),
            key_missing_trees(c, spec.name, spec.order_col),
        )
    if isinstance(c, S.Unique):
        return (unique_trees(c, spec.name, spec.order_col),)
    if isinstance(c, S.Keyref):
        return ()
    raise ValueError(f"unknown identity constraint {c!r}")


def row_local_trees(
    spec: S.TableSpec, row_checks: List[RowCheck]
) -> Optional[RowLocalTrees]:
    """Stage A's Column trees for ``row_checks`` (None when there are none).

    Two-phase shape for allocation economy: phase 1 evaluates every predicate
    into one LONG bitmask — pure arithmetic, zero object allocation for the
    (overwhelmingly common) clean rows, so 32 scan threads don't fight the GC.
    Phase 2 builds the violation structs only for rows whose mask ≠ 0 (the
    explode's input array exists only on that ~1% subset).  A naive
    struct-array-per-row projection measured 2.5x SLOWER at high thread counts
    purely from allocation pressure.
    """
    if not row_checks:
        return None
    # one 63-bit mask column per chunk of checks (a LONG holds 63 usable bits;
    # wider specs just get a second mask in the same projection)
    chunks = [row_checks[i: i + 63] for i in range(0, len(row_checks), 63)]
    zero = Fn.lit(0).cast("long")
    one = Fn.lit(1).cast("long")
    masks = []
    for ci, chunk in enumerate(chunks):
        mask = zero
        for i, chk in enumerate(chunk):
            mask = mask + Fn.when(
                ~chk.ok, Fn.shiftleft(one, i)
            ).otherwise(zero)
        masks.append(mask.alias(f"_m{ci}"))

    any_flag = Fn.col("_m0") > 0
    for ci in range(1, len(chunks)):
        any_flag = any_flag | (Fn.col(f"_m{ci}") > 0)

    value_cols = sorted({chk.value_col for chk in row_checks if chk.value_col})
    head = (
        Fn.col(spec.scope_col).cast("string").alias("conv_id"),
        Fn.col(spec.order_col).try_cast("long").alias("turn_idx"),
        *masks,
        *[Fn.col(c).alias(f"_val_{c}") for c in value_cols],
    )

    structs = [
        Fn.when(
            Fn.shiftright(Fn.col(f"_m{ci}"), i).bitwiseAND(Fn.lit(1)) == 1,
            Fn.struct(
                Fn.lit(chk.path).alias("path"),
                Fn.lit(chk.constraint_id).alias("constraint_id"),
                truncate_value(
                    Fn.col(f"_val_{chk.value_col}")
                    if chk.value_col
                    else Fn.lit(None).cast("string")
                ).alias("offending_value"),
                Fn.lit(chk.reason).alias("reason"),
            ),
        )
        for ci, chunk in enumerate(chunks)
        for i, chk in enumerate(chunk)
    ]
    arr = Fn.filter(Fn.array(*structs), lambda x: x.isNotNull())
    return RowLocalTrees(
        head=head, any_flag=any_flag, explode=Fn.explode(arr).alias("_v")
    )
