"""Plan execution — the distributed ``iter_errors`` / ``validate`` analogue.

One logical job, four stages (SURVEY.md §3.2), all declared via the DataFrame API so
Catalyst fuses/pushes/prunes.  Each stage applies Column trees the
:class:`CompiledPlan` built once (plans/compiler.py); the standalone stage
functions (``model_window_violations``, ``occurs_violations``,
``unique_violations``, ...) build the same trees and run the same apply:

* **stage A** — every row-local facet check in ONE projection pass compiled to a
  violation *bitmask* (zero allocation on clean rows); violation structs are built
  and exploded only for flagged rows.  The scan reads only the columns the checks
  reference (column pruning) and whole-stage codegen evaluates all predicates in
  one pass.
* **stage B** — all ordered window/model checks in one window pass (one
  exchange+sort on the scope key; no exchange on a scope-bucketed layout).
* **stage C** — occurrence bounds in their own groupBy(scope) with conditional
  sums (PLANS.md §2b): a whole-partition window aggregate in stage B would
  need a second WindowExec, measured slower than this map-side-combined
  aggregate.
* **stage D** — identity constraints: unique/key groupBys and keyref anti-joins
  (broadcast where the spec says the key side is small).

Violations union into the canonical lax-mode error collection
(ValidationContext.errors, validation.py:216-236); ``strict`` raises on the first
violation like ``raise_or_collect``; verdict rollup mirrors the schema
``validity``/``validation_attempted`` attributes (schemas.py:851-876).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import (
    apply_key_missing,
    apply_unique,
    keyref_violations,
)
from sissaschool_xmlschema_spark.operators.sequence import (
    apply_model_window,
    apply_occurs,
)
from sissaschool_xmlschema_spark.plans.compiler import CompiledPlan, compile_plan

VIOLATION_SCHEMA = (
    "conv_id string, turn_idx bigint, path string, constraint_id string, "
    "offending_value string, reason string"
)


class SparkSchemaValidationError(Exception):
    """Strict-mode error — the XMLSchemaValidationError analogue
    (exceptions.py:316-339): carries path, constraint id, offending value, reason.
    """

    def __init__(self, row) -> None:
        self.path = row["path"]
        self.constraint_id = row["constraint_id"]
        self.offending_value = row["offending_value"]
        self.reason = row["reason"]
        super().__init__(
            f"failed validating {self.offending_value!r} against "
            f"{self.constraint_id} at {self.path}: {self.reason}"
        )


def row_local_violations(df: DataFrame, plan: CompiledPlan) -> Optional[DataFrame]:
    """Stage A: all facet checks in one projection (scan-fused, codegen'd),
    applying the plan's prebuilt bitmask trees (``compiler.row_local_trees``
    documents the two-phase shape)."""
    t = plan.row_local
    if t is None:
        return None
    return (
        df.select(*t.head)
        .filter(t.any_flag)
        .select("conv_id", "turn_idx", t.explode)
        .select(
            "conv_id",
            "turn_idx",
            "_v.path",
            "_v.constraint_id",
            "_v.offending_value",
            "_v.reason",
        )
    )


@dataclass
class ValidationResult:
    """Lax-mode result: the violations DataFrame plus rollups."""

    violations: DataFrame
    source: DataFrame
    spec: S.TableSpec

    def verdicts(self) -> DataFrame:
        """Per-scope pass/fail — the validity rollup (schemas.py:851-876).

        Left join of all scopes against the distinct violating scopes; a scope
        with any violation is 'invalid', else 'valid'.

        Scope-less (document-wide) violations carry a NULL conv_id and are by
        design NOT attributed to any scope here — they still fail
        :meth:`is_valid` and appear in :meth:`by_constraint`; use the
        violations frame directly for table-level verdicts.
        """
        scopes = self.source.select(
            F.col(self.spec.scope_col).cast("string").alias("conv_id")
        ).dropDuplicates()
        per_scope = self.violations.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        return scopes.join(per_scope, "conv_id", "left").select(
            "conv_id",
            F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
            F.when(F.coalesce(F.col("n_violations"), F.lit(0)) > 0, "invalid")
            .otherwise("valid")
            .alias("validity"),
        )

    def by_constraint(self) -> DataFrame:
        return self.violations.groupBy("constraint_id").agg(
            F.count(F.lit(1)).alias("n_violations")
        )

    def is_valid(self) -> bool:
        """``schema.is_valid`` analogue — True iff no violations exist."""
        return self.violations.isEmpty()


def pandas_check_violations(
    df: DataFrame, check: "S.PandasCheck", spec: S.TableSpec
) -> DataFrame:
    """Arrow-batched custom check (§2.10 extra_validator UDF escape hatch).

    ``check.fn(pdf) -> Series`` yields a reason string per violating row; the
    kernel only sees the columns the check declared (pruning the scan) plus the
    scope/order keys for the violation row.
    """
    need = {spec.scope_col, spec.order_col} | set(check.columns)
    sub = df.select(*sorted(need))
    cid = f"pandas:{check.name}"
    scope, order = spec.scope_col, spec.order_col
    fn = check.fn

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            reasons = fn(pdf)
            mask = reasons.notna()
            bad = pdf[mask]
            yield pd.DataFrame(
                {
                    "conv_id": bad[scope].astype(str),
                    "turn_idx": pd.to_numeric(
                        bad[order], errors="coerce"
                    ).astype("Int64"),
                    "path": cid.replace("pandas:", f"{spec.name}/"),
                    "constraint_id": cid,
                    "offending_value": None,
                    "reason": reasons[mask].astype(str),
                }
            )

    return sub.mapInPandas(kernel, VIOLATION_SCHEMA)


def group_check_violations(
    df: DataFrame, check: "S.GroupPandasCheck", spec: S.TableSpec
) -> DataFrame:
    """Per-conversation assert via applyInPandas (assertions.py:36-147).

    One shuffle on the scope key; each group arrives as a pandas frame sorted
    by order_col.  Oversized groups are truncated to ``max_group_rows`` with a
    dedicated guard violation instead of OOMing the executor.
    """
    need = {spec.scope_col, spec.order_col} | set(check.columns)
    sub = df.select(*sorted(need))
    cid = f"group:{check.name}"
    scope, order = spec.scope_col, spec.order_col
    fn, cap = check.fn, check.max_group_rows
    path = f"{spec.name}/{check.name}"

    def kernel(pdf):
        import pandas as pd

        rows = []
        conv = str(pdf[scope].iloc[0])
        if len(pdf) > cap:
            rows.append(
                {
                    "conv_id": conv,
                    "turn_idx": None,
                    "path": path,
                    "constraint_id": cid + ":group-size-guard",
                    "offending_value": str(len(pdf)),
                    "reason": f"group exceeds max_group_rows={cap}",
                }
            )
            pdf = pdf.iloc[:cap]
        for reason in fn(pdf.sort_values(order)):
            rows.append(
                {
                    "conv_id": conv,
                    "turn_idx": None,
                    "path": path,
                    "constraint_id": cid,
                    "offending_value": None,
                    "reason": str(reason),
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "path", "constraint_id",
                "offending_value", "reason",
            ],
        )

    return sub.groupBy(scope).applyInPandas(kernel, VIOLATION_SCHEMA)


def _union(parts: List[Optional[DataFrame]]) -> Optional[DataFrame]:
    dfs = [d for d in parts if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


def validate(
    df: DataFrame,
    spec_or_plan: S.TableSpec | CompiledPlan,
    mode: Optional[str] = None,
    cache_input: bool = False,
) -> ValidationResult:
    """Run the full constraint suite; the ``schema.validate`` analogue.

    ``mode='lax'`` (default) collects all violations; ``'strict'`` raises a
    :class:`SparkSchemaValidationError` on the first one (raise_or_collect,
    validation.py:216-236).

    ``cache_input=True`` persists ``df`` before fanning out the check
    branches — worthwhile when the input is itself a derived view (each union
    branch would otherwise recompute the derivation); leave False when the
    input is a plain table scan (columnar re-scans are cheaper than a cache
    at 100 TB).
    """
    if cache_input:
        df = df.persist()
    plan = (
        spec_or_plan
        if isinstance(spec_or_plan, CompiledPlan)
        else compile_plan(spec_or_plan)
    )
    spec = plan.spec
    mode = mode or spec.mode

    guard_violations = None
    cap = getattr(spec, "max_scope_rows", None)
    window_input = df
    if cap:
        # MAX_XML_ELEMENTS-style guard (limits.py:58-67): oversized scope
        # groups are excluded from the ordered window pass (one sort task per
        # group) and reported; counts come from one groupBy that the bucketed
        # layout runs shuffle-free
        sizes = df.groupBy(spec.scope_col).agg(
            F.count(F.lit(1)).alias("_n_rows")
        )
        oversized = sizes.filter(F.col("_n_rows") > cap)
        guard_violations = oversized.select(
            F.col(spec.scope_col).cast("string").alias("conv_id"),
            F.lit(None).cast("long").alias("turn_idx"),
            F.lit(spec.name).alias("path"),
            F.lit("limit:max-scope-rows").alias("constraint_id"),
            F.col("_n_rows").cast("string").alias("offending_value"),
            F.lit(
                f"scope group exceeds max_scope_rows={cap}; ordered model "
                "checks skipped for this group"
            ).alias("reason"),
        )
        keep = oversized.select(F.col(spec.scope_col).alias("_big_scope"))
        window_input = df.join(
            F.broadcast(keep),
            df[spec.scope_col] == F.col("_big_scope"),
            "left_anti",
        )

    parts: List[Optional[DataFrame]] = [row_local_violations(df, plan)]
    if guard_violations is not None:
        parts.append(guard_violations)
    # Occurs bounds run as their own groupBy rather than riding the window
    # pass: a whole-partition window frame needs a SECOND WindowExec
    # (different window spec → +40% on the window stage, measured at 80M
    # rows), while the standalone groupBy is exchange-free on a
    # scope-bucketed layout and one map-side-combined shuffle of tiny
    # partials otherwise.  This also keeps occurrence bounds (a groupBy
    # check) over the FULL input when the scope-size guard excludes
    # oversized groups from the ordered pass.
    if plan.model_window is not None:
        parts.append(apply_model_window(window_input, plan.model_window))
    if plan.occurs is not None:
        parts.append(apply_occurs(df, plan.occurs))
    for c, trees in zip(plan.identities, plan.identity_trees):
        if isinstance(c, S.Keyref):
            parts.append(keyref_violations(df, c, spec.name))
            continue
        parts.append(apply_unique(df, trees[0]))
        if isinstance(c, S.Key):
            parts.append(apply_key_missing(df, trees[1]))
    for pc in getattr(spec, "pandas_checks", ()):
        parts.append(pandas_check_violations(df, pc, spec))
    for gc in getattr(spec, "group_checks", ()):
        parts.append(group_check_violations(df, gc, spec))

    violations = _union(parts)
    if violations is None:
        violations = df.sparkSession.createDataFrame([], VIOLATION_SCHEMA)

    if mode == "strict":
        first = violations.take(1)
        if first:
            raise SparkSchemaValidationError(first[0].asDict())

    return ValidationResult(violations=violations, source=df, spec=spec)
