"""The two workloads, the nightly job traced runs add, and the metrics.

Every workload is driven the same way by ``run.py``: ``prepare`` (inputs,
not part of set-up), ``setup_once`` repeated ``SETUP_REPS`` times,
``warm_up``, then ``op`` in a closed loop for ``--seconds``, then
``final_checks``.  Each operation follows one run of the reference
job.  An operation that raises or fails a check counts as
failed.  Layers are timed from outside, around calls into the engine's
public functions.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import nullcontext
from functools import reduce
from typing import List, Tuple

import gen
from report import Metrics, median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
XSD = os.path.join(HERE, "transcript.xsd")

N_TURNS = 250_000
N_BUCKETS = 8
NIGHTLY_PARTS = 2
NIGHTLY_JOBS = 2
# the drift baseline is half of the conversations, so PSI/KS are non-zero
BASELINE_FILTER = "pmod(hash(conv_id), 2) = 0"

# Operation times are in reference units: the median wall time of an
# operation over the median wall time of the reference job (below) in the
# same run.  The host's speed drifts by a fifth and more between runs and
# the two move together, so their ratio holds still where seconds do not.
END_TO_END = (
    ("setup_s", "s"),
    ("turns_per_ref", "turns/ref"),
    ("op_ref_p50", "ref"),
    ("peak_rss_mb", "MB"),
)
# the same on the wall clock, printed but not in the result line
WALL = (
    ("turns_per_s", "turns/s"),
    ("op_s_p50", "s"),
    ("ops_per_s", "1/s"),
    ("ref_s_p50", "s"),
)

STAGES = ("row_local", "model_window", "occurs", "unique", "key_missing",
          "keyref")
PER_LAYER = (
    *[(f"runner.{s}_s", "s") for s in STAGES],
    *[(f"runner.{s}.{k}", "count") for s in STAGES for k in ("rows", "tasks")],
    ("runner.suite_s", "s"),
    ("runner.stage_gap_s", "s"),
    ("runner.suite_jobs", "count"),
    ("runner.suite_tasks", "count"),
    ("tables.write_layout_s", "s"),
    ("compiler.compile_plan_s", "s"),
    ("checkpoint.run_s", "s"),
    ("checkpoint.jobs", "count"),
    ("checkpoint.tasks", "count"),
    ("checkpoint.jobs_per_partition", "count"),
    ("checkpoint.partition_s_p50", "s"),
    ("checkpoint.partition_s_max", "s"),
    ("checkpoint.sink_bytes", "bytes"),
    ("checkpoint.resume_s", "s"),
    ("checkpoint.resume_jobs", "count"),
    ("stats.column_stats_s", "s"),
    ("stats.jobs", "count"),
    ("drift.vs_snapshot_s", "s"),
    ("drift.jobs", "count"),
    ("drift.save_baseline_s", "s"),
    ("xsd_compile.compile_xsd_s", "s"),
    ("xml_instance.tables_s_p50", "s"),
    ("xml_instance.validate_s_p50", "s"),
    ("xml_instance.doc_s_p90", "s"),
    ("xml_instance.jobs_per_doc", "count"),
    ("xml_instance.tasks_per_doc", "count"),
    ("spark.failed_tasks", "count"),
    ("failed_frac", "ratio"),
    ("tracing.overhead_frac", "ratio"),
)


class CheckFailed(Exception):
    """An engine output disagreed with the expected one."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _union(parts):
    return reduce(lambda a, b: a.unionByName(b), parts)


class Reference:
    """A fixed Spark job that calls nothing of the engine: a hash
    aggregation over generated rows, in a session of its own so that SQL
    settings made by the engine do not reach it.  It runs in the same JVM
    just before each operation, and its median time is the unit
    operations are reported in.  It is sized so that computing, not job
    overhead, dominates it: a job a tenth its size tracked the suite's
    slowdowns less than half as well."""

    ROWS = 16_000_000
    KEYS = 9973
    WARM = 6

    def __init__(self, spark) -> None:
        self.session = spark.newSession()
        self.walls: List[float] = []

    def run(self) -> None:
        t = time.perf_counter()
        n = (self.session.range(0, self.ROWS, numPartitions=8)
             .selectExpr(f"id % {self.KEYS} AS k", "hash(id, id * 7) AS h",
                         "xxhash64(id) AS x")
             .groupBy("k").agg({"h": "sum", "x": "max"}).count())
        self.walls.append(time.perf_counter() - t)
        expect(n == self.KEYS, f"reference job: {n} groups, not {self.KEYS}")

    def warm_up(self) -> None:
        for _ in range(self.WARM):
            self.run()
        self.walls.clear()


class Workload:
    name = ""
    WARM_OPS = 1
    MIN_OPS = 1  # timed operations, however long they take

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.plain_walls: List[float] = []   # untraced operation walls
        self.traced_walls: List[float] = []  # same work, traced
        self.prep_s = 0.0
        self.tracing = False  # run.py sets it for set-up and traced ops
        self.recording = True  # False while warming up

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else nullcontext()

    def layer_times(self, name: str) -> List[float]:
        return [self.tracer.self_time(s) for s in self.tracer.named(name)]

    def layer_median(self, name: str) -> float:
        xs = self.layer_times(name)
        return median(xs) if xs else 0.0

    def layer_count(self, name: str, field: str) -> float:
        xs = [getattr(s, field) for s in self.tracer.named(name)]
        return median(xs) if xs else 0

    def warm_up(self) -> None:
        """Operations run after set-up and before timing: checked, but
        neither traced nor recorded."""
        tracing, self.tracing, self.recording = self.tracing, False, False
        try:
            for _ in range(self.WARM_OPS):
                self.ctx.reference.run()
                _, bad = self.op(False)
                expect(bad == 0, "a warm-up operation failed")
        finally:
            self.tracing, self.recording = tracing, True
            self.ctx.reference.walls.clear()

    def final_checks(self) -> List[Tuple[str, bool]]:
        return []

    def common_layers(self, m: Metrics) -> None:
        m.put("compiler.compile_plan_s",
              self.layer_median("compiler.compile_plan"), "s",
              self.layer_times("compiler.compile_plan"))
        m.put("spark.failed_tasks",
              sum(s.failed_tasks for s in self.tracer.spans), "count")
        if self.traced_walls and self.plain_walls:
            m.put("tracing.overhead_frac",
                  median(self.traced_walls) / median(self.plain_walls) - 1,
                  "ratio")

    def op_metrics(self, m: Metrics, walls: List[float], turns_per_s: float,
                   ops: int, loop_s: float) -> None:
        """End-to-end metrics from operation ``walls`` and the turn rate,
        in reference units and, for the record, in seconds."""
        refs = self.ctx.reference.walls
        ref = median(refs)
        m.put("op_ref_p50", median(walls) / ref, "ref")
        m.put("turns_per_ref", turns_per_s * ref, "turns/ref")
        m.put("op_s_p50", median(walls), "s", walls)
        m.put("turns_per_s", turns_per_s, "turns/s")
        m.put("ops_per_s", ops / loop_s, "1/s")
        m.put("ref_s_p50", ref, "s", refs)


# ---------------------------------------------------------------------------
# transcripts: shared by suite_bucketed and the nightly job
# ---------------------------------------------------------------------------


class _Transcripts(Workload):
    def prepare(self) -> None:
        self.inputs, self.prep_s = timed(lambda: gen.generate(
            self.ctx.cache_dir, "transcripts", self.ctx.seed, N_TURNS))
        self.ledger = self.inputs.ledger
        self.turns = self.ledger["turns"]

    def compile(self):
        from sissaschool_xmlschema_spark.plans.compiler import compile_plan
        from sissaschool_xmlschema_spark.spec import transcript_spec

        self.spec = transcript_spec()
        with self.span("compiler.compile_plan"):
            self.plan = compile_plan(self.spec)

    def suite_count(self, df) -> int:
        from sissaschool_xmlschema_spark import validate

        return validate(df, self.plan).violations.count()

    def by_constraint(self, df) -> dict:
        from sissaschool_xmlschema_spark import validate

        rows = validate(df, self.plan).by_constraint().collect()
        return {r["constraint_id"]: r["n_violations"] for r in rows}


class SuiteBucketed(_Transcripts):
    """The full suite, warm, on the bucketed and sorted production layout."""

    name = "suite_bucketed"
    TABLE = "transcripts_bucketed"
    # the warm suite keeps speeding up for ~10 runs after JVM start
    WARM_OPS = 5

    def prepare(self) -> None:
        from sissaschool_xmlschema_spark.sources.tables import (
            write_production_layout,
        )

        super().prepare()
        plain = self.spark.read.parquet(self.inputs.path("plain"))
        _, self.layout_s = timed(lambda: write_production_layout(
            plain, self.TABLE, n_buckets=N_BUCKETS))
        self.stage_rows = {}
        self.nightly = None

    def setup_once(self) -> None:
        self.df = self.spark.table(self.TABLE)
        self.compile()

    def warm_up(self) -> None:
        expect(self.by_constraint(self.df) == self.ledger["by_constraint"],
               "suite counts per constraint != ledger")
        super().warm_up()

    def final_checks(self):
        """A small fixed slice against the independent pandas oracle; in a
        traced run, also the nightly job's checks."""
        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        from pandas_oracle import count_violations

        sl = self.spark.read.parquet(self.inputs.path("slice"))
        got = self.by_constraint(sl)
        want = count_violations(sl.toPandas(), self.spec)
        checks = [
            ("slice by_constraint == pandas oracle",
             got == {k: v for k, v in want.items() if v}),
            ("slice by_constraint == ledger",
             got == self.ledger["slice"]["by_constraint"]),
        ]
        if self.tracing:
            checks.append(self.nightly_checks())
        return checks

    def nightly_checks(self) -> Tuple[str, bool]:
        """The checkpoint, stats and drift layers: the nightly job, traced,
        on the plain copy of the same rows, twice (so that repeats can be
        compared)."""
        self.nightly = NightlyJob(self.ctx)
        self.nightly.tracing = True
        try:
            self.nightly.prepare()
            self.nightly.setup_once()
            for _ in range(NIGHTLY_JOBS):
                self.nightly.run_job()
        except Exception as err:
            return f"nightly job: {type(err).__name__}: {err}", False
        return "nightly job", True

    def stage_calls(self):
        from sissaschool_xmlschema_spark import spec as S
        from sissaschool_xmlschema_spark.operators.identity import (
            key_missing_field_violations, keyref_violations, unique_violations)
        from sissaschool_xmlschema_spark.operators.sequence import (
            model_window_violations, occurs_violations)
        from sissaschool_xmlschema_spark.plans.runner import (
            row_local_violations)

        df, plan, spec = self.df, self.plan, self.plan.spec
        keys = [c for c in plan.identities if isinstance(c, S.Key)]
        uniques = [c for c in plan.identities
                   if isinstance(c, S.Unique) and not isinstance(c, S.Key)]
        refs = [c for c in plan.identities if isinstance(c, S.Keyref)]
        return {
            "row_local": lambda: row_local_violations(df, plan),
            "model_window": lambda: model_window_violations(
                df, plan.model, spec.name, spec.scope_col, spec.order_col,
                tuple(spec.tiebreakers), fuse_occurs=False),
            "occurs": lambda: occurs_violations(
                df, plan.model, spec.name, spec.scope_col),
            "unique": lambda: _union([
                unique_violations(df, c, spec.name, spec.order_col)
                for c in keys + uniques]),
            "key_missing": lambda: _union([
                key_missing_field_violations(df, c, spec.name, spec.order_col)
                for c in keys]),
            "keyref": lambda: _union([
                keyref_violations(df, c, spec.name) for c in refs]),
        }

    def op(self, traced: bool) -> Tuple[int, int]:
        t = time.perf_counter()
        with self.span("runner.suite"):
            n = self.suite_count(self.df)
        if self.recording:
            (self.traced_walls if traced else self.plain_walls).append(
                time.perf_counter() - t)
        expect(n == self.ledger["violations"],
               f"suite total {n} != ledger {self.ledger['violations']}")
        if traced:
            for stage, call in self.stage_calls().items():
                with self.span(f"runner.{stage}"):
                    self.stage_rows[stage] = call().count()
            got = sum(self.stage_rows.values())
            expect(got == n, f"stage rows {got} != suite total {n}")
        return 1, 0

    def metrics(self, m: Metrics, ops: int, loop_s: float) -> None:
        walls = self.plain_walls
        self.op_metrics(m, walls, self.turns / median(walls), ops, loop_s)
        stage_sum = 0.0
        for stage in STAGES:
            v = self.layer_median(f"runner.{stage}")
            stage_sum += v
            m.put(f"runner.{stage}_s", v, "s",
                  self.layer_times(f"runner.{stage}"))
            m.put(f"runner.{stage}.rows", self.stage_rows.get(stage, 0),
                  "count")
            m.put(f"runner.{stage}.tasks",
                  self.layer_count(f"runner.{stage}", "tasks"), "count")
        suite = self.layer_median("runner.suite")
        m.put("runner.suite_s", suite, "s", self.layer_times("runner.suite"))
        m.put("runner.stage_gap_s", suite - stage_sum if suite else 0.0, "s")
        m.put("runner.suite_jobs", self.layer_count("runner.suite", "jobs"),
              "count")
        m.put("runner.suite_tasks",
              self.layer_count("runner.suite", "tasks"), "count")
        m.put("tables.write_layout_s", self.layout_s, "s")
        if self.nightly is not None:
            self.nightly.layer_metrics(m)


class NightlyJob(_Transcripts):
    """One nightly job on plain parquet: checkpointed suite with a violation
    sink and manifest, a resume pass, column stats and drift.  Not a
    workload of its own: traced runs of suite_bucketed run it for the
    layers it alone reaches."""

    def prepare(self) -> None:
        super().prepare()
        self.path = self.inputs.path("plain")
        self.baseline = os.path.join(self.ctx.run_dir, "baseline")
        self.stats0 = self.drift0 = None
        self.partition_walls: List[float] = []
        self.sink_bytes: List[int] = []
        self.n_job = 0

    def setup_once(self) -> None:
        from sissaschool_xmlschema_spark.operators.drift import save_baseline

        self.df = self.spark.read.parquet(self.path)
        self.compile()
        with self.span("drift.save_baseline"):
            save_baseline(self.df.filter(BASELINE_FILTER), "ts", self.baseline,
                          lineage=self.path)

    def run_job(self) -> None:
        """One traced nightly job, checked."""
        from sissaschool_xmlschema_spark.operators.drift import (
            drift_report_vs_snapshot)
        from sissaschool_xmlschema_spark.operators.stats import column_stats
        from sissaschool_xmlschema_spark.plans.checkpoint import (
            run_checkpointed)

        self.n_job += 1
        ck = os.path.join(self.ctx.run_dir, f"ck{self.n_job}")
        out = os.path.join(ck, "violations")
        expr = f"pmod(hash(conv_id), {NIGHTLY_PARTS})"

        def checkpointed():
            return run_checkpointed(self.df, self.spec, expr, ck, out,
                                    resume=True, input_lineage=self.path)

        with self.span("checkpoint.run"):
            first = checkpointed()
        with self.span("checkpoint.resume"):
            again = checkpointed()
        with self.span("stats.column_stats"):
            stats = column_stats(
                self.df, numeric_cols=["turn_idx"],
                string_cols=["conv_id", "role", "text", "tool"],
            ).collect()[0].asDict()
        with self.span("drift.vs_snapshot"):
            drift = drift_report_vs_snapshot(self.df, self.baseline) \
                .collect()[0].asDict()
        sink = _du(out)
        shutil.rmtree(ck, ignore_errors=True)

        want = self.ledger["violations"]
        expect(len(first) == NIGHTLY_PARTS and not any(r.skipped for r in first),
               "checkpointed run did not validate every partition")
        expect(sum(r.n_violations for r in first) == want,
               "partition violations do not add up to the ledger")
        expect(sum(r.n_rows for r in first) == self.turns,
               "partition rows do not add up to the input")
        expect(all(r.skipped for r in again), "resume re-ran a partition")
        expect(sum(r.n_violations for r in again) == want
               and sum(r.n_rows for r in again) == self.turns,
               "resume did not reproduce the totals")
        expect(stats["n_rows"] == self.turns, "column_stats row count")
        expect(stats["turn_idx_nulls"] == self.ledger["planted"].get(
            "key_missing", 0), "column_stats turn_idx nulls")
        self.stats0 = self.stats0 or stats
        expect(stats == self.stats0, "column_stats differ between reps")
        self.drift0 = self.drift0 or drift
        expect(drift == self.drift0, "PSI/KS differ between reps")
        expect(drift["psi"] > 0 and drift["ks"] > 0,
               "drift against a half-table baseline is zero")
        self.partition_walls += [r.wall_s for r in first]
        self.sink_bytes.append(sink)

    def layer_metrics(self, m: Metrics) -> None:
        runs = self.tracer.named("checkpoint.run")
        m.put("checkpoint.run_s", self.layer_median("checkpoint.run"), "s",
              self.layer_times("checkpoint.run"))
        m.put("checkpoint.jobs", self.layer_count("checkpoint.run", "jobs"),
              "count")
        m.put("checkpoint.tasks", self.layer_count("checkpoint.run", "tasks"),
              "count")
        m.put("checkpoint.jobs_per_partition",
              self.layer_count("checkpoint.run", "jobs") / NIGHTLY_PARTS
              if runs else 0, "count")
        pw = self.partition_walls
        if pw:
            m.put("checkpoint.partition_s_p50", median(pw), "s", pw)
            m.put("checkpoint.partition_s_max", max(pw), "s")
            m.put("checkpoint.sink_bytes", median(self.sink_bytes), "bytes")
        m.put("checkpoint.resume_s", self.layer_median("checkpoint.resume"),
              "s", self.layer_times("checkpoint.resume"))
        m.put("checkpoint.resume_jobs",
              self.layer_count("checkpoint.resume", "jobs"), "count")
        m.put("stats.column_stats_s",
              self.layer_median("stats.column_stats"), "s",
              self.layer_times("stats.column_stats"))
        m.put("stats.jobs", self.layer_count("stats.column_stats", "jobs"),
              "count")
        m.put("drift.vs_snapshot_s", self.layer_median("drift.vs_snapshot"),
              "s", self.layer_times("drift.vs_snapshot"))
        m.put("drift.jobs", self.layer_count("drift.vs_snapshot", "jobs"),
              "count")
        m.put("drift.save_baseline_s",
              self.layer_median("drift.save_baseline"), "s",
              self.layer_times("drift.save_baseline"))


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# XML documents
# ---------------------------------------------------------------------------


class XmlDocuments(Workload):
    """The validate-xml loop: compile the XSD once, then validate each
    document with ``validate_xml_instance(...).collect()``."""

    name = "xml_documents"
    # timing starts at a batch boundary and takes in one whole batch
    WARM_OPS = MIN_OPS = gen.XML_BATCH

    def prepare(self) -> None:
        self.inputs, self.prep_s = timed(lambda: gen.generate(
            self.ctx.cache_dir, "xml", self.ctx.seed))
        self.ledger = self.inputs.ledger
        self.n_doc = 0
        self.turns: List[int] = []

    def doc(self, name: str) -> str:
        return self.inputs.path("docs", name)

    def setup_once(self) -> None:
        from sissaschool_xmlschema_spark.plans.compiler import compile_plan
        from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

        with self.span("xsd_compile.compile_xsd"):
            self.compiled = compile_xsd(XSD)
        with self.span("compiler.compile_plan"):
            for spec in self.compiled.specs.values():
                compile_plan(spec)

    def warm_up(self) -> None:
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            validate_xml_instance)

        rows = validate_xml_instance(
            self.spark, self.doc(self.ledger["warmup"]), self.compiled).collect()
        expect(not rows, "warm-up document is not valid")
        super().warm_up()

    def op(self, traced: bool) -> Tuple[int, int]:
        """One document of the validate-xml loop.  Documents come in batch
        order, three small ones and then one with thousands of turns; a
        traced operation repeats the untraced one before it."""
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            validate_xml_instance, xml_instance_tables)

        if not traced:
            self.n_doc += 1
        names = [n for batch in self.ledger["batches"] for n in batch]
        name = names[(self.n_doc - 1) % len(names)]
        path = self.doc(name)
        want = self.ledger["docs"][name]
        if traced:
            with self.span("xml_instance.tables"):
                for df in xml_instance_tables(
                        self.spark, path, self.compiled).values():
                    df.count()
        t = time.perf_counter()
        with self.span("xml_instance.validate"):
            rows = validate_xml_instance(
                self.spark, path, self.compiled).collect()
        wall = time.perf_counter() - t
        expect(len(rows) == want["errors"],
               f"{name}: {len(rows)} errors, ledger {want['errors']}")
        if self.recording:
            if traced:
                self.traced_walls.append(wall)
            else:
                self.plain_walls.append(wall)
                self.turns.append(want["turns"])
        return 1, 0

    def metrics(self, m: Metrics, ops: int, loop_s: float) -> None:
        walls = self.plain_walls
        # the turn rate over whole batches only, so that every run weighs
        # small and large documents alike
        whole = len(walls) // gen.XML_BATCH * gen.XML_BATCH or len(walls)
        self.op_metrics(m, walls,
                        sum(self.turns[:whole]) / sum(walls[:whole]),
                        ops, loop_s)
        m.put("xsd_compile.compile_xsd_s",
              self.layer_median("xsd_compile.compile_xsd"), "s",
              self.layer_times("xsd_compile.compile_xsd"))
        m.put("xml_instance.tables_s_p50",
              self.layer_median("xml_instance.tables"), "s",
              self.layer_times("xml_instance.tables"))
        v = self.layer_times("xml_instance.validate")
        m.put("xml_instance.validate_s_p50", median(v) if v else 0.0, "s", v)
        m.put("xml_instance.doc_s_p90", percentile(v, 90) if v else 0.0, "s")
        m.put("xml_instance.jobs_per_doc",
              self.layer_count("xml_instance.validate", "jobs"), "count")
        m.put("xml_instance.tasks_per_doc",
              self.layer_count("xml_instance.validate", "tasks"), "count")


WORKLOADS = {w.name: w for w in (SuiteBucketed, XmlDocuments)}
