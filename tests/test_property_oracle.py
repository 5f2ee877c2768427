"""Property-based cross-check: the distributed engine vs an independent
pandas re-implementation on hypothesis-generated corrupted tables (SURVEY §5:
oracle cross-check + property-based corruption testing)."""

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.runner import validate
from tests.pandas_oracle import count_violations

BASE_TS = dt.datetime(2024, 1, 1)

SPEC = S.TableSpec(
    name="transcripts",
    scope_col="conv_id",
    order_col="turn_idx",
    tiebreakers=("role", "text"),
    columns=(
        S.ColumnSpec(
            "role", (S.Enumeration(("system", "user", "assistant", "tool")),)
        ),
        S.ColumnSpec("text", (S.MinLength(1), S.MaxLength(40))),
        S.ColumnSpec(
            "tool",
            (S.Pattern(("tool-[0-9]{3}",)), S.Required(when="role = 'tool'")),
        ),
        S.ColumnSpec("turn_idx", (S.MinInclusive(0),)),
    ),
    identities=(
        S.Key("turn-key", fields=("turn_idx",), scope="conv_id"),
        S.Keyref(
            "tool-ref",
            fields=("tool",),
            refer_fields=("tool",),
            scope="conv_id",
            selector="role = 'tool'",
            refer_selector="role = 'assistant' AND tool IS NOT NULL",
        ),
    ),
    model=(
        S.Contiguity(),
        S.Monotone("ts-mono", column="ts", strict=False),
        S.Occurs("min-user", where="role = 'user'", min_occurs=1),
        S.FirstTurn("first", where="role IN ('system', 'user')"),
        S.Transition(
            "trans",
            column="role",
            allowed={"system": ("user",), "user": ("assistant", "tool")},
            start=("system", "user"),
        ),
    ),
)

row_strategy = st.tuples(
    st.sampled_from(["c0", "c1", "c2"]),                       # conv_id
    st.one_of(st.integers(-1, 6), st.just(None)),              # turn_idx
    st.sampled_from(["system", "user", "assistant", "tool", "alien"]),
    st.sampled_from(["", "ok text", "x" * 50]),                # text
    st.sampled_from([None, "tool-001", "tool-002", "BADTOOL"]),
    st.integers(0, 5),                                         # ts offset
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_strategy, min_size=1, max_size=25))
def test_engine_matches_pandas_oracle(spark, rows):
    data = [
        (c, i, r, t, tool, BASE_TS + dt.timedelta(minutes=off))
        for (c, i, r, t, tool, off) in rows
    ]
    sdf = spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        r["constraint_id"]: r["n_violations"]
        for r in validate(sdf, SPEC).by_constraint().collect()
    }
    pdf = pd.DataFrame(
        data, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    # pandas None → NaN for ints; keep object dtype for exact None handling
    pdf["turn_idx"] = pdf["turn_idx"].astype("object")
    want = {k: v for k, v in count_violations(pdf, SPEC).items() if v}
    assert got == want, f"engine={got} oracle={want} rows={data}"


def test_one_compiled_plan_serves_many_dataframes(spark):
    """A plan's prebuilt Column trees name columns, not a DataFrame: one
    ``compile_plan`` result validates two different inputs, each exactly
    like the oracle."""
    from sissaschool_xmlschema_spark.plans.compiler import compile_plan
    from sissaschool_xmlschema_spark.sources.transcripts import (
        corrupt_transcripts,
        synthetic_transcripts,
    )
    from sissaschool_xmlschema_spark.spec import transcript_spec

    spec = transcript_spec()
    plan = compile_plan(spec)
    first = corrupt_transcripts(
        synthetic_transcripts(spark, n_convs=25, hot_convs=0), every=7
    )
    second = corrupt_transcripts(
        synthetic_transcripts(spark, n_convs=15, seed=7, hot_convs=1,
                              hot_turns=40),
        every=5, seed=3,
    )
    for df in (first, second):
        got = {
            r["constraint_id"]: r["n_violations"]
            for r in validate(df, plan).by_constraint().collect()
        }
        want = {
            k: v for k, v in count_violations(df.toPandas(), spec).items()
            if v
        }
        assert got and got == want
