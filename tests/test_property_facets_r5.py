"""Property-based cross-checks for the r5 facet lowerings — the engine's
Column-op implementations vs independent pure-Python oracles on
hypothesis-generated lexical values:

- ``IntRange`` (builtin integer widths) vs Python int bounds — including
  the non-castable-passes contract (malformed lexicals are
  BuiltinLexical's violation, not IntRange's) and both boundaries of every
  builtin width, xs:unsignedLong's 2**64-1 included;
- hexBinary-canon ``Enumeration``/``FixedValue`` vs case-folded
  membership (value-space compare, issue_222);
- ``ListOf`` item-count bounds folded from list-type length facets
  (issue_311) vs a whitespace-split count.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.lexical import INTEGER_RANGES
from sissaschool_xmlschema_spark.plans.runner import validate

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _spec(facets) -> S.TableSpec:
    return S.TableSpec(
        name="t", scope_col="doc", order_col="pos",
        columns=(S.ColumnSpec("v", tuple(facets)),),
    )


def _count(spark, values, facets) -> int:
    df = spark.createDataFrame(
        [("d", i, v) for i, v in enumerate(values)],
        "doc string, pos int, v string",
    )
    return validate(df, _spec(facets)).violations.count()


int_lexical = st.one_of(
    st.integers(-300, 300).map(str),
    st.sampled_from(["+127", "-128", "0128", " 12", "12.5", "abc", ""]),
    st.just(None),
)


@settings(**_SETTINGS)
@given(values=st.lists(int_lexical, min_size=1, max_size=20))
def test_intrange_matches_python_bounds(spark, values):
    def oracle(v):
        if v is None:
            return False  # null passes (Required's job)
        try:
            n = int(str(v).strip() or "x")  # Spark try_cast trims spaces
        except ValueError:
            return False  # non-castable passes (BuiltinLexical's job)
        return not (-128 <= n <= 127)

    want = sum(oracle(v) for v in values)
    got = _count(spark, values, [S.IntRange(-128, 127)])
    assert got == want, (values, got, want)


@pytest.mark.parametrize("type_name", sorted(INTEGER_RANGES))
def test_intrange_builtin_width_boundaries(spark, type_name):
    """Each bound itself passes and its neighbour outside the width fails;
    an open side admits a value far past every fixed width."""
    lo, hi = INTEGER_RANGES[type_name]
    values, bad = [], set()
    for bound, outside in ((lo, -1), (hi, 1)):
        if bound is None:
            values.append(str(outside * 10**30))
        else:
            values += [str(bound), str(bound + outside)]
            bad.add(str(bound + outside))
    df = spark.createDataFrame(
        [("d", i, v) for i, v in enumerate(values)],
        "doc string, pos int, v string",
    )
    rows = validate(df, _spec([S.IntRange(lo, hi)])).violations.collect()
    assert {r["offending_value"] for r in rows} == bad
    assert len(rows) == len(bad)


hex_lexical = st.one_of(
    st.sampled_from(["abcedf", "ABCEDF", "AbCeDf", "0a0b", "abcede",
                     "ABCEDG", "", None]),
    st.text(alphabet="0123456789abcdefABCDEF", min_size=0, max_size=8),
)


@settings(**_SETTINGS)
@given(values=st.lists(hex_lexical, min_size=1, max_size=20))
def test_hex_canon_enum_and_fixed_match_casefold(spark, values):
    allowed = {"abcedf", "0a0b"}

    def bad_enum(v):
        return v is not None and v.lower() not in allowed

    def bad_fixed(v):
        return v is not None and v.lower() != "abcedf"

    got_e = _count(spark, values,
                   [S.Enumeration(("abcedf", "0A0B"), canon="hex")])
    assert got_e == sum(bad_enum(v) for v in values), (values, got_e)
    got_f = _count(spark, values, [S.FixedValue("ABCedf", canon="hex")])
    assert got_f == sum(bad_fixed(v) for v in values), (values, got_f)


list_lexical = st.lists(
    st.sampled_from(["1", "2.5", "-3", "0"]), min_size=0, max_size=5,
).map(" ".join)


@settings(**_SETTINGS)
@given(values=st.lists(st.one_of(list_lexical, st.just(None)),
                       min_size=1, max_size=15))
def test_listof_item_count_bounds(spark, values):
    def oracle(v):
        if v is None:
            return False
        return len(v.split(" ")) != 2  # split('') == [''] → count 1

    got = _count(spark, values,
                 [S.ListOf(item_facets=(), min_items=2, max_items=2)])
    assert got == sum(oracle(v) for v in values), (values, got)
