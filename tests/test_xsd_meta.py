"""Schema-document meta-validation parity — exact --errors=N counts for the
reference testfiles' INVALID SCHEMA cases (the reference reports schema
construction errors through XMLSchema(..., validation='lax');
tests/test_cases/testfiles lines 29-138), plus a zero-false-positive sweep
over every valid schema in the corpus."""

import os

import pytest

from sissaschool_xmlschema_spark.xsd_meta import (
    count_schema_errors,
    validate_schema_document,
)

from conftest import REFERENCE_CASES

B = REFERENCE_CASES

# (path, version, expected errors) — straight from the testfiles manifest
ERROR_CASES = [
    ("features/attributes/default_attributes.xsd", "1.0", 2),
    ("features/attributes/default_attributes.xsd", "1.1", 0),
    ("features/attributes/default_attributes-missing_group.xsd", "1.1", 1),
    ("features/derivations/complex-extensions.xsd", "1.0", 1),
    ("features/derivations/list_types.xsd", "1.0", 1),
    ("features/derivations/invalid-enumeration-restriction.xsd", "1.0", 1),
    ("features/derivations/invalid-restrictions2.xsd", "1.0", 1),
    ("features/derivations/invalid-restrictions2.xsd", "1.1", 1),
    ("features/elements/type_alternatives.xsd", "1.0", 3),
    ("features/elements/type_alternatives.xsd", "1.1", 0),
    ("features/elements/type_alternatives-no-ns.xsd", "1.1", 0),
    ("features/models/circular_model.xsd", "1.0", 1),
    ("features/models/illegal-attributes.xsd", "1.0", 1),
    ("features/models/illegal-declarations.xsd", "1.0", 3),
    ("features/models/illegal-occurs.xsd", "1.0", 2),
    ("features/models/invalid_models1.xsd", "1.0", 4),
    ("features/models/invalid_models2.xsd", "1.0", 3),
    ("features/models/recursive-groups.xsd", "1.0", 2),
    ("features/namespaces/default_ns_invalid.xsd", "1.0", 1),
    ("features/namespaces/import-case1.xsd", "1.0", 1),
    ("features/namespaces/import-case2.xsd", "1.0", 1),
    ("features/namespaces/include-case4.xsd", "1.0", 2),
    ("features/namespaces/include-case6.xsd", "1.0", 1),
    ("features/namespaces/include-case7.xsd", "1.0", 1),
    ("issues/issue_009/issue_009.xsd", "1.0", 2),
    ("issues/issue_018/issue_018.xsd", "1.0", 2),
    ("issues/issue_018/issue_018.xsd", "1.1", 0),
    ("issues/issue_203/issue_203.xsd", "1.0", 1),
    ("issues/issue_203/issue_203.xsd", "1.1", 0),
    # redefine restriction dropping a required base particle (the base's
    # model group lives inside its complexContent extension)
    ("issues/issue_265/issue_265-2-invalid.xsd", "1.0", 1),
    # substitution member standing in for a non-abstract head particle:
    # illegal under 1.0 (3 types), ambiguous-when-repeatable under 1.1 (1)
    ("features/derivations/invalid-restrictions1.xsd", "1.0", 3),
    ("features/derivations/invalid-restrictions1.xsd", "1.1", 1),
]

VALID_CASES = [
    ("examples/collection/collection.xsd", "1.0"),
    ("examples/collection/collection.xsd", "1.1"),
    ("examples/collection/collection2.xsd", "1.0"),
    ("examples/collection/collection3.xsd", "1.0"),
    ("examples/collection/collection3bis.xsd", "1.0"),
    ("examples/vehicles/vehicles.xsd", "1.0"),
    ("examples/vehicles/vehicles.xsd", "1.1"),
    ("features/builtins/builtins.xsd", "1.0"),
    ("features/decoder/simple-types.xsd", "1.0"),
    ("features/decoder/mixed-content.xsd", "1.0"),
    ("features/derivations/complex11-restrictions.xsd", "1.1"),
    ("features/derivations/complex-with-simple-content-restriction.xsd",
     "1.0"),
    ("features/models/billion_laughs_model.xsd", "1.0"),
    ("features/models/models.xsd", "1.0"),
    ("features/models/valid_model1.xsd", "1.0"),
    ("features/namespaces/default_ns_valid1.xsd", "1.0"),
    ("features/namespaces/default_ns_valid2.xsd", "1.0"),
    ("features/namespaces/import-case3.xsd", "1.0"),
    ("features/namespaces/import-case4a.xsd", "1.0"),
    ("features/namespaces/import-case4b.xsd", "1.0"),
    ("features/namespaces/include-case1.xsd", "1.0"),
    ("features/namespaces/include-case1bis.xsd", "1.0"),
    ("features/namespaces/include-case2.xsd", "1.0"),
    ("features/namespaces/include-case2bis.xsd", "1.0"),
    ("features/namespaces/include-case3.xsd", "1.0"),
    ("features/namespaces/include-case5.xsd", "1.0"),
    ("features/namespaces/include-case8.xsd", "1.0"),
    ("features/namespaces/included8-redefine.xsd", "1.0"),
    ("features/namespaces/dynamic-case1-override.xsd", "1.1"),
    ("features/patterns/patterns.xsd", "1.0"),
    ("issues/issue_008/issue_008.xsd", "1.0"),
    ("issues/issue_013/issue_013.xsd", "1.0"),
    ("issues/issue_026/issue_026.xsd", "1.0"),
    ("issues/issue_028/issue_028.xsd", "1.0"),
    ("issues/issue_029/issue_029.xsd", "1.0"),
    ("issues/issue_035/dates.xsd", "1.0"),
    ("issues/issue_041/issue_041.xsd", "1.0"),
    ("issues/issue_045/issue_045.xsd", "1.0"),
    ("issues/issue_073/issue_073.xsd", "1.0"),
    ("issues/issue_105/issue_105.xsd", "1.0"),
    ("issues/issue_203/issue_203alt.xsd", "1.0"),
    ("issues/issue_222/issue_222.xsd", "1.0"),
    ("issues/issue_223/issue_223.xsd", "1.0"),
    ("issues/issue_245/issue_245.xsd", "1.1"),
    ("issues/issue_259/issue_259-2.xsd", "1.1"),
    ("issues/issue_265/issue_265-1.xsd", "1.0"),
    ("issues/issue_265/issue_265-2-override.xsd", "1.1"),
    ("issues/issue_266/issue_266-1.xsd", "1.0"),
    ("issues/issue_266/issue_266-2.xsd", "1.0"),
    ("issues/issue_276/schema.xsd", "1.0"),
    ("issues/issue_306/issue_306.xsd", "1.0"),
    ("issues/issue_306/issue_306-alt.xsd", "1.0"),
]


@pytest.mark.parametrize(
    "path,version,expected", ERROR_CASES,
    ids=[f"{p.rsplit('/', 1)[-1]}-v{v}" for p, v, _ in ERROR_CASES],
)
def test_invalid_schema_error_counts(path, version, expected):
    assert count_schema_errors(f"{B}/{path}", version=version) == expected


@pytest.mark.parametrize(
    "path,version", VALID_CASES,
    ids=[f"{p.rsplit('/', 1)[-1]}-v{v}" for p, v in VALID_CASES],
)
def test_valid_schemas_report_zero(path, version):
    fp = f"{B}/{path}"
    assert os.path.exists(fp), fp
    errs = validate_schema_document(fp, version=version)
    assert errs == (), [f"{e.code}: {e.reason}" for e in errs]


def test_error_codes_are_specific():
    """Each family reports its own stable code (not one generic bucket)."""
    codes = {
        e.code
        for p, v, n in ERROR_CASES if n
        for e in validate_schema_document(f"{B}/{p}", version=v)
    }
    assert {
        "xsd11-only", "illegal-attribute", "unexpected-declaration",
        "illegal-occurs", "circular-group", "upa-violation",
        "unresolved-reference", "missing-import",
        "include-namespace-mismatch", "duplicate-declaration",
        "enumeration-not-in-base", "list-of-list",
        "mixed-content-mismatch", "restriction-order",
        "restriction-drops-required",
    } <= codes


def test_literal_source_and_clean_string():
    errs = validate_schema_document(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="e" minOccurs="3" maxOccurs="2"/></xs:schema>'
    )
    assert [e.code for e in errs] == ["illegal-occurs"]
    assert count_schema_errors(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="e" type="xs:string"/></xs:schema>'
    ) == 0
