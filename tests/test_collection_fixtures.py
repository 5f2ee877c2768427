"""The reference's collection examples, driven by PARSING the real XSDs.

The specs here are no longer hand-written: ``xsd_compile.compile_xsd`` reads
``tests/test_cases/examples/collection/collection2.xsd`` / ``collection3.xsd``
from the reference tree and derives the TableSpecs, exactly like
``XMLSchema('collection2.xsd')`` (schemas.py:149).  The row data mirrors the
matching ``collection2.xml`` / ``collection3.xml`` instances, and the
expected error counts are the reference's own testfiles entries
(tests/test_cases/testfiles:14-17): collection2.xml --errors 1 (duplicate
key ``dn='JM'``), collection3.xml --errors 1 (dangling keyref ``PARQ``).
"""

import pytest

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import keyref_violations
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

from conftest import REFERENCE_CASES

COLLECTION_DIR = f"{REFERENCE_CASES}/examples/collection"

OBJECT2_DDL = (
    "collection_id string, id string, available string, position string, "
    "title string, year string, author_dn string, author_name string, "
    "author_born string, author_dead string, author_qualification string, "
    "estimation string"
)

# collection2.xml verbatim, one row per <object> (author subtree flattened
# with the compiler's underscore paths)
OBJECT2_ROWS = [
    ("col0", "b0836217462", "true", "1", "The Umbrellas", "1886",
     "JM", "Pierre-Auguste Renoir", "1841-02-25", "1919-12-03",
     "painter", "10000.00"),
    ("col0", "b0836217463", "true", "2", "", "1925",
     "JM", "Joan Miró", "1893-04-20", "1983-12-25",
     "painter, sculptor and ceramicist", None),
]


@pytest.fixture(scope="module")
def compiled2():
    return compile_xsd(f"{COLLECTION_DIR}/collection2.xsd",
                       scope_col="collection_id", order_col="position")


@pytest.fixture(scope="module")
def compiled3():
    return compile_xsd(f"{COLLECTION_DIR}/collection3.xsd",
                       scope_col="collection_id", order_col="position")


def test_compile_collection2_shape(compiled2):
    """The parsed schema exposes exactly the components the XSD declares."""
    sp = compiled2.spec("object")
    names = [c.name for c in sp.columns]
    # attributes + simple children + flattened author subtree
    for expected in ("id", "available", "position", "title", "year",
                     "author_dn", "author_name", "author_born",
                     "estimation"):
        assert expected in names
    kinds = {type(i).__name__: i for i in sp.identities}
    assert "Key" in kinds  # author_key_constraint, selector object/author
    assert kinds["Key"].name == "author_key_constraint"
    assert kinds["Key"].fields == ("author_dn",)
    # xs:ID on @id → per-document uniqueness
    assert any(
        isinstance(i, S.Unique) and i.fields == ("id",)
        for i in sp.identities
    )
    # nested repeated group (characters/person) is modelled as its own
    # nested table scoped per object row — no longer a restriction
    assert "person" in compiled2.nested_tables
    assert compiled2.nested_tables["person"].parent_table == "object"
    assert compiled2.nested_tables["person"].rel_path == (
        "characters", "person")
    assert not any("characters_person" in r for r in compiled2.restrictions)


def test_f2_collection2_xml_one_error(spark, compiled2):
    """collection2.xml --errors 1: both objects' authors carry dn='JM' →
    one duplicate-key violation from the PARSED xs:key, nothing else."""
    sp = compiled2.spec("object")
    objects = spark.createDataFrame(OBJECT2_ROWS, OBJECT2_DDL)
    v = validate(objects, sp).violations.collect()
    assert len(v) == 1
    assert v[0]["constraint_id"] == "key:author_key_constraint"
    assert v[0]["offending_value"] == "JM"
    assert "(2 times)" in v[0]["reason"]


def test_f2_other_scope_does_not_collide(spark, compiled2):
    """Identity scope follows the document (scope_col): the same dn in a
    different collection is NOT a duplicate (identities reset per scope,
    schemas.py:1342-1360)."""
    sp = compiled2.spec("object")
    rows = [OBJECT2_ROWS[0],
            ("col1",) + OBJECT2_ROWS[1][1:]]  # second object in another doc
    objects = spark.createDataFrame(rows, OBJECT2_DDL)
    assert validate(objects, sp).violations.count() == 0


def test_f3_collection3_xml_one_error(spark, compiled3):
    """collection3.xml --errors 1: object 1 references author 'PARQ', which
    no author row carries — one dangling-keyref violation from the PARSED
    key/keyref pair, resolved cross-table (author rows are a separate row
    element in this schema)."""
    author_sp = compiled3.spec("author")
    object_sp = compiled3.spec("object")
    authors = spark.createDataFrame(
        [
            ("col0", "1", "PAR", "Pierre-Auguste Renoir", "1841-02-25",
             "1919-12-03", "painter"),
            ("col0", "2", "JM", "Joan Miró", "1893-04-20", "1983-12-25",
             "painter, sculptor and ceramicist"),
        ],
        "collection_id string, position string, dn string, name string, "
        "born string, dead string, qualification string",
    )
    objects = spark.createDataFrame(
        [
            ("col0", "b0836217462", "true", "1", "The Umbrellas", "1886",
             "PARQ", "10000.00"),
            ("col0", "b0836217463", "true", "2", "", "1925", "JM", None),
        ],
        "collection_id string, id string, available string, position string, "
        "title string, year string, author string, estimation string",
    )
    # per-table validation passes clean (facets, xs:ID unique, xs:key)
    assert validate(authors, author_sp).violations.count() == 0
    assert validate(objects, object_sp).violations.count() == 0
    # the keyref is EXTERNAL: its key lives on the author row element
    assert len(compiled3.external_keyrefs) == 1
    ext = compiled3.external_keyrefs[0]
    assert (ext.table, ext.key_table) == ("object", "author")
    assert ext.keyref.fields == ("author",)
    assert ext.keyref.refer_fields == ("dn",)
    v = keyref_violations(objects, ext.keyref, "object",
                          keys_df=authors).collect()
    assert len(v) == 1  # --errors 1
    assert v[0]["offending_value"] == "PARQ"
    assert "(1 times)" in v[0]["reason"]


def test_f3_dangling_multiplicity(spark, compiled3):
    """Dangling tuples report with multiplicity like KeyrefCounter
    (identities.py:403-418): the same missing dn referenced twice counts
    once, annotated '(2 times)'."""
    ext = compiled3.external_keyrefs[0]
    authors = spark.createDataFrame(
        [("col0", "JM")], "collection_id string, dn string"
    )
    objects = spark.createDataFrame(
        [("col0", "o1", "XX", "1"), ("col0", "o2", "XX", "2"),
         ("col0", "o3", "JM", "3")],
        "collection_id string, id string, author string, position string",
    )
    v = keyref_violations(objects, ext.keyref, "object",
                          keys_df=authors).collect()
    assert len(v) == 1
    assert v[0]["offending_value"] == "XX"
    assert "(2 times)" in v[0]["reason"]


def test_f3_key_missing_field(spark):
    # xs:key demands every field present (identities.py:523-531)
    objects = spark.createDataFrame(
        [("col0", "obj1", None), ("col0", "obj2", "JM")],
        "collection_id string, object_id string, author_dn string",
    )
    sp = S.TableSpec(
        name="objects",
        scope_col="collection_id",
        order_col="object_id",
        identities=(
            S.Key("author_key", fields=("author_dn",), scope="collection_id"),
        ),
    )
    v = validate(objects, sp).violations.collect()
    assert len(v) == 1
    assert v[0]["constraint_id"] == "key:author_key:missing-field"


def test_vehicles_2_errors(spark):
    """Mirrors examples/vehicles/vehicles-2_errors.xml --errors=2: stray
    character data inside element-only content — flat-table form: rows whose
    kind is not a legal child of their parent container (conditional
    enumeration via ColumnSpec.when, the xsi:type-style dispatch)."""
    vehicles = spark.createDataFrame(
        [
            ("v1", 1, "cars", "car", "Porsche", "911"),
            ("v1", 2, "cars", "chardata", None, None),    # error 1
            ("v1", 3, "cars", "car", "Porsche", "911"),
            ("v1", 4, "bikes", "bike", "Harley-Davidson", "WL"),
            ("v1", 5, "bikes", "chardata", None, None),   # error 2
            ("v1", 6, "bikes", "bike", "Yamaha", "XS650"),
        ],
        "doc string, pos int, parent string, kind string, make string, "
        "model string",
    )
    sp = S.TableSpec(
        name="vehicles",
        scope_col="doc",
        order_col="pos",
        columns=(
            S.ColumnSpec(
                "kind", (S.Enumeration(("car",)),), when="parent = 'cars'"
            ),
            S.ColumnSpec(
                "kind", (S.Enumeration(("bike",)),), when="parent = 'bikes'"
            ),
        ),
    )
    v = validate(vehicles, sp).violations.collect()
    assert len(v) == 2
    assert all(r["constraint_id"] == "facet:kind:Enumeration" for r in v)
