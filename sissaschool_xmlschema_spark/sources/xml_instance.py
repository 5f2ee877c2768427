"""Validate raw XML instance documents against a compiled XSD.

The reference validates XML trees directly (``XMLSchema(...).validate(
'doc.xml')``, schemas.py:1583; the testfiles factory asserts exact error
counts per instance, testing/_factory.py:11-42).  The engine's analogue for
the flat-table subset: read the instance with Spark's native XML source,
flatten each row element into its table (nested single-occurrence children
walk ``CompiledXsd.column_paths``), run the ordinary distributed validation
per table plus the schema's cross-table keyrefs, and add the STRUCTURAL
checks only a tree sees:

* character data inside element-only content (``cvc-complex-type.2.3``;
  the reference's children-validation error on text in a model group) —
  Spark XML surfaces stray text as the ``_VALUE`` field;
* undeclared attributes / elements (``cvc-complex-type.3.2.2``) — schema
  INFERENCE lists every field present in the data, so anything outside the
  compiled columns, their prefixes, and ``CompiledXsd.skipped_paths``
  (schema-declared subtrees the flat subset doesn't model) is genuinely
  undeclared;
* repeated occurrences of a child the schema declares single
  (``cvc-complex-type.2.4``) — inference yields an array where the compiled
  path expects a scalar/struct.

Inference is what makes unknown-field detection possible (a fixed schema
cannot see fields it doesn't name), at the cost of one extra pass over the
instance — this is the audit/discovery mode.  The reader is rooted at the
row element's PARENT container (``CompiledXsd.parent_of``), so one
DataFrame row = one container element; production corpora with enormous
containers should land in parquet via ``rowTag=<row element>`` streaming
(sources/xml_io.py) and validate tabularly.

Per document, the driver sniffs the file once (:class:`_Document`: declared
encoding, namespace map, prefixes, one container read per rowTag), applies
the schema's compiled table plans (``CompiledXsd.plan``, built on the first
document) and runs ONE exchange-free job: every table and the violation
union sit in a single partition (:func:`_table_violations`), so the plan's
groupBys and windows need no shuffle (PLANS.md §24).

Every table of a document, and every overlay of one (xsi:type, an
``xs:alternative`` arm, a substitution member), is a compiled
:class:`TableView` read by one function, :func:`_apply_view`: walk the
row struct against the view's paths, flag what the walk finds
structurally wrong, and select the view's columns with the caller's
scope/order columns.

Beyond the flat subset, the reader resolves (r5): wildcard markers
(``xs:any``/``xs:anyAttribute``/``xs:openContent`` gate the undeclared
flags), ``mixed="true"`` char data, ``xsi:type`` overlays
(elements.py:657-682), XSD 1.1 conditional type alternatives
(``xs:alternative test="@attr='v'"`` arm overlays, elements.py:1345-1365),
``nillable``/``xsi:nil`` (a nilled element satisfies Required,
elements.py:711-728), substitution members standing in for their head
(elements.py:611-621), NESTED repeated tables (per-parent-row composite
scope through the unchanged identities/occurs machinery), recursive
content models (cycle-cut one-level-deep validation), document-value
tables with whiteSpace=preserve, and ``vc:minVersion`` version gating.

Reference parity pinned by tests/test_xml_instance.py +
tests/test_wildcards_mixed.py: **every XML instance in the reference's
testfiles list validates with exact parity — 57 of 57** (19 ``--errors=N``
counts + 38 valid instances clean, the reference's
tests/test_cases/testfiles); with the schema-document
meta-validator (xsd_meta.py) all 49 ``--errors=N`` cases (instances +
schema documents) reproduce exact counts.  The last two instance counts
(model1, issue_029-2) are closed by ``_collapse_model_errors``: element
content-model reports (occurs bounds, element-backed Required) collapse
to one per container element instance, matching the reference
ModelVisitor's stop-after-first-error granularity.
"""

from __future__ import annotations

import os
import re
from dataclasses import replace
from functools import cached_property, reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sissaschool_xmlschema_spark.operators.identity import keyref_violations
from sissaschool_xmlschema_spark.plans.runner import VIOLATION_SCHEMA, validate
from sissaschool_xmlschema_spark.xsd_compile import (
    CompiledXsd,
    TableView,
    compile_xsd,
    declared_encoding,
    text_codec,
)


def sniff_prefix(path: str, local_root: str) -> str:
    """Namespace prefix of ``local_root`` in the document ('vh:' or '').

    Driver-side peek — instance prefixes are arbitrary (the same schema
    validates ``vh:cars`` and unprefixed documents), and Spark XML matches
    rowTag literally.  Streams the file in 64 KiB chunks until the first
    occurrence of the element start tag is found (a long comment/DOCTYPE
    prolog must not defeat the sniff — a fixed-size head read silently
    falls back to no prefix and the rowTag never matches).
    """
    return _Document(path).prefix_of(local_root)


def sniff_nsmap(path: str) -> dict:
    """prefix → namespace-URI map from the document head (first 64 KiB).

    Driver-side peek for wildcard namespace-set checks: inferred field
    names carry prefixes, the compiled :class:`Wildcard` carries URIs.
    Documents declaring namespaces deeper than the head are out of the
    sniff's reach — their wildcard checks fall back to prefix heuristics
    (an unmapped prefix counts as a foreign namespace)."""
    return _Document(path).nsmap


def _root_local_of(head: str) -> str:
    """Local name of the document's root element (prolog, comments and
    DOCTYPE skipped)."""
    head = re.sub(r"<\?.*?\?>", "", head, flags=re.S)
    head = re.sub(r"<!--.*?-->", "", head, flags=re.S)
    head = re.sub(r"<!DOCTYPE[^>]*>", "", head, flags=re.S)
    m = re.search(r"<([A-Za-z_][\w.:-]*)", head)
    return m.group(1).rpartition(":")[-1] if m else "?"


class _Document:
    """One instance document and what the driver learns about it, each
    at most once: its label, declared encoding, head, namespace map, and
    the container reads (one Spark schema inference per container,
    shared by every table rooted there).  The sniffers use one without a
    Spark session."""

    def __init__(self, path, prefix: Optional[str] = None,
                 spark: Optional[SparkSession] = None):
        self.spark = spark
        self.path = str(path)
        self.label = os.path.basename(self.path)
        with open(self.path, "rb") as f:
            self.declared = declared_encoding(f.read(1024))
        # undeclared or unknown: UTF-8 (Spark's default would read the
        # cp1252 menù document as mojibake)
        self.encoding = text_codec(self.declared)
        self.prefix = prefix
        self._containers: dict = {}

    @cached_property
    def head(self) -> str:
        """The first 64 KiB of the document, decoded."""
        with open(self.path, "rb") as f:
            return f.read(65536).decode(self.encoding, "replace")

    @cached_property
    def nsmap(self) -> dict:
        nsmap: dict = {}
        for m in re.finditer(
            r"""xmlns(?::([A-Za-z_][\w.-]*))?\s*=\s*("([^"]*)"|'([^']*)')""",
            self.head,
        ):
            nsmap.setdefault(m.group(1) or "", m.group(3) or m.group(4) or "")
        return nsmap

    def prefix_of(self, local: str) -> str:
        """The namespace prefix of the first ``local`` start tag ('vh:' or
        ''), the ``prefix`` override when one was given."""
        if self.prefix is not None:
            return self.prefix
        pat = re.compile(
            rf"<(?:([A-Za-z_][\w.-]*):)?{re.escape(local)}[\s>/]"
        )
        tail = ""
        with open(self.path, "rb") as f:
            while True:
                chunk = f.read(65536)
                if not chunk:
                    return ""
                head = tail + chunk.decode(self.encoding, "replace")
                m = pat.search(head)
                if m:
                    return f"{m.group(1)}:" if m.group(1) else ""
                # keep enough overlap that a tag split across the chunk
                # boundary still matches on the next iteration
                tail = head[-(len(local) + 64):]

    @property
    def unknown_encoding(self) -> bool:
        """True when the declaration names an encoding no codec here
        decodes: a fatal error for an XML processor (XML 1.0 §4.3.3), and
        Spark's parser, which honors the declaration, reads nothing."""
        return self.declared is not None and self.encoding != self.declared

    def container(self, local: str, preserve_space: bool = False) -> DataFrame:
        """The document read with ``local`` (prefix sniffed) as rowTag."""
        if self.unknown_encoding:
            raise ValueError(
                f"{self.path}: declared encoding {self.declared!r} is not "
                "a known text encoding"
            )
        key = (local, preserve_space)
        if key not in self._containers:
            self._containers[key] = _read_container(
                self.spark, self.path, f"{self.prefix_of(local)}{local}",
                self.encoding, preserve_space,
            )
        return self._containers[key]


def _local_of(field_name: str) -> tuple:
    """(step, is_attr, prefix) for one inferred field name: attributes
    carry a leading '_', namespace prefixes matter only to wildcards."""
    is_attr = field_name.startswith("_")
    name = field_name[1:] if is_attr else field_name
    prefix, _, local = name.rpartition(":")
    return local, is_attr, prefix


def _is_xsi_machinery(field_name: str, nsmap: dict) -> bool:
    """True for an attribute field in the XSI namespace under ANY bound
    prefix (issue_314 binds it to ``b:``): xsi:type/nil/schemaLocation are
    instance machinery, never undeclared content."""
    local, is_attr, pfx = _local_of(field_name)
    if not is_attr or not pfx:
        return False
    return pfx == "xsi" or nsmap.get(pfx) == _XSI_URI


def _ns_admits(ns_set: str, uri, target_ns: str) -> bool:
    """One wildcard namespace-set test (wildcards.py:95-164).

    ``uri`` is the instance node's namespace URI ('' = no namespace,
    None = unresolvable prefix, treated as a foreign namespace)."""
    if ns_set == "##any":
        return True
    if ns_set == "##other":
        # any namespace other than target, and not absent
        return uri != "" and uri != target_ns
    admitted = ns_set.split()
    if uri is None:
        return False
    for tok in admitted:
        want = (
            target_ns if tok == "##targetNamespace"
            else "" if tok == "##local" else tok
        )
        if uri == want:
            return True
    return False


def _elem_required_paths(compiled) -> list:
    """Full violation paths (``table/column``) of element-backed Required
    facets — the 'missing required child element' class the reference's
    ModelVisitor folds into one content-not-complete error per container
    (groups.py model validation; testfiles issue_029-2).  Attribute-backed
    Required columns ('@' step in column_paths) are excluded: the reference
    reports missing required attributes individually (cvc-complex-type.4).
    """
    from sissaschool_xmlschema_spark.spec import Required

    out = []
    for tname, spec in compiled.specs.items():
        paths = compiled.column_paths.get(tname, {})
        for col in spec.columns:
            p = paths.get(col.name)
            if p is None or any(seg.startswith("@") for seg in p):
                continue
            if any(isinstance(f, Required) for f in col.facets):
                out.append(f"{tname}/{col.name}")
    return out


def _collapse_model_errors(out: DataFrame, compiled) -> DataFrame:
    """Reference error granularity for element content models: after the
    first content-model error inside one container element instance the
    reference's ModelVisitor stops reporting (one ``content is not
    complete`` / unexpected-child error per container — testfiles
    ``features/models/model1.xml --errors=1``, ``issue_029-2.xml
    --errors=1``).  Collapse the flat engine's per-particle reports
    (``occurs:*`` bounds, element-backed ``:Required``) to ONE violation
    per (document, container element, row instance); attribute, value,
    identity, assertion and structural violations pass through untouched.
    """
    from pyspark.sql import Window

    elem_req = _elem_required_paths(compiled)
    is_model = F.col("constraint_id").startswith("occurs:")
    if elem_req:
        is_model = is_model | (
            F.col("constraint_id").endswith(":Required")
            & F.col("path").isin(elem_req)
        )
    # container element of the violation: strip the leaf step from
    # 'container/child' paths; bare table-name paths (identity-machinery
    # occurs rows) resolve through the compile-time parent_of map
    parent_map = compiled.parent_of
    if parent_map:
        mapping = F.create_map(
            *[F.lit(x) for kv in parent_map.items() for x in kv]
        )
        bare = F.coalesce(mapping[F.col("path")], F.col("path"))
    else:
        bare = F.col("path")
    container = F.when(
        F.col("path").contains("/"),
        F.regexp_replace(F.col("path"), "/[^/]*$", ""),
    ).otherwise(bare)
    # one window over the whole union: model rows rank within their
    # container instance and only the first survives; every other row is
    # in a partition of its own kind (is_model false) and passes untouched
    w = Window.partitionBy(
        is_model, "conv_id", container, F.coalesce("turn_idx", F.lit(-1))
    ).orderBy("path", "constraint_id")
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(~is_model | (F.col("_rn") == 1))
        .drop("_rn")
    )


def _table_violations(compiled, flat: DataFrame, spec, key=None) -> DataFrame:
    """Violations of one flattened table of a document: the schema's
    cached plan (``CompiledXsd.plan``) applied to the table held in ONE
    partition.  A document is one file and Spark's XML source reads one
    file as one partition, so this costs no parallelism, and every
    groupBy and window of the plan then runs without an exchange."""
    return validate(flat.coalesce(1), compiled.plan(spec, key)).violations


def _viol(name, parent, cid, value, reason):
    return [
        F.lit(None).cast("long").alias("turn_idx"),
        F.lit(f"{parent}/{name}").alias("path"),
        F.lit(cid).alias("constraint_id"),
        value.cast("string").alias("offending_value"),
        F.lit(reason).alias("reason"),
    ]


class _TableReader:
    """Walks one row element's inferred struct against the compiled paths."""

    def __init__(self, name, spec, paths, skipped, parent, doc,
                 wildcards=(), mixed=frozenset(), target_ns="",
                 nsmap=None, globals_=frozenset()):
        self.name, self.spec, self.parent, self.doc = name, spec, parent, doc
        self.paths = {tuple(p): col for col, p in paths.items()}
        self.prefixes = set()
        for p in list(self.paths) + [tuple(s) for s in skipped]:
            for i in range(1, len(p)):
                self.prefixes.add(p[:i])
        self.skipped = {tuple(s) for s in skipped}
        self.wildcards = tuple(wildcards)
        self.mixed = frozenset(mixed)
        self.target_ns = target_ns
        self.nsmap = nsmap or {}
        self.globals = frozenset(globals_)
        self.extract: dict = {}
        self.struct_viols: list = []  # (filter_col, select_cols)

    def _flag(self, col, kind, local, reason_tail):
        self.struct_viols.append((
            col.isNotNull(),
            _viol(self.name, self.parent, f"structure:{kind}", col,
                  f"{kind.replace('-', ' ')} '{local}' on '{self.name}' "
                  f"({reason_tail})"),
        ))

    def _wildcard_admits(self, path, local, is_attr, prefix) -> bool:
        """True when a compiled wildcard at ``path`` suppresses the
        undeclared-content flag for this node (wildcards.py:95-99):
        skip/lax admit anything in the namespace set; strict additionally
        requires a matching global declaration (whose content the flat
        subset then accepts — the per-element strict validation the
        reference does is out of tabular reach and documented as such)."""
        if is_attr and not prefix:
            uri = ""  # unprefixed attributes are in no namespace
        elif prefix:
            uri = self.nsmap.get(prefix)  # None = unresolvable, foreign
        else:
            uri = self.nsmap.get("", "")
        kind = "attribute" if is_attr else "element"
        for w in self.wildcards:
            if tuple(w.path) != path or w.kind != kind:
                continue
            if not _ns_admits(w.ns, uri, self.target_ns):
                continue
            if w.process in ("skip", "lax"):
                return True
            if local in self.globals:  # strict: declaration required
                return True
        return False

    def walk(self, stype: T.StructType, base: str, path: tuple) -> None:
        for sf in stype.fields:
            if sf.name.startswith("_xmlns") or sf.name.startswith("_xsi:") \
                    or _is_xsi_machinery(sf.name, self.nsmap):
                continue  # namespace/schema-location machinery, not data
            col = F.col(f"{base}`{sf.name}`")
            if sf.name == "_VALUE":
                if path in self.paths:
                    # the element's own text IS a declared column (a
                    # simpleContent row element's 'value')
                    self.extract[self.paths[path]] = col.cast("string")
                    continue
                if path in self.mixed:
                    continue  # mixed="true": char data is legitimate
                txt = F.trim(col.cast("string"))
                self.struct_viols.append((
                    txt.isNotNull() & (txt != ""),
                    _viol(self.name, self.parent, "structure:char-data",
                          txt,
                          "character data not allowed in element-only "
                          "content (cvc-complex-type.2.3)"),
                ))
                continue
            local, is_attr, pfx = _local_of(sf.name)
            step = ("@" + local) if is_attr else local
            key = path + (step,)
            if key in self.skipped:
                continue  # schema-declared, outside the flat subset
            if key in self.paths:
                out = self.paths[key]
                dt = sf.dataType
                if isinstance(dt, T.ArrayType):
                    # schema says single, instance repeats it
                    self._flag(col, "repeated-element", local,
                               "cvc-complex-type.2.4")
                    col, dt = F.element_at(col, 1), dt.elementType
                if isinstance(dt, T.StructType):
                    # simple-content element carrying attributes: text is
                    # the nested _VALUE; declared attributes (simpleContent
                    # extension columns) extract, the rest are undeclared
                    names = dt.fieldNames()
                    for inner in names:
                        if inner == "_VALUE" or inner.startswith("_xmlns") \
                                or inner.startswith("_xsi:") \
                                or _is_xsi_machinery(inner, self.nsmap):
                            # xsi:nil on a nillable declaration extracts to
                            # its compiled __nil column (issue_243); other
                            # xsi machinery stays skipped
                            nkey = key + ("@xsi:nil",)
                            if inner.endswith(":nil") and nkey in self.paths:
                                self.extract[self.paths[nkey]] = (
                                    col.getField(inner).cast("string")
                                )
                            continue
                        il, iattr, ipfx = _local_of(inner)
                        ikey = key + (("@" + il) if iattr else il,)
                        if ikey in self.paths:
                            self.extract[self.paths[ikey]] = (
                                col.getField(inner).cast("string")
                            )
                        elif not self._wildcard_admits(key, il, iattr,
                                                       ipfx):
                            self._flag(
                                col.getField(inner),
                                "undeclared-attribute" if iattr
                                else "undeclared-element",
                                il, "cvc-complex-type.3.2.2",
                            )
                    col = (col.getField("_VALUE") if "_VALUE" in names
                           else F.lit(None))
                self.extract[out] = col.cast("string")
            elif not is_attr and key in self.prefixes:
                dt = sf.dataType
                if isinstance(dt, T.ArrayType):
                    self._flag(col, "repeated-element", local,
                               "cvc-complex-type.2.4")
                elif isinstance(dt, T.StructType):
                    self.walk(dt, f"{base}`{sf.name}`.", key)
            elif not self._wildcard_admits(path, local, is_attr, pfx):
                self._flag(
                    col,
                    "undeclared-attribute" if is_attr
                    else "undeclared-element",
                    local, "cvc-complex-type.3.2.2",
                )


def _read_container(
    spark: SparkSession, path: str, row_tag: str, encoding: str,
    preserve_space: bool = False,
) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("charset", encoding)
        # keep stray character data visible instead of silently dropping
        # it; preserve_space keeps surrounding whitespace too (document
        # value of a whiteSpace=preserve simple type — issue_223)
        .option("ignoreSurroundingSpaces",
                "false" if preserve_space else "true")
        # structure-only inference: every leaf stays a string so the
        # LEXICAL form survives (typed inference would read '2.0' into a
        # double column and rewrite sibling '1' as '1.0', hiding the
        # xs:int lexical violation the facet pass must see)
        .option("inferSchema", "false")
        .load(path)
    )


_XSI_URI = "http://www.w3.org/2001/XMLSchema-instance"


def _field_by_local(dtype: T.StructType, step: str):
    """The child-element field of ``dtype`` named ``step`` by local name
    (qualified ``vh:car`` under elementFormDefault="qualified" and bare
    ``object`` alike), or None.  Attribute, text and namespace fields
    (leading '_') never match."""
    for sf in dtype.fields:
        if not sf.name.startswith("_") and _local_of(sf.name)[0] == step:
            return sf
    return None


def _xsi_type_field(dtype: T.StructType, nsmap: dict):
    """The inferred field carrying xsi:type, if any ('_xsi:type' under the
    conventional prefix; any prefix bound to the XSI namespace counts)."""
    for sf in dtype.fields:
        local, is_attr, pfx = _local_of(sf.name)
        if is_attr and local == "type" and (
            pfx == "xsi" or nsmap.get(pfx) == _XSI_URI
        ):
            return sf.name
    return None


def _xsi_local(col):
    return F.element_at(F.split(col.cast("string"), ":"), -1)


def _element_rows(container: DataFrame, sf) -> DataFrame:
    """One ``_row`` per occurrence of the container's child field ``sf``."""
    col = F.col(f"`{sf.name}`")
    if isinstance(sf.dataType, T.ArrayType):
        col = F.explode(col)
    return container.select(col.alias("_row"))


def _union_all(dfs: list) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


def _null():
    return F.lit(None).cast("string")


def _apply_view(compiled, view: TableView, rows: DataFrame, name, parent,
                src: _Document, scope, order) -> tuple:
    """``(flat, parts)``: ``rows`` (one ``_row`` struct per element) read
    through ``view``.  ``flat`` holds the view's columns plus ``scope`` and
    ``order`` as the spec's scope and order columns; ``parts`` are the
    structural violations the walk flags.  Every table of a document and
    every overlay of one (xsi:type, alternative arm, substitution member)
    reads through here."""
    rdr = _TableReader(
        name, view.spec, view.column_paths, view.skipped, parent, src.label,
        wildcards=view.wildcards, mixed=view.mixed,
        target_ns=compiled.target_namespace, nsmap=src.nsmap,
        globals_=compiled.global_elements,
    )
    rtype = rows.schema["_row"].dataType
    if isinstance(rtype, T.StructType):
        rdr.walk(rtype, "_row.", ())
    else:
        # structureless rows (empty elements / bare text): nothing to walk;
        # the element's own text maps to a ()-path column when one exists
        own = next(
            (col for col, p in view.column_paths.items() if tuple(p) == ()),
            None,
        )
        if own is not None:
            rdr.extract[own] = F.col("_row").cast("string")
    parts = [
        rows.filter(cond).select(F.lit(src.label).alias("conv_id"), *sel)
        for cond, sel in rdr.struct_viols
    ]
    spec = view.spec
    flat = rows.select(
        *[(rdr.extract[c.name] if c.name in rdr.extract else _null())
          .alias(c.name) for c in spec.columns],
        scope.alias(spec.scope_col),
        order.alias(spec.order_col),
    )
    return flat, parts


def _xsi_typed(compiled, name, parent, src: _Document, rows: DataFrame,
               scope, order) -> tuple:
    """xsi:type overlays (elements.py:657-682): rows carrying a derived
    type's xsi:type validate against that type's view; an xsi:type naming
    no compiled type is flagged.  ``(rows, parts)``: the rows left for the
    declared view (no xsi:type, or an unknown one) and the overlays'
    violation parts."""
    overlays = compiled.xsi_overlays.get(name, {})
    if not overlays:
        return rows, []
    rtype = rows.schema["_row"].dataType
    xf = (_xsi_type_field(rtype, src.nsmap)
          if isinstance(rtype, T.StructType) else None)
    if xf is None:
        return rows, []
    xcol = F.col(f"_row.`{xf}`")
    xsi = _xsi_local(xcol)
    declared = compiled.declared_types.get(name)
    known = set(overlays) | ({declared} if declared else set())
    parts: list = []
    for tname, view in overlays.items():
        flat, vparts = _apply_view(compiled, view, rows.filter(xsi == tname),
                                   name, parent, src, scope, order)
        parts += vparts
        parts.append(_table_violations(compiled, flat, view.spec))
    parts.append(
        rows.filter(xcol.isNotNull() & ~xsi.isin(list(known))).select(
            F.lit(src.label).alias("conv_id"),
            *_viol(name, parent, "structure:unknown-xsi-type", xcol,
                   f"xsi:type on '{name}' does not resolve to a compiled "
                   "type (elements.py:657-682)"),
        )
    )
    return rows.filter(xcol.isNull() | ~xsi.isin(list(overlays))), parts


def _alternatives(compiled, name, parent, src: _Document, rows: DataFrame,
                  scope, order) -> tuple:
    """XSD 1.1 conditional type alternatives (elements.py:1345-1365,
    XsdAlternative:1450-1476): rows whose @attr='v' test matches validate
    against that arm's view, first matching arm wins.  ``(rows, parts)``:
    the rows no arm matched (they keep the declared type) and the arms'
    violation parts."""
    alts = compiled.alt_overlays.get(name, ())
    parts: list = []
    if not alts:
        return rows, parts
    rtype = rows.schema["_row"].dataType
    if not isinstance(rtype, T.StructType):
        return rows, parts
    for attr, value, view in alts:
        if attr is not None:
            fname = f"_{attr}"
            if fname not in rtype.fieldNames():
                continue  # attribute nowhere in the document: no match
            tcol = F.col(f"_row.`{fname}`").cast("string")
            cond = tcol.isNotNull() & (tcol == value)
        else:
            cond = F.lit(True)  # unconditional (default) arm
        flat, vparts = _apply_view(compiled, view, rows.filter(cond), name,
                                   parent, src, scope, order)
        parts += vparts
        parts.append(_table_violations(compiled, flat, view.spec))
        rows = rows.filter(~cond)
    return rows, parts


def _aligned(flat: DataFrame, spec) -> DataFrame:
    """``flat`` carrying exactly ``spec``'s columns (NULL where it has
    none) and its scope and order columns."""
    have = set(flat.columns)
    return flat.select(
        *[(F.col(c.name) if c.name in have else _null()).alias(c.name)
          for c in spec.columns],
        F.col(spec.scope_col), F.col(spec.order_col),
    )


def _members(compiled, name, parent, src: _Document, container: DataFrame,
             scope, order) -> tuple:
    """Substitution members standing in for head ``name`` (elements.py:
    611-621): each member's rows read through its own view.  ``(flats,
    parts)``: the member tables aligned to the head's columns, to merge
    into the head's table for occurrence/identity checks, and the
    member-only violation parts."""
    spec = compiled.specs[name]
    head_cols = {c.name for c in spec.columns}
    head_ids = {i.name for i in spec.identities}
    flats: list = []
    parts: list = []
    for mname, view in compiled.subst_overlays.get(name, {}).items():
        sf = _field_by_local(container.schema, mname)
        if sf is None:
            continue
        mrows = _element_rows(container, sf)
        if not isinstance(mrows.schema["_row"].dataType, T.StructType):
            continue
        flat, vparts = _apply_view(compiled, view, mrows, mname, parent, src,
                                   scope, order)
        parts += vparts
        # member-ONLY constraints validate here; base-type facets and
        # shared identities run on the merged head table (no double
        # counting)
        extra = replace(
            view.spec,
            columns=tuple(
                c for c in view.spec.columns if c.name not in head_cols
            ),
            identities=tuple(
                i for i in view.spec.identities if i.name not in head_ids
            ),
        )
        if extra.columns or extra.identities or extra.row_assertions:
            parts.append(_table_violations(compiled, flat, extra,
                                           key=(name, mname)))
        flats.append(_aligned(flat, spec))
    return flats, parts


def _flatten_nested(compiled, name, src: _Document):
    """One NESTED table's (flat DataFrame | None, [violation parts]):
    repeated elements below a row element, exploded level by level with
    the composite ``doc#parentIndex...`` landing in the ordinary scope
    column so identities/occurs run unchanged (xsd_compile.NestedTable).
    Levels gated on an xsi:type only see parent rows carrying it
    (elements.py:657-682)."""
    spec = compiled.specs[name]
    nested = compiled.nested_tables
    nsmap = src.nsmap

    # parent chain from the TOP row element down to this table
    chain = [name]
    while nested[chain[0]].parent_table in nested:
        chain.insert(0, nested[chain[0]].parent_table)
    top = nested[chain[0]].parent_table

    parent = compiled.parent_of.get(name, top)
    container = src.container(parent)

    # level 0: the top row element's rows with their ordinal
    if top in compiled.doc_rows:
        keep = [fn for fn in container.columns if not fn.startswith("_")]
        rows = container.select(
            F.lit(0).alias("_p0"),
            F.struct(*[F.col(f"`{fn}`") for fn in keep]).alias("_row"),
        )
    else:
        sf = _field_by_local(container.schema, top)
        if sf is None:
            return None, []  # no parent rows: nothing to validate here
        if isinstance(sf.dataType, T.ArrayType):
            rows = container.select(
                F.posexplode(F.col(f"`{sf.name}`")).alias("_p0", "_row")
            )
        else:
            rows = container.select(
                F.lit(0).alias("_p0"), F.col(f"`{sf.name}`").alias("_row")
            )

    pos_cols = ["_p0"]
    for li, tbl in enumerate(chain):
        nt = nested[tbl]
        rtype = rows.schema["_row"].dataType
        if not isinstance(rtype, T.StructType):
            return None, []
        if nt.xsi_type:
            xf = _xsi_type_field(rtype, nsmap)
            if xf is None:
                return None, []
            rows = rows.filter(
                _xsi_local(F.col(f"_row.`{xf}`")) == nt.xsi_type
            )
        # navigate the single-occurrence intermediate steps
        cur, cur_type = "_row", rtype
        ok = True
        for step in nt.rel_path[:-1]:
            sf = _field_by_local(cur_type, step)
            if sf is None or not isinstance(sf.dataType, T.StructType):
                ok = False
                break
            cur, cur_type = f"{cur}.`{sf.name}`", sf.dataType
        if not ok:
            return None, []
        sf = _field_by_local(cur_type, nt.rel_path[-1])
        if sf is None:
            return None, []  # absent everywhere (occurs limitation)
        pcol = f"_p{li + 1}"
        if isinstance(sf.dataType, T.ArrayType):
            rows = rows.select(
                *pos_cols,
                F.posexplode(F.col(f"{cur}.`{sf.name}`")).alias(
                    pcol, "_row"
                ),
            )
        else:
            rows = rows.select(
                *pos_cols,
                F.lit(0).alias(pcol),
                F.col(f"{cur}.`{sf.name}`").alias("_row"),
            )
        pos_cols.append(pcol)

    # composite scope: doc + every ancestor ordinal (NOT this level's)
    scope_val = F.concat_ws(
        "#", F.lit(src.label),
        *[F.col(c).cast("string") for c in pos_cols[:-1]]
    )
    order_val = F.col(pos_cols[-1]).cast("long")

    rtype = rows.schema["_row"].dataType
    if not isinstance(rtype, T.StructType):
        # nested SIMPLE value table: the row IS the element text
        flat = rows.select(
            F.col("_row").cast("string").alias("value"),
            scope_val.alias(spec.scope_col),
            order_val.alias(spec.order_col),
        )
        return flat, []

    paths = compiled.column_paths.get(name, {})
    if set(paths) == {"value"} and tuple(paths.get("value", ())) == ():
        # simple value inferred as struct (attributes present)
        val = (
            F.col("_row.`_VALUE`")
            if "_VALUE" in rtype.fieldNames() else F.lit(None)
        )
        flat = rows.select(
            val.cast("string").alias("value"),
            scope_val.alias(spec.scope_col),
            order_val.alias(spec.order_col),
        )
        return flat, []

    # xsi:type on the nested table's own rows (issue_314: <item
    # b:type="Concrete..."/> below a document row), in this level's
    # composite scope/order
    rows, parts = _xsi_typed(compiled, name, parent, src, rows,
                             scope_val, order_val)
    flat, vparts = _apply_view(compiled, compiled.view(name), rows, name,
                               parent, src, scope_val, order_val)
    return flat, parts + vparts


def _flatten_one(compiled, name, src: _Document):
    """One table's (flat DataFrame | None, [structural violation parts])."""
    if name in compiled.nested_tables:
        return _flatten_nested(compiled, name, src)
    spec = compiled.specs[name]
    doc = src.label
    parent = compiled.parent_of.get(name, name)
    container = src.container(
        parent, preserve_space=name in compiled.preserve_space
    )
    fields = container.columns
    # top-level rows: the document label scopes them; the order is a
    # stable row id (partition-prefixed, NOT 0..n-1): enough for the
    # Occurs counts compile_xsd emits; schemas with ordered model checks
    # should land in parquet with a real order key
    scope, order = F.lit(doc), F.monotonically_increasing_id()
    parts: list = []
    member_flats: list = []  # substitution members standing in for `name`

    # a document-value table's own text IS the declared 'value' column —
    # everything else treats container _VALUE as stray char data
    has_own_text = () in {
        tuple(p) for p in compiled.column_paths.get(name, {}).values()
    }

    # container-level stray character data (legitimate when the container's
    # type is mixed="true" — complex_types.py:35)
    if "_VALUE" in fields and not has_own_text \
            and parent not in compiled.mixed_containers:
        txt = F.trim(F.col("`_VALUE`").cast("string"))
        parts.append(
            container.filter(txt.isNotNull() & (txt != "")).select(
                F.lit(doc).alias("conv_id"),
                *_viol(name, parent, "structure:char-data", txt,
                       "character data not allowed in element-only "
                       f"content of '{parent}' (cvc-complex-type.2.3)"),
            )
        )

    if name in compiled.doc_rows:
        # document-singleton table: the container element IS the row; its
        # repeated children live in their own tables (suppressed via the
        # compiler's skipped paths); _VALUE was checked container-level
        keep = [
            fn for fn in fields
            if (fn != "_VALUE" or has_own_text)
            and not fn.startswith("_xmlns") and not fn.startswith("_xsi:")
        ]
        rows = container.select(
            F.struct(*[F.col(f"`{fn}`") for fn in keep]).alias("_row")
        )
    else:
        member_flats, mparts = _members(compiled, name, parent, src,
                                        container, scope, order)
        parts += mparts
        row_field = _field_by_local(container.schema, name)
        if row_field is None and member_flats:
            # the head never appears itself; the table is its members
            return _union_all(member_flats), parts
        if row_field is None:
            # no row elements anywhere in the document: a minOccurs>0 bound
            # is still violated once per container occurrence
            # (cvc-complex-type.2.4.b content-not-complete)
            from sissaschool_xmlschema_spark import spec as S

            for occ in spec.model:
                if isinstance(occ, S.Occurs) and occ.min_occurs > 0:
                    parts.append(
                        container.select(
                            F.lit(doc).alias("conv_id"),
                            *_viol(name, parent, f"occurs:{occ.name}",
                                   F.lit("0"),
                                   f"element '{name}' occurs 0 times, "
                                   f"minOccurs is {occ.min_occurs} "
                                   "(cvc-complex-type.2.4.b)"),
                        )
                    )
            return None, parts
        rows = _element_rows(container, row_field)

    if name in compiled.simple_rows:
        # repeated SIMPLE child (menù shape): the row IS the element text;
        # an element carrying attributes infers as a struct whose text is
        # _VALUE and whose attributes are undeclared by construction
        val = F.col("_row")
        rtype = rows.schema["_row"].dataType
        if isinstance(rtype, T.StructType):
            for sf in rtype.fields:
                if sf.name == "_VALUE" or sf.name.startswith("_xmlns") \
                        or sf.name.startswith("_xsi:"):
                    continue  # xsi:nil/type machinery, same as _TableReader
                local, _, _pfx = _local_of(sf.name)
                parts.append(
                    rows.filter(
                        F.col(f"_row.`{sf.name}`").isNotNull()
                    ).select(
                        F.lit(doc).alias("conv_id"),
                        *_viol(name, parent,
                               "structure:undeclared-attribute",
                               F.col(f"_row.`{sf.name}`"),
                               f"undeclared attribute '{local}' on "
                               f"'{name}' (cvc-complex-type.3.2.2)"),
                    )
                )
            val = (
                F.col("_row.`_VALUE`")
                if "_VALUE" in rtype.fieldNames() else F.lit(None)
            )
        flat = rows.select(
            val.cast("string").alias("value"),
            scope.alias(spec.scope_col),
            order.alias(spec.order_col),
        )
        return flat, parts

    rows, xparts = _xsi_typed(compiled, name, parent, src, rows, scope,
                              order)
    rows, aparts = _alternatives(compiled, name, parent, src, rows, scope,
                                 order)
    flat, vparts = _apply_view(compiled, compiled.view(name), rows, name,
                               parent, src, scope, order)
    # substitution members merge into the head table (shared columns) so
    # occurrence bounds and identities see head + member rows together
    return _union_all([flat] + member_flats), parts + xparts + aparts + vparts


def xml_instance_tables(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
) -> dict:
    """Decode an instance to its flat tables: ``{row element: DataFrame}``.

    The engine's ``schema.decode`` / ``to_dict`` analogue (documents.py:
    230-376): same reader and path-walk as :func:`validate_xml_instance`,
    returning the flattened string-typed tables (run ``plans/decode.decode``
    on them for value-space typing) instead of violations.
    """
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir)
    )
    src = _Document(xml_path, prefix, spark)
    out: dict = {}
    for name in sorted(compiled.specs):
        flat, _parts = _flatten_one(compiled, name, src)
        if flat is not None:
            out[name] = flat
    return out


def land_xml_to_parquet(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    out_dir: str,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
) -> dict:
    """Land an instance's flat tables as parquet: ``{row element: path}``.

    The production recipe for multi-GB instances (module docstring): decode
    once with the XML reader, land each row-element table columnar, then
    validate TABULARLY — ``validate(spark.read.parquet(p), compiled.specs
    [name])`` — so every later pass is a scan-parallel parquet read with
    pushdown instead of re-parsing XML.  Cross-table keyrefs run against
    the landed key table (broadcast/hash join, identities.py:317-334)."""
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir)
    )
    paths: dict = {}
    for name, df in xml_instance_tables(
        spark, xml_path, compiled, prefix=prefix
    ).items():
        p = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def validate_xml_instance(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    table: Optional[str] = None,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
    version: str = "1.0",
) -> DataFrame:
    """All violations for one instance document in the canonical violation
    schema (``conv_id`` = document label, ``path`` = element location).

    ``table`` restricts to one row element; default validates every table
    the schema defines plus the schema's cross-table keyrefs.  ``prefix``
    overrides namespace-prefix sniffing.  ``version`` selects the XSD
    processor version for schema compilation (vc:minVersion gating).
    """
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir, version=version)
    )
    src = _Document(xml_path, prefix, spark)
    if src.unknown_encoding:
        return _document_violation(
            spark, src, _root_local_of(src.head), "structure:unknown-encoding",
            src.declared,
            f"declared encoding '{src.declared}' is not a known text "
            "encoding (XML 1.0 §4.3.3: a fatal error)",
        )
    if not compiled.specs:
        # an INAPPLICABLE schema (vc:minVersion gating, issue_349): no
        # declaration exists for the document root — one violation
        root_local = _root_local_of(src.head)
        return _document_violation(
            spark, src, root_local, "structure:no-declaration", root_local,
            f"no declaration available for document root "
            f"'{root_local}' (schema inapplicable: "
            f"{'; '.join(compiled.restrictions) or 'empty schema'})",
        )
    tables = [table] if table else sorted(compiled.specs)
    parts: list = []
    flats: dict = {}
    for name in tables:
        flat, table_parts = _flatten_one(compiled, name, src)
        parts.extend(table_parts)
        if flat is None:
            continue
        # one partition, like every table the plan sees (_table_violations):
        # the cross-table keyref joins below then need no exchange either
        flats[name] = flat.coalesce(1)
        parts.append(
            _table_violations(compiled, flats[name], compiled.specs[name])
        )

    # cross-table keyrefs (identities.py:317-334 refer_path analogue)
    for ext in compiled.external_keyrefs:
        if ext.table in flats and ext.key_table in flats:
            keys_df = flats[ext.key_table]
            if ext.last_wins:
                # key declared ON a single element: upward propagation is
                # last-sibling-override (collection3bis) — only the final
                # occurrence per document scope is a visible key
                from pyspark.sql import Window

                spec_k = compiled.specs[ext.key_table]
                w = Window.partitionBy(spec_k.scope_col).orderBy(
                    F.col(spec_k.order_col).desc()
                )
                keys_df = (
                    keys_df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            parts.append(
                keyref_violations(
                    flats[ext.table], ext.keyref, ext.table,
                    keys_df=keys_df,
                )
            )

    if not parts:
        # a VALID document whose only row element is optional and absent:
        # zero violations in the canonical schema (mirrors decode's
        # empty-fields branch)
        return spark.createDataFrame([], VIOLATION_SCHEMA)
    out = _union_all(parts)
    # the union's branches are one partition each; one task reads them all
    # and the collapse window runs over that partition without an exchange
    return _collapse_model_errors(out.coalesce(1), compiled)


def _document_violation(spark, src: _Document, path, cid, value, reason):
    """The one violation of a document that cannot be validated at all."""
    return spark.createDataFrame(
        [(src.label, None, path, cid, value, reason)], VIOLATION_SCHEMA
    )


def count_errors(
    spark: SparkSession, xml_path: str, xsd_source, **kwargs
) -> int:
    """The ``--errors=N`` number for one instance (testfiles factory)."""
    return validate_xml_instance(spark, xml_path, xsd_source, **kwargs).count()
