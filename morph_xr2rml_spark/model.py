"""xR2RML mapping model — the engine's logical plan.

Built from a Turtle mapping document; mirrors the class structure of the
reference's morph-xr2rml-lang module:
  - R2RMLMappingDocument.scala:212-300 (parse + triples-map inference),
  - R2RMLTriplesMap.scala:100-159,
  - xR2RMLLogicalSource.scala:66-151,
  - AbstractTermMap.scala:108-135 (default term types), :155-219
    (calculated collection/member properties), :272-289 (term map kind),
  - R2RMLObjectMap.scala:41-60 (default nested term map for collections),
  - R2RMLRefObjectMap.scala / R2RMLJoinCondition.scala,
  - xR2RMLPushDown.scala:30-33.

The model is a small immutable Python structure; the Spark compiler
broadcasts it to executors (it's tiny) and compiles it into a DataFrame
plan on the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from . import namespaces as NS
from .turtle import Graph, Term, parse_turtle

RR = NS.RR
RML = NS.RML
XRR = NS.XRR

# term map kinds
CONSTANT, COLUMN, TEMPLATE, REFERENCE, SIMPLE_NTM = (
    "constant", "column", "template", "reference", "simple_ntm")


@dataclass(frozen=True)
class PushDown:
    reference: str
    alias: Optional[str]  # xrr:as

    @property
    def key(self) -> str:
        return self.reference.replace("$.", "")

    @property
    def target_field(self) -> str:
        return self.alias if self.alias is not None else self.key


@dataclass(frozen=True)
class JoinCondition:
    child_ref: str
    parent_ref: str


@dataclass
class TermMap:
    kind: str                      # constant | column | template | reference | simple_ntm
    position: str                  # subject | predicate | object | graph | nested
    constant: Optional[Term] = None       # turtle term for constants
    column: Optional[str] = None
    template: Optional[str] = None
    reference: Optional[str] = None
    term_type: Optional[str] = None       # explicit rr:termType IRI
    datatype: Optional[str] = None
    language: Optional[str] = None
    language_ref: Optional[str] = None    # xrr:languageReference
    nested: Optional["TermMap"] = None    # xrr:nestedTermMap
    pushdowns: list[PushDown] = field(default_factory=list)
    ref_formulation: str = NS.REFFORM_JSONPATH

    # ---- inference rules (AbstractTermMap.scala:108-135) -----------------
    def infer_term_type(self) -> str:
        if self.term_type is not None:
            return self.term_type
        if self.position in ("object", "nested"):
            if (self.kind in (COLUMN, REFERENCE)
                    or self.language is not None or self.language_ref is not None
                    or self.datatype is not None):
                return NS.RR_LITERAL
            return NS.RR_IRI
        return NS.RR_IRI

    def is_collection_type(self) -> bool:
        return self.infer_term_type() in NS.COLLECTION_TERM_TYPES

    def is_simple_nested(self) -> bool:
        return self.kind == SIMPLE_NTM

    def calculated_props(self) -> tuple[Optional[str], str, Optional[str], Optional[str], Optional[str]]:
        """(collection_term_type, member_term_type, datatype, language,
        language_ref) — AbstractTermMap.calculateCollecTermProperties."""
        tt = self.infer_term_type()
        if tt in NS.COLLECTION_TERM_TYPES:
            if self.nested is not None:
                n = self.nested
                return (tt, n.infer_term_type(), n.datatype, n.language, n.language_ref)
            return (tt, NS.RR_LITERAL, self.datatype, self.language, self.language_ref)
        if self.nested is not None:
            n = self.nested
            return (None, n.infer_term_type(), n.datatype, n.language, n.language_ref)
        return (None, tt, self.datatype, self.language, self.language_ref)


@dataclass
class RefObjectMap:
    parent_tm: str                       # name of the parent triples map
    join_conditions: list[JoinCondition]
    term_type: Optional[str] = None      # collection term type or None

    def is_collection(self) -> bool:
        return self.term_type in NS.COLLECTION_TERM_TYPES


@dataclass
class PredicateObjectMap:
    predicate_maps: list[TermMap]
    object_maps: list[TermMap]
    ref_object_maps: list[RefObjectMap]
    graph_maps: list[TermMap] = field(default_factory=list)

    def pred_iris(self) -> Optional[list[str]]:
        """The constant IRI of every predicate map, in order (a predicate
        listed twice appears twice), or None when a predicate map is not
        a constant IRI: the POM may then emit any predicate."""
        iris = []
        for pm in self.predicate_maps:
            if pm.kind != CONSTANT or pm.constant is None \
                    or pm.constant[0] != "iri":
                return None
            iris.append(pm.constant[1])
        return iris


@dataclass
class LogicalSource:
    kind: str                            # "query" | "table" | "sql"
    value: str                           # query string or table name
    ref_formulation: str = NS.REFFORM_JSONPATH
    iterator: Optional[str] = None
    unique_refs: list[str] = field(default_factory=list)
    pushdowns: list[PushDown] = field(default_factory=list)

    def source_id(self) -> str:
        """Identity used for scan reuse / query-result caching
        (MorphMongoDataSourceReader.makeQueryMapId)."""
        return f"{self.kind}:{self.value}"

    def is_find(self) -> bool:
        """A MongoDB ``db.<coll>.find(...)`` query (MongoDBQuery.scala)."""
        return self.kind == "query" and self.value.lstrip().startswith("db.")


@dataclass
class TriplesMap:
    name: str
    logical_source: LogicalSource
    subject_map: TermMap
    class_uris: list[str]
    graph_maps: list[TermMap]
    predicate_object_maps: list[PredicateObjectMap]


def pred_slots(tm: TriplesMap) -> Optional[dict[str, tuple[list, list]]]:
    """``{predicate IRI: (object maps, referencing object maps)}`` a TM
    emits under each constant predicate, in POM order; every constant
    predicate has a key, even with no object map, and a predicate listed
    twice in one POM contributes its maps twice (the TM emits each of
    those triples twice).  None when any predicate map is not a constant
    IRI: the TM's predicate set is then unknowable.  The rr:class
    triples are not slots."""
    slots: dict = {}
    for pom in tm.predicate_object_maps:
        iris = pom.pred_iris()
        if iris is None:
            return None
        for p in iris:
            oms, roms = slots.setdefault(p, ([], []))
            oms.extend(pom.object_maps)
            roms.extend(pom.ref_object_maps)
    return slots


def tm_pred_iris(tm: TriplesMap) -> Optional[set]:
    """Constant predicate IRIs a TM can emit; None when a predicate map
    is dynamic (template/column/reference) so any predicate is possible."""
    slots = pred_slots(tm)
    if slots is None:
        return None
    return set(slots) | ({NS.RDF_TYPE} if tm.class_uris else set())


@dataclass
class MappingDocument:
    triples_maps: dict[str, TriplesMap]
    prefixes: dict[str, str]

    @classmethod
    def from_text(cls, text: str) -> "MappingDocument":
        return _Builder(parse_turtle(text)).build()

    @classmethod
    def from_file(cls, path: str) -> "MappingDocument":
        with open(path, "r", encoding="utf-8") as f:
            return cls.from_text(f.read())


_MONGO_QUERY_RE = re.compile(
    r"^\s*db\.(?P<coll>[\w.-]+)\.find\s*\(\s*(?P<filter>.*?)\s*\)\s*$", re.DOTALL)


def parse_mongo_query(query: str) -> tuple[str, str]:
    """'db.coll.find({...})' → (collection, filter_text);
    MongoDBQuery.scala:67-90."""
    m = _MONGO_QUERY_RE.match(query)
    if not m:
        raise ValueError(f"Cannot parse MongoDB query: {query!r}")
    return m.group("coll"), m.group("filter") or "{}"


class _Builder:
    def __init__(self, graph: Graph):
        self.g = graph

    def build(self) -> MappingDocument:
        g = self.g
        # Triples maps are inferred from having a logical source/table
        # (R2RMLMappingDocument.scala:288-300).
        tm_nodes = []
        seen = set()
        for prop in (XRR + "logicalSource", RR + "logicalTable"):
            for s in g.subjects_with_property(prop):
                if s not in seen:
                    seen.add(s)
                    tm_nodes.append(s)
        tms = {}
        for node in tm_nodes:
            tm = self._triples_map(node)
            tms[tm.name] = tm
        return MappingDocument(tms, dict(g.prefixes))

    # ------------------------------------------------------------------
    def _name(self, node: Term) -> str:
        return node[1]

    def _triples_map(self, node: Term) -> TriplesMap:
        g = self.g
        ls_node = g.object(node, XRR + "logicalSource") or g.object(node, RR + "logicalTable")
        ls = self._logical_source(ls_node)

        sm_node = g.object(node, RR + "subjectMap")
        if sm_node is None:
            # rr:subject shortcut
            const = g.object(node, RR + "subject")
            sm = TermMap(kind=CONSTANT, position="subject", constant=const)
            class_uris: list[str] = []
            graph_maps: list[TermMap] = []
        else:
            sm = self._term_map(sm_node, "subject", ls.ref_formulation)
            class_uris = [o[1] for o in g.objects(sm_node, RR + "class")]
            graph_maps = self._graph_maps(sm_node, ls.ref_formulation)

        poms = []
        for pom_node in g.objects(node, RR + "predicateObjectMap"):
            poms.append(self._pom(pom_node, ls.ref_formulation))
        return TriplesMap(self._name(node), ls, sm, class_uris, graph_maps, poms)

    def _logical_source(self, node: Term) -> LogicalSource:
        g = self.g
        query = g.value(node, XRR + "query") or g.value(node, RR + "sqlQuery")
        table = g.value(node, RR + "tableName")
        refform_iri = g.value(node, XRR + "referenceFormulation")
        iterator = g.value(node, RML + "iterator")
        unique_refs = [o[1] for o in g.objects(node, XRR + "uniqueRef")]
        pushdowns = self._pushdowns(node)
        if g.value(node, RR + "sqlQuery") is not None:
            kind, value = "sql", g.value(node, RR + "sqlQuery")
            default_refform = NS.REFFORM_COLUMN
        elif query is not None:
            kind, value = "query", query
            default_refform = NS.REFFORM_JSONPATH
        else:
            kind, value = "table", table or ""
            default_refform = NS.REFFORM_COLUMN
        return LogicalSource(kind, value, refform_iri or default_refform,
                             iterator, unique_refs, pushdowns)

    def _pushdowns(self, node: Term) -> list[PushDown]:
        out = []
        for pd_node in self.g.objects(node, XRR + "pushDown"):
            ref = self.g.value(pd_node, XRR + "reference")
            alias = self.g.value(pd_node, XRR + "as")
            if ref:
                out.append(PushDown(ref, alias))
        return out

    def _graph_maps(self, node: Term, refform: str) -> list[TermMap]:
        g = self.g
        out = []
        for gm_node in g.objects(node, RR + "graphMap"):
            gm = self._term_map(gm_node, "graph", refform)
            out.append(gm)
        for const in g.objects(node, RR + "graph"):
            out.append(TermMap(kind=CONSTANT, position="graph", constant=const))
        # rr:defaultGraph is filtered out (R2RMLTermMap.scala:139-144)
        return [gm for gm in out
                if not (gm.kind == CONSTANT and gm.constant is not None
                        and gm.constant[1] == RR + "defaultGraph")]

    def _term_map(self, node: Term, position: str, refform: str) -> TermMap:
        g = self.g
        constant = g.object(node, RR + "constant")
        column = g.value(node, RR + "column")
        template = g.value(node, RR + "template")
        reference = g.value(node, XRR + "reference")
        if constant is not None:
            kind = CONSTANT
        elif column is not None:
            kind = COLUMN
        elif template is not None:
            kind = TEMPLATE
        elif reference is not None:
            kind = REFERENCE
        else:
            kind = SIMPLE_NTM if position == "nested" else CONSTANT
        tt = g.value(node, RR + "termType")
        datatype = g.value(node, RR + "datatype")
        language = g.value(node, RR + "language")
        language_ref = g.value(node, XRR + "languageReference")
        ntm_node = g.object(node, XRR + "nestedTermMap")
        nested = self._term_map(ntm_node, "nested", refform) if ntm_node is not None else None
        pushdowns = self._pushdowns(node)

        tm = TermMap(kind=kind, position=position, constant=constant,
                     column=column, template=template, reference=reference,
                     term_type=tt, datatype=datatype, language=language,
                     language_ref=language_ref, nested=nested,
                     pushdowns=pushdowns, ref_formulation=refform)

        # Default nested term map for collection-typed object maps with no
        # explicit NTM (R2RMLObjectMap.scala:41-60).
        if (position in ("object", "nested") and tm.is_collection_type()
                and tm.nested is None):
            ntm_tt = NS.RR_IRI if kind == TEMPLATE else NS.RR_LITERAL
            tm.nested = TermMap(kind=SIMPLE_NTM, position="nested",
                                term_type=ntm_tt, ref_formulation=refform)
        return tm

    def _pom(self, node: Term, refform: str) -> PredicateObjectMap:
        g = self.g
        pred_maps = [self._term_map(pm, "predicate", refform)
                     for pm in g.objects(node, RR + "predicateMap")]
        for const in g.objects(node, RR + "predicate"):
            pred_maps.append(TermMap(kind=CONSTANT, position="predicate", constant=const))

        obj_maps: list[TermMap] = []
        ref_obj_maps: list[RefObjectMap] = []
        for om_node in g.objects(node, RR + "objectMap"):
            parent_tm = g.object(om_node, RR + "parentTriplesMap")
            if parent_tm is not None:
                conds = []
                for jc_node in g.objects(om_node, RR + "joinCondition"):
                    child = g.value(jc_node, RR + "child")
                    parent = g.value(jc_node, RR + "parent")
                    conds.append(JoinCondition(child, parent))
                tt = g.value(om_node, RR + "termType")
                collec_tt = tt if tt in NS.COLLECTION_TERM_TYPES else None
                ref_obj_maps.append(RefObjectMap(parent_tm[1], conds, collec_tt))
            else:
                obj_maps.append(self._term_map(om_node, "object", refform))
        for const in g.objects(node, RR + "object"):
            obj_maps.append(TermMap(kind=CONSTANT, position="object", constant=const))

        graph_maps = self._graph_maps(node, refform)
        return PredicateObjectMap(pred_maps, obj_maps, ref_obj_maps, graph_maps)
