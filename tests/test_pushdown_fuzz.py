"""Randomized differential fuzzing for the pushdown rewriter (round 6).

A seeded generator composes SPARQL queries from the TPC-H KG vocabulary
(triple-pattern chains, constants, FILTER algebra, OPTIONAL/UNION/MINUS,
VALUES, BIND, DISTINCT) and asserts answer_auto, over tabular and
document mappings, produces the SAME MULTISET of rows as the full
un-rewritten scan.  Unlike the hand-written batteries
(test_pushdown_differential.py) this explores feature INTERACTIONS the
authors didn't think of, and compares sorted multisets, not sets, so
duplicate-row divergence is caught too.

Seeds are fixed — every run explores the identical query population, so
a failure is always replayable (the query text is in the assert message).
"""

import random

import pytest

from morph_xr2rml_spark.examples import (
    TPCH_KG_MAPPING, ORDERDOC_FLAT_MAPPING, tpch_tables, orderflat_catalog)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sparql import SparqlEngine
from morph_xr2rml_spark.api import answer_auto, materialize_auto

from conftest import tier_pool

SF_DIR = "/root/testdata/sf0.001"
P = ("PREFIX ex: <http://example.com/>\n"
     "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n")

# ---------------------------------------------------------------------------
# Vocabulary of the TPC-H KG mapping (examples.py TPCH_KG_MAPPING)
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
            "HOUSEHOLD", "NOSUCHSEG"]
STATUSES = ["O", "F", "P", "X"]
CUST_IRIS = [f"<http://example.org/customer/{i}>" for i in (1, 2, 7, 9, 999999)]
ORDER_IRIS = [f"<http://example.org/order/{i}>" for i in (1, 3, 5, 7, 32, 999999)]
NATION_IRIS = [f"<http://example.org/nation/{i}>" for i in (0, 3, 7, 24, 99)]
PRICES = ["50000", "57288.56", "150000.0", "250000.0", "301000"]
BALS = ["0", "1000.5", "5000", "9000.0"]
NAME_PREFIXES = ["Customer#0000000", "Customer#00000001", "ZZZ"]


class QueryGen:
    """One seeded random SPARQL query over the customer/order/nation
    star.  Chains are built order -> customer -> nation -> region so
    every generated query is connected (no cartesian products)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.patterns = []      # strings inside WHERE
        self.filters = []
        self.vars = []          # projectable vars in order of creation

    def v(self, name):
        if name not in self.vars:
            self.vars.append(name)
        return "?" + name

    def maybe(self, p):
        return self.rng.random() < p

    # -- entity pattern builders -------------------------------------------
    def gen_customer(self, subj):
        r = self.rng
        picks = r.sample(["name", "segment", "acctbal", "class", "nation"],
                         k=r.randint(1, 3))
        for p in picks:
            if p == "name":
                if self.maybe(0.25):
                    self.patterns.append(
                        f'{subj} ex:name "Customer#000000001" .')
                else:
                    self.patterns.append(f"{subj} ex:name {self.v('nm')} .")
            elif p == "segment":
                if self.maybe(0.5):
                    self.patterns.append(
                        f'{subj} ex:segment "{r.choice(SEGMENTS)}" .')
                else:
                    self.patterns.append(f"{subj} ex:segment {self.v('sg')} .")
            elif p == "acctbal":
                self.patterns.append(f"{subj} ex:acctbal {self.v('ab')} .")
            elif p == "class":
                self.patterns.append(f"{subj} a ex:Customer .")
            elif p == "nation":
                nv = self.v("nat")
                self.patterns.append(f"{subj} ex:inNation {nv} .")
                if self.maybe(0.6):
                    self.patterns.append(f"{nv} ex:name {self.v('nn')} .")

    def gen_order(self, subj):
        r = self.rng
        picks = r.sample(["status", "price", "class", "placedBy"],
                         k=r.randint(1, 3))
        for p in picks:
            if p == "status":
                if self.maybe(0.5):
                    self.patterns.append(
                        f'{subj} ex:status "{r.choice(STATUSES)}" .')
                else:
                    self.patterns.append(f"{subj} ex:status {self.v('st')} .")
            elif p == "price":
                self.patterns.append(f"{subj} ex:totalPrice {self.v('tp')} .")
            elif p == "class":
                self.patterns.append(f"{subj} a ex:Order .")
            elif p == "placedBy":
                cv = self.v("c")
                self.patterns.append(f"{subj} ex:placedBy {cv} .")
                if self.maybe(0.7):
                    self.gen_customer(cv)

    # -- filter builders ----------------------------------------------------
    def gen_filters(self):
        r = self.rng
        for name in list(self.vars):
            var = "?" + name
            if name == "tp" and self.maybe(0.7):
                op = r.choice(["<", ">", "<=", ">=", "!=", "="])
                if self.maybe(0.3):
                    op2 = r.choice(["<", ">", "!="])
                    self.filters.append(
                        f"FILTER({var} {op} {r.choice(PRICES)} && "
                        f"{var} {op2} {r.choice(PRICES)})")
                else:
                    self.filters.append(
                        f"FILTER({var} {op} {r.choice(PRICES)})")
            elif name == "ab" and self.maybe(0.5):
                op = r.choice(["<", ">", ">=", "!="])
                self.filters.append(f"FILTER({var} {op} {r.choice(BALS)})")
            elif name == "sg" and self.maybe(0.6):
                kind = r.choice(["eq", "in", "values", "neq", "islit"])
                if kind == "eq":
                    self.filters.append(
                        f'FILTER({var} = "{r.choice(SEGMENTS)}")')
                elif kind == "neq":
                    self.filters.append(
                        f'FILTER({var} != "{r.choice(SEGMENTS)}")')
                elif kind == "in":
                    a, b = r.sample(SEGMENTS, 2)
                    self.filters.append(f'FILTER({var} IN ("{a}", "{b}"))')
                elif kind == "values":
                    a, b = r.sample(SEGMENTS, 2)
                    self.filters.append(f'VALUES {var} {{ "{a}" "{b}" }}')
                else:
                    self.filters.append(f"FILTER(isLiteral({var}))")
            elif name == "nm" and self.maybe(0.5):
                fn = r.choice(["STRSTARTS", "STRENDS", "CONTAINS", "regex"])
                lit = r.choice(NAME_PREFIXES)
                if fn == "regex":
                    self.filters.append(f'FILTER(regex({var}, "^{lit}"))')
                elif fn == "STRENDS":
                    self.filters.append(f'FILTER(STRENDS({var}, "1"))')
                else:
                    self.filters.append(f'FILTER({fn}({var}, "{lit}"))')
            elif name == "c" and self.maybe(0.3):
                kind = r.choice(["eq", "values", "isiri"])
                if kind == "eq":
                    self.filters.append(
                        f"FILTER({var} = {r.choice(CUST_IRIS)})")
                elif kind == "values":
                    a, b = r.sample(CUST_IRIS, 2)
                    self.filters.append(f"VALUES {var} {{ {a} {b} }}")
                else:
                    self.filters.append(f"FILTER(isIRI({var}))")

    # -- assembly -----------------------------------------------------------
    def build(self):
        r = self.rng
        root = r.choice(["order", "customer"])
        if root == "order":
            subj = (r.choice(ORDER_IRIS) if self.maybe(0.15)
                    else self.v("o") and "?o")
            self.gen_order(subj)
        else:
            subj = (r.choice(CUST_IRIS) if self.maybe(0.15)
                    else self.v("cu") and "?cu")
            self.gen_customer(subj)
        self.subj = subj
        self.gen_filters()

        body = self.patterns[:]
        # OPTIONAL-wrap a random non-first pattern (required part keeps
        # its constraints; rewriter must not prune on the optional part)
        if len(body) > 1 and self.maybe(0.35):
            i = r.randrange(1, len(body))
            body[i] = "OPTIONAL { " + body[i] + " }"
        # MINUS a segment exclusion
        if self.maybe(0.2):
            mv = "?cu" if root == "customer" else "?c"
            body.append(
                f'MINUS {{ {mv} ex:segment "{r.choice(SEGMENTS)}" }}')
        # UNION branch anchored on the root subject (order subjects make
        # the ex:name branch empty — a legitimate edge)
        if self.maybe(0.2):
            body.append(f"{{ {self.subj} ex:name {self.v('ux') and '?ux'} }}"
                        f" UNION {{ {self.subj} ex:segment ?ux }}")
        # BIND a constant that collides with an existing var
        if "sg" in self.vars and self.maybe(0.25):
            body.insert(0, f'BIND("{r.choice(SEGMENTS)}" AS ?sg)')

        proj = "*" if self.maybe(0.3) else " ".join(
            "?" + n for n in r.sample(self.vars, min(len(self.vars),
                                                     r.randint(1, 3)))) or "*"
        distinct = "DISTINCT " if self.maybe(0.3) else ""
        where = "\n  ".join(body + self.filters)
        return f"SELECT {distinct}{proj} WHERE {{\n  {where}\n}}"


# ---------------------------------------------------------------------------
# Tabular tier
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tab_env(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    return mapping, tables, SparqlEngine(full, dedup_source=True)


TAB_SEEDS = list(range(101, 131))


@pytest.mark.parametrize("seed", TAB_SEEDS)
def test_fuzz_tabular_rewrite_equals_full(spark, tab_env, seed):
    mapping, tables, engine = tab_env
    q = P + QueryGen(seed).build()
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, tables=tables).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"


# ---------------------------------------------------------------------------
# Document tier — flat order documents (ODoc vocabulary: status/cust/
# priority references, uniqueRef $.ok subjects)
# ---------------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW", "9-NOPE"]


class DocQueryGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def build(self):
        r = self.rng
        pats, filts, vars_ = [], [], []

        def v(n):
            if n not in vars_:
                vars_.append(n)
            return "?" + n

        subj = (f"<http://example.org/odoc/{r.choice([1, 3, 5, 999999])}>"
                if r.random() < 0.2 else v("s") and "?s")
        picks = r.sample(["status", "cust", "priority", "class"],
                         k=r.randint(1, 3))
        for p in picks:
            if p == "status":
                if r.random() < 0.5:
                    pats.append(f'{subj} ex:status "{r.choice(STATUSES)}" .')
                else:
                    pats.append(f"{subj} ex:status {v('st')} .")
            elif p == "cust":
                pats.append(f"{subj} ex:cust {v('ck')} .")
            elif p == "priority":
                if r.random() < 0.4:
                    pats.append(
                        f'{subj} ex:priority "{r.choice(PRIORITIES)}" .')
                else:
                    pats.append(f"{subj} ex:priority {v('pr')} .")
            else:
                pats.append(f"{subj} a ex:ODoc .")
        for n in list(vars_):
            var = "?" + n
            if n == "ck" and r.random() < 0.6:
                op = r.choice(["<", ">", "!=", "="])
                filts.append(f"FILTER({var} {op} {r.choice(['50', '500', '1200'])})")
            elif n == "pr" and r.random() < 0.6:
                kind = r.choice(["starts", "contains", "in", "regex"])
                if kind == "starts":
                    filts.append(f'FILTER(STRSTARTS({var}, "{r.choice(["1-", "2-", "9-"])}"))')
                elif kind == "contains":
                    filts.append(f'FILTER(CONTAINS({var}, "URG"))')
                elif kind == "in":
                    a, b = r.sample(PRIORITIES, 2)
                    filts.append(f'FILTER({var} IN ("{a}", "{b}"))')
                else:
                    filts.append(f'FILTER(regex({var}, "HIGH$"))')
            elif n == "st" and r.random() < 0.5:
                if r.random() < 0.5:
                    a, b = r.sample(STATUSES, 2)
                    filts.append(f'VALUES {var} {{ "{a}" "{b}" }}')
                else:
                    filts.append(f'FILTER({var} = "{r.choice(STATUSES)}")')
        body = pats[:]
        if len(body) > 1 and r.random() < 0.3:
            i = r.randrange(1, len(body))
            body[i] = "OPTIONAL { " + body[i] + " }"
        proj = "*" if r.random() < 0.4 else " ".join(
            "?" + n for n in r.sample(vars_, min(len(vars_), 2))) or "*"
        distinct = "DISTINCT " if r.random() < 0.3 else ""
        where = "\n  ".join(body + filts)
        return f"SELECT {distinct}{proj} WHERE {{\n  {where}\n}}"


@pytest.fixture(scope="module")
def doc_env(spark):
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    catalog = orderflat_catalog(spark, SF_DIR)
    full = materialize_auto(spark, mapping, catalog=catalog, dedup=False)
    return mapping, catalog, SparqlEngine(full, dedup_source=True)


DOC_SEEDS = list(range(201, 216))


@pytest.mark.parametrize("seed", DOC_SEEDS)
def test_fuzz_document_rewrite_equals_full(spark, doc_env, seed):
    mapping, catalog, engine = doc_env
    q = P + DocQueryGen(seed).build()
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, catalog=catalog).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"


# ---------------------------------------------------------------------------
# Graph-context tier (round 6): GRAPH clauses + FROM/FROM NAMED dataset
# clauses over a graph-mapped mapping — the rewriter's graph candidacy
# pruning and graph-template inversion must never change the answer.
# ---------------------------------------------------------------------------

GRAPHS = [f"<http://example.org/g/{i}>" for i in (0, 2, 4, 7)] + \
         ["<http://example.com/gnames>", "<http://example.com/nope>"]


class GraphQueryGen:
    """Seeded random query over the GRAPH_KG_MAPPING nation/region star:
    patterns land in a random graph context (default / GRAPH <g> /
    GRAPH ?g), optionally under FROM / FROM NAMED dataset clauses."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def build(self):
        r = self.rng
        vars_ = []

        def v(n):
            if n not in vars_:
                vars_.append(n)
            return "?" + n

        pats = []
        picks = r.sample(["name", "class", "region"], k=r.randint(1, 3))
        subj = (f"<http://example.org/nation/{r.choice([1, 7, 99])}>"
                if r.random() < 0.2 else v("s") and "?s")
        for p in picks:
            if p == "name":
                pats.append(f"{subj} ex:name {v('n')} .")
            elif p == "class":
                pats.append(f"{subj} a ex:Nation .")
            else:
                pats.append(f"{subj} ex:inRegion {v('rg')} .")
        # region names live in the DEFAULT graph: a cross-graph join
        if "rg" in vars_ and r.random() < 0.5:
            pats.append("?rg ex:name ?rn ." if r.random() < 0.5
                        else "OPTIONAL { ?rg ex:name ?rn }")
            v("rn")

        ctx = r.choice(["default", "const", "var", "mixed"])
        if ctx == "const":
            body = [f"GRAPH {r.choice(GRAPHS)} {{ {' '.join(pats[:1])} }}"] \
                + pats[1:]
        elif ctx == "var":
            body = [f"GRAPH {v('g')} {{ {' '.join(pats[:1])} }}"] + pats[1:]
        elif ctx == "mixed" and len(pats) > 1:
            body = [f"GRAPH {r.choice(GRAPHS + ['?g'])} "
                    f"{{ {' '.join(pats[:2])} }}"] + pats[2:]
        else:
            body = pats

        dataset = ""
        if r.random() < 0.5:
            for g in r.sample(GRAPHS, r.randint(1, 2)):
                dataset += ("FROM NAMED " if r.random() < 0.5
                            else "FROM ") + g + " "

        proj = "*" if r.random() < 0.5 else " ".join(
            "?" + n for n in r.sample(vars_, min(len(vars_), 2))) or "*"
        distinct = "DISTINCT " if r.random() < 0.3 else ""
        where = "\n  ".join(body)
        return (f"SELECT {distinct}{proj} {dataset}"
                f"WHERE {{\n  {where}\n}}")


@pytest.fixture(scope="module")
def graph_env(spark):
    from morph_xr2rml_spark.examples import GRAPH_KG_MAPPING
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    full = tier_pool(spark, mapping, "native", tables, fused=False)
    return mapping, tables, SparqlEngine(full)


GRAPH_SEEDS = list(range(501, 526))


@pytest.mark.parametrize("seed", GRAPH_SEEDS)
def test_fuzz_graph_rewrite_equals_full(spark, graph_env, seed):
    mapping, tables, engine = graph_env
    q = P + GraphQueryGen(seed).build()
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, tables=tables).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"


# ---------------------------------------------------------------------------
# Document-tier graph contexts: the same GRAPH/FROM shapes over a
# graph-mapped JSON collection (constraints compose into find()).
# ---------------------------------------------------------------------------

GRAPH_DOC_FUZZ_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#D> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.gdocs.find({})"; xrr:uniqueRef "$.id" ];
    rr:subjectMap [ rr:template "http://example.org/d/{$.id}";
                    rr:class ex:Doc;
                    rr:graphMap [ rr:template "http://example.org/g/{$.ga}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.val" ];
                            rr:graphMap [ rr:constant ex:gv ] ];
    rr:predicateObjectMap [ rr:predicate ex:tag;
                            rr:objectMap [ xrr:reference "$.tag" ] ].
"""

DOC_GRAPHS = ["<http://example.org/g/x>", "<http://example.org/g/y>",
              "<http://example.com/gv>", "<http://example.com/nope>"]


class DocGraphQueryGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def build(self):
        r = self.rng
        vars_ = []

        def v(n):
            if n not in vars_:
                vars_.append(n)
            return "?" + n

        pats = []
        for p in r.sample(["v", "tag", "class"], k=r.randint(1, 3)):
            subj = v("s") and "?s"
            if p == "v":
                pats.append(f"{subj} ex:v {v('x')} .")
            elif p == "tag":
                pats.append(f"{subj} ex:tag {v('t')} .")
            else:
                pats.append(f"{subj} a ex:Doc .")
        ctx = r.choice(["default", "const", "var"])
        if ctx == "const":
            body = [f"GRAPH {r.choice(DOC_GRAPHS)} "
                    f"{{ {' '.join(pats)} }}"]
        elif ctx == "var":
            body = [f"GRAPH {v('g')} {{ {' '.join(pats)} }}"]
        else:
            body = pats
        dataset = ""
        if r.random() < 0.4:
            for g in r.sample(DOC_GRAPHS, r.randint(1, 2)):
                dataset += ("FROM NAMED " if r.random() < 0.5
                            else "FROM ") + g + " "
        proj = "*" if r.random() < 0.5 else " ".join(
            "?" + n for n in r.sample(vars_, min(len(vars_), 2))) or "*"
        return (f"SELECT {proj} {dataset}"
                f"WHERE {{\n  {' '.join(body)}\n}}")


@pytest.fixture(scope="module")
def doc_graph_env(spark):
    import json as _json
    docs = [_json.dumps({"id": i, "ga": "x" if i % 2 else "y",
                         "val": f"V{i}", "tag": f"T{i % 3}"})
            for i in range(12)]
    from morph_xr2rml_spark.sources import SourceCatalog
    cat = SourceCatalog().register_collection(
        "gdocs", spark.createDataFrame([(d,) for d in docs],
                                       "content string"))
    mapping = MappingDocument.from_text(GRAPH_DOC_FUZZ_MAPPING)
    from morph_xr2rml_spark.engine import SparkMaterializer
    pool = SparkMaterializer(spark, mapping, cat).triples()
    return mapping, cat, SparqlEngine(pool)


DOC_GRAPH_SEEDS = list(range(701, 719))


@pytest.mark.parametrize("seed", DOC_GRAPH_SEEDS)
def test_fuzz_doc_graph_rewrite_equals_full(spark, doc_graph_env, seed):
    mapping, cat, engine = doc_graph_env
    q = P + DocGraphQueryGen(seed).build()
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, catalog=cat).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"
