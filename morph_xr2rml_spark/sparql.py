"""SPARQL evaluation over the materialized triple DataFrame.

The reference answers SPARQL by rewriting it into MongoDB/SQL queries
(SURVEY §3.2/3.3 — ~2000 LoC of per-database translators).  The
Spark-first equivalent: materialize once into a triple table, then
evaluate SPARQL algebra directly as DataFrame self-joins — BGP joins on
shared variables, OPTIONAL as left join, UNION as unionByName, FILTER as
Column predicates, GROUP BY/aggregates and ORDER/LIMIT native.  Catalyst
gets the whole plan (join reordering, broadcast, pushdown on the triple
scan), replacing the reference's condition-translation machinery
(MorphBaseQueryTranslator.scala:227-355, JsonPathToMongoTranslator
rules R0-R9) with… nothing: predicates on the triple table push down.

Supported subset: SELECT [DISTINCT] with projection / aggregates,
BGP (object lists, blank-node labels and [ ... ] property lists),
FILTER (comparisons, &&, ||, !, IN/NOT IN, regex, bound, isIRI,
isLiteral, isBlank, isNumeric, sameTerm, langMatches, STRSTARTS/
STRENDS/CONTAINS, UCASE/LCASE/STRLEN/SUBSTR/STRBEFORE/STRAFTER/REPLACE,
ENCODE_FOR_URI, ABS/CEIL/FLOOR/ROUND, YEAR/MONTH/DAY/HOURS/MINUTES/
SECONDS/TZ, MD5/SHA1/SHA256/SHA384/SHA512, UUID/STRUUID, NOW,
xsd:TYPE(expr) constructor casts,
LANG/DATATYPE/STR, EXISTS/NOT EXISTS), MINUS, OPTIONAL, UNION, VALUES,
BIND, GRAPH, subqueries, property paths (/ | ^ + * ?), GROUP BY,
ORDER BY (vars and expressions), LIMIT/OFFSET; plus ASK, CONSTRUCT,
DESCRIBE.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, functions as F

_log = logging.getLogger(__name__)

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_XSD = frozenset(_XSD_NS + t for t in (
    "integer", "decimal", "double", "float", "int", "long", "short",
    "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
    "nonPositiveInteger", "unsignedInt", "unsignedLong", "unsignedShort",
    "unsignedByte"))

# ---------------------------------------------------------------------------
# Query model
# ---------------------------------------------------------------------------

@dataclass
class TriplePattern:
    s: tuple  # ("var", name) | ("iri", value) | ("lit", lexical-form)
    p: tuple
    o: tuple


@dataclass
class Group:
    patterns: list = field(default_factory=list)   # TriplePattern
    filters: list = field(default_factory=list)    # filter ASTs
    optionals: list = field(default_factory=list)  # Group
    unions: list = field(default_factory=list)     # [Group, Group]
    values: list = field(default_factory=list)     # [([vars], [rows of terms])]
    binds: list = field(default_factory=list)      # [(var, expr AST)]
    graphs: list = field(default_factory=list)     # [(graph term, Group)]
    subqueries: list = field(default_factory=list)  # [SelectQuery]
    minuses: list = field(default_factory=list)    # [Group]
    exists: list = field(default_factory=list)     # [(positive: bool, Group)]


@dataclass
class SelectQuery:
    variables: list            # ["x", ...] or ["*"]
    aggregates: list           # [(func, var_or_None, distinct, alias, sep)]
    select_exprs: list = field(default_factory=list)  # [(alias, expr AST)]
    where: Group = None
    distinct: bool = False
    group_by: list = field(default_factory=list)
    order_by: list = field(default_factory=list)   # [(var, asc)]
    having: list = field(default_factory=list)     # filter ASTs over aggs
    limit: Optional[int] = None
    offset: Optional[int] = None
    is_ask: bool = False
    construct: Optional[list] = None    # [TriplePattern] template
    describe: Optional[list] = None     # [term] resources / vars
    from_graphs: list = field(default_factory=list)  # FROM <g> merge
    from_named: list = field(default_factory=list)   # FROM NAMED <g>


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

def _canon_string_token(tok: str) -> str:
    """Normalize any SPARQL string form ('…', '''…''', \"\"\"…\"\"\") to
    the canonical short double-quoted token the rest of the engine
    expects: source-quote escapes unwrap, raw quotes/newlines from the
    long forms re-escape, existing escape sequences pass through."""
    if tok[:3] in ('"""', "'''"):
        body = tok[3:-3]
    elif tok[0] == '"':
        return tok                   # already canonical short form
    else:
        body = tok[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "'":
                out.append("'")      # \' needs no escape in "…"
            else:
                out.append(c + nxt)
            i += 2
            continue
        if c == '"':
            out.append('\\"')
        elif c == "\n":
            out.append("\\n")
        elif c == "\r":
            out.append("\\r")
        else:
            out.append(c)
        i += 1
    return '"' + "".join(out) + '"'


_TOKEN = re.compile(r"""
      (?P<STR>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"
             |'''(?:[^'\\]|\\.|'(?!''))*'''
             |"(?:[^"\\]|\\.)*"
             |'(?:[^'\\]|\\.)*')
    | (?P<IRI><[^>\s]*>)
    | (?P<VAR>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<BNODE>_:[A-Za-z0-9][A-Za-z0-9_.-]*)
    | (?P<NUM>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<LANGTAG>@[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*)
    | (?P<PNAME>(?:[A-Za-z][A-Za-z0-9_-]*)?:[A-Za-z0-9_.-]*)
    | (?P<KW>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP><=|>=|!=|\|\||&&|\[\]|[=<>!(){}\[\].,;*+/^?|-])
    | (?P<WS>\s+)
    | (?P<COMMENT>\#[^\n]*)
""", re.VERBOSE)


class _P:
    def __init__(self, text: str):
        self.toks = []
        pos = 0
        while pos < len(text):
            m = _TOKEN.match(text, pos)
            if not m:
                raise ValueError(f"SPARQL tokenize error at {text[pos:pos+30]!r}")
            pos = m.end()
            if m.lastgroup in ("WS", "COMMENT"):
                continue
            val = m.group(0)
            if m.lastgroup == "STR":
                val = _canon_string_token(val)
            self.toks.append((m.lastgroup, val))
        self.toks.append(("EOF", ""))
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._anon = 0   # fresh-variable counter for [] / [ ... ] bnodes

    def peek(self, k=0):
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val):
        t = self.next()
        if t[1].upper() != val.upper():
            raise ValueError(f"SPARQL parse: expected {val!r}, got {t[1]!r}")
        return t

    def kw(self, val) -> bool:
        if self.peek()[1].upper() == val.upper():
            self.next()
            return True
        return False

    def _dataset_clauses(self, q: SelectQuery) -> None:
        """DatasetClause* (SPARQL §13.2): FROM <g> graphs MERGE into the
        query's default graph; FROM NAMED <g> lists the named graphs
        available to GRAPH.  Either clause alone leaves the other side
        of the dataset EMPTY."""
        while self.kw("FROM"):
            named = self.kw("NAMED")
            t = self._term()
            if t[0] != "iri":
                raise ValueError("SPARQL parse: FROM expects an IRI")
            (q.from_named if named else q.from_graphs).append(t[1])

    def _order_slice(self, q: SelectQuery) -> None:
        """ORDER BY + LIMIT/OFFSET — shared by all four query forms
        (the SolutionModifier tail of the grammar)."""
        if self.kw("ORDER"):
            self.expect("BY")
            while True:
                t = self.peek()
                if t[1].upper() in ("ASC", "DESC"):
                    asc = self.next()[1].upper() == "ASC"
                    self.expect("(")
                    q.order_by.append((self._order_key(), asc))
                    self.expect(")")
                elif t[0] == "VAR" or (
                        t[0] == "KW" and self.peek(1)[1] == "("
                        and t[1].upper() not in ("LIMIT", "OFFSET",
                                                 "VALUES")):
                    # expression order key (e.g. STR(?x)); the exclusion
                    # mirrors the GROUP BY condition loop so a postfix
                    # "VALUES (?v) { ... }" block is not eaten as a key
                    q.order_by.append((self._order_key(), True))
                else:
                    break
        while True:   # LIMIT/OFFSET appear in either order (SPARQL §18.2)
            if self.kw("LIMIT"):
                q.limit = int(self.next()[1])
            elif self.kw("OFFSET"):
                q.offset = int(self.next()[1])
            else:
                break

    # --- grammar -------------------------------------------------------
    def parse(self) -> SelectQuery:
        while self.kw("PREFIX"):
            pname = self.next()[1]
            iri = self.next()[1]
            self.prefixes[pname.rstrip(":")] = iri[1:-1]
        if self.kw("ASK"):
            q = SelectQuery(variables=["*"], aggregates=[])
            q.is_ask = True
            self._dataset_clauses(q)
            self.kw("WHERE")
            q.where = self._group()
            self._order_slice(q)   # grammar-legal; existence unaffected
            return q
        if self.kw("CONSTRUCT"):
            q = SelectQuery(variables=["*"], aggregates=[])
            if self.peek()[1].upper() in ("WHERE", "FROM"):
                # CONSTRUCT WHERE { ... } shorthand (SPARQL 1.1 §10.2.3):
                # the pattern doubles as the template
                self._dataset_clauses(q)
                self.expect("WHERE")
                q.where = self._group()
                q.construct = q.where.patterns
            else:
                tmpl_group = self._group()
                q.construct = tmpl_group.patterns
                self._dataset_clauses(q)
                self.expect("WHERE")
                q.where = self._group()
            self._order_slice(q)
            return q
        if self.kw("DESCRIBE"):
            # DESCRIBE <uri>... / DESCRIBE ?v WHERE {...} — the reference
            # expands each resource into { <uri> ?p ?x } UNION { ?y ?q <uri> }
            # (SparqlQueryRewriter.scala:116-152)
            q = SelectQuery(variables=["*"], aggregates=[])
            q.describe = []
            while self.peek()[0] in ("IRI", "PNAME", "VAR"):
                q.describe.append(self._term())
            self._dataset_clauses(q)
            if self.kw("WHERE"):
                q.where = self._group()
            self._order_slice(q)
            return q
        self.expect("SELECT")
        q = SelectQuery(variables=[], aggregates=[])
        # REDUCED permits (but does not require) duplicate elimination
        # (§18.2.5.2): answering with the DISTINCT solution set is a
        # conformant — and deterministic — implementation
        q.distinct = self.kw("DISTINCT") or self.kw("REDUCED")
        while True:
            t = self.peek()
            if t[1] == "*":
                self.next()
                q.variables.append("*")
            elif t[0] == "VAR":
                q.variables.append(self.next()[1][1:])
            elif t[1] == "(":
                self.next()
                nxt = self.peek()
                if nxt[0] == "KW" and nxt[1].upper() in (
                        "COUNT", "SUM", "AVG", "MIN", "MAX",
                        "GROUP_CONCAT", "SAMPLE") \
                        and self.peek(1)[1] == "(":
                    func = self.next()[1].upper()
                    self.expect("(")
                    distinct = self.kw("DISTINCT")
                    if self.peek()[1] == "*":
                        self.next()
                        var = None
                    else:
                        # aggregate input: a bare variable (kept as its
                        # name) or any expression (kept as its AST,
                        # computed pre-grouping)
                        inner_e = self._additive()
                        var = inner_e[1] if (isinstance(inner_e, tuple)
                                             and inner_e[0] == "var") \
                            else inner_e
                    sep = " "
                    if self.peek()[1] == ";":   # GROUP_CONCAT separator
                        self.next()
                        self.expect("SEPARATOR")
                        self.expect("=")
                        sep = self.next()[1][1:-1]
                    self.expect(")")
                    self.expect("AS")
                    alias = self.next()[1][1:]
                    self.expect(")")
                    q.aggregates.append((func, var, distinct, alias, sep))
                    q.variables.append(alias)   # preserve SELECT order
                else:
                    # SELECT expression: (expr AS ?alias) — arithmetic,
                    # string functions, COALESCE/IF over pattern vars
                    expr = self._additive()
                    self.expect("AS")
                    alias = self.next()[1][1:]
                    self.expect(")")
                    q.select_exprs.append((alias, expr))
                    q.variables.append(alias)
            else:
                break
        self._dataset_clauses(q)
        self.expect("WHERE")
        q.where = self._group()
        if self.kw("GROUP"):
            self.expect("BY")
            while True:
                t = self.peek()
                if t[0] == "VAR":
                    q.group_by.append(self.next()[1][1:])
                elif t[1] == "(":
                    # GroupCondition '(' Expression ('AS' Var)? ')': the
                    # key computes pre-grouping as a select expression;
                    # '#'-prefixed internal keys never project
                    self.next()
                    expr = self._additive()
                    alias = self.next()[1][1:] if self.kw("AS") \
                        else f"#gk{len(q.group_by)}"
                    self.expect(")")
                    q.select_exprs.append((alias, expr))
                    q.group_by.append(alias)
                elif t[0] == "KW" and self.peek(1)[1] == "(" \
                        and t[1].upper() not in ("HAVING", "ORDER",
                                                 "LIMIT", "OFFSET",
                                                 "VALUES"):
                    # bare BuiltInCall group condition, e.g. STR(?x)
                    expr = self._additive()
                    alias = f"#gk{len(q.group_by)}"
                    q.select_exprs.append((alias, expr))
                    q.group_by.append(alias)
                else:
                    break
        while self.kw("HAVING"):
            q.having.append(self._filter_expr())
        self._order_slice(q)
        if self.kw("VALUES"):
            # postfix ValuesClause (§18.2.4.7): joins the WHERE pattern's
            # solutions — same algebra as a group-level VALUES block
            q.where.values.append(self._values_block())
        return q

    def _values_block(self):
        """VALUES data block after the keyword: single-var or multi-var
        form; returns ([vars], [rows of terms])."""
        if self.peek()[1] == "(":
            # multi-var form: VALUES (?x ?y) { (a b) (c d) }
            self.next()
            vars_ = []
            while self.peek()[0] == "VAR":
                vars_.append(self.next()[1][1:])
            self.expect(")")
            self.expect("{")
            rows = []
            while self.peek()[1] == "(":
                self.next()
                row = []
                while self.peek()[1] != ")":
                    row.append(self._term())
                self.next()
                if len(row) != len(vars_):
                    raise ValueError("VALUES row arity mismatch")
                rows.append(row)
            self.expect("}")
            return (vars_, rows)
        var = self.next()[1][1:]
        self.expect("{")
        terms = []
        while not (self.peek()[1] == "}"):
            terms.append(self._term())
        self.next()
        return ([var], [[t] for t in terms])

    def _order_key(self):
        """ORDER BY key: plain variable (kept as a bare name for the
        projection-column path) or an expression (operand AST)."""
        ast = self._operand()
        return ast[1] if ast[0] == "var" else ast

    def _group(self) -> Group:
        self.expect("{")
        g = Group()
        while True:
            t = self.peek()
            if t[1] == "}":
                self.next()
                break
            if t[1] == ".":   # stray separator after BIND/FILTER/'}'
                self.next()
                continue
            if t[1].upper() == "FILTER":
                self.next()
                nxt = self.peek()
                if nxt[1].upper() == "EXISTS":
                    self.next()
                    g.exists.append((True, self._group()))
                elif nxt[1].upper() == "NOT":
                    self.next()
                    self.expect("EXISTS")
                    g.exists.append((False, self._group()))
                else:
                    # parenthesized (NOT) EXISTS — alone or inside a
                    # compound boolean — routes through the expression
                    # machinery (existsexpr marker columns)
                    g.filters.append(self._filter_expr())
            elif t[1].upper() == "MINUS":
                self.next()
                g.minuses.append(self._group())
            elif t[1].upper() == "VALUES":
                self.next()
                g.values.append(self._values_block())
            elif t[1].upper() == "BIND":
                self.next()
                self.expect("(")
                expr = self._bind_expr()
                self.expect("AS")
                var = self.next()[1][1:]
                self.expect(")")
                g.binds.append((var, expr))
            elif t[1].upper() == "OPTIONAL":
                self.next()
                g.optionals.append(self._group())
            elif t[1].upper() == "GRAPH":
                self.next()
                gterm = self._term()
                g.graphs.append((gterm, self._group()))
            elif t[1] == "{":
                if self.peek(1)[1].upper() == "SELECT":
                    # subquery: { SELECT ... WHERE {...} ... }
                    self.next()
                    g.subqueries.append(self.parse())
                    self.expect("}")
                else:
                    left = self._group()
                    self.expect("UNION")
                    right = self._group()
                    # GroupOrUnionGraphPattern allows a UNION chain;
                    # fold left-associatively into nested pair groups
                    while self.peek()[1].upper() == "UNION":
                        self.next()
                        merged = Group()
                        merged.unions.append((left, right))
                        left, right = merged, self._group()
                    g.unions.append((left, right))
            else:
                g.patterns.extend(self._triples_same_subject())
                if self.peek()[1] == ".":
                    self.next()
        return g

    def _term(self) -> tuple:
        t = self.next()
        if t[1] == "(" and self.peek()[1] == ")":
            self.next()              # NIL: the empty collection
            return ("iri",
                    "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil")
        if t[0] == "VAR":
            return ("var", t[1][1:])
        if t[0] == "IRI":
            return ("iri", t[1][1:-1])
        if t[0] == "PNAME":
            prefix, _, local = t[1].partition(":")
            return ("iri", self.prefixes[prefix] + local)
        if t[0] == "STR":
            lex = t[1]
            nxt = self.peek()
            if nxt[0] == "LANGTAG":
                # lang-tagged literal: exact term "lex"@lang
                self.next()
                return ("lit_exact", lex + nxt[1])
            if nxt[1] == "^":
                # typed literal: "lex"^^<dt> / "lex"^^xsd:dt — exact term
                self.next()
                self.expect("^")
                dt = self._term()
                if dt[0] != "iri":
                    raise ValueError("datatype must be an IRI")
                return ("lit_exact", f"{lex}^^<{dt[1]}>")
            return ("lit", lex)
        if t[0] == "NUM":
            return ("num", t[1])
        if t[0] == "BNODE":
            # a blank node in a query pattern is a non-projectable
            # variable (SPARQL 1.1 §4.1.4); scope it with a column-safe
            # internal name
            return ("var", "#bn_" + t[1][2:])
        if t[0] == "KW" and t[1] == "a":
            return ("iri", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
        if t[0] == "KW" and t[1].upper() == "UNDEF":
            return ("undef", None)   # VALUES wildcard
        if t[0] == "KW" and t[1] in ("true", "false"):
            return ("lit_exact",
                    f'"{t[1]}"^^<http://www.w3.org/2001/XMLSchema#boolean>')
        raise ValueError(f"SPARQL parse: unexpected term {t!r}")

    def _fresh_anon(self) -> tuple:
        self._anon += 1
        return ("var", f"#anon{self._anon}")

    def _node(self, out: list) -> tuple:
        """A subject/object node: plain term, '[]' anonymous bnode, or a
        '[ p o ; ... ]' blank-node property list (its triples append to
        ``out`` with a fresh variable as their subject)."""
        t = self.peek()
        if t[1] == "[]":
            self.next()
            return self._fresh_anon()
        if t[1] == "[":
            self.next()
            node = self._fresh_anon()
            while self.peek()[1] != "]":
                p = self._pred_path()
                self._objects(node, p, out)
                if self.peek()[1] == ";":
                    self.next()
            self.expect("]")
            return node
        return self._term()

    def _objects(self, s: tuple, p, out: list) -> None:
        """Object list: o1, o2, ... — one triple per object."""
        while True:
            o = self._node(out)
            out.append(TriplePattern(s, p, o))
            if self.peek()[1] == ",":
                self.next()
                continue
            break

    def _starts_path(self) -> bool:
        """Can the next token begin a predicate path?"""
        t = self.peek()
        return (t[0] in ("IRI", "PNAME", "VAR")
                or (t[0] == "KW" and t[1] == "a")
                or t[1] in ("^", "(", "!"))

    def _triples_same_subject(self) -> list[TriplePattern]:
        out: list[TriplePattern] = []
        s = self._node(out)
        while True:
            if not self._starts_path():   # '[ ... ] .' / '[...] FILTER ...'
                if not out:
                    raise ValueError(
                        f"SPARQL parse: expected predicate after subject "
                        f"{s!r}, got {self.peek()[1]!r}")
                break
            p = self._pred_path()
            self._objects(s, p, out)
            if self.peek()[1] == ";":
                self.next()
                if self.peek()[1] in ("}", ".", ";"):
                    break   # trailing ';' before group end is legal
                continue
            break
        return out

    def _pred_path(self):
        """Predicate position: IRI, variable, or a property path —
        alternative `p1|p2`, sequence `p1/p2/...`, transitive `p+`,
        reflexive-transitive `p*`, zero-or-one `p?`, inverse `^p`."""
        first = self._path_seq()
        if self.peek()[1] != "|":
            return first
        alts = [first]
        while self.peek()[1] == "|":
            self.next()
            alts.append(self._path_seq())
        return ("alt", alts)

    def _path_seq(self):
        first = self._path_elt()
        if self.peek()[1] != "/":
            return first
        elts = [first]
        while self.peek()[1] == "/":
            self.next()
            elts.append(self._path_elt())
        return ("seq", elts)

    def _path_elt(self):
        if self.peek()[1] == "!":
            # negated property set: !iri, !^iri, !(iri1|^iri2|...) —
            # forward and inverse members (SPARQL 1.1 §18.2.2.3: the
            # forward part matches preds outside the forward set, the
            # inverse part matches REVERSE edges with preds outside the
            # inverse set; a side with no members contributes nothing)
            self.next()
            fwd: list[str] = []
            inv: list[str] = []

            def member():
                inverse = self.peek()[1] == "^"
                if inverse:
                    self.next()
                t = self._term()
                if t[0] != "iri":
                    raise ValueError(
                        "negated property sets support IRI members only")
                (inv if inverse else fwd).append(t[1])

            if self.peek()[1] == "(":
                self.next()
                while True:
                    member()
                    if self.peek()[1] == "|":
                        self.next()
                        continue
                    break
                self.expect(")")
            else:
                member()
            return ("negset", fwd, inv)
        inverse = False
        if self.peek()[1] == "^":
            self.next()
            inverse = True
        if self.peek()[1] == "(":
            # parenthesized path group: (p1/p2)+, ^(p|q), ...
            self.next()
            t = self._pred_path()
            self.expect(")")
            if self.peek()[1] in ("+", "*", "?"):
                mod = self.next()[1]
                t = ({"+": "plus", "*": "star", "?": "opt"}[mod], t)
            return ("inv", t) if inverse else t
        t = self._term()
        if t[0] == "iri" and self.peek()[1] in ("+", "*", "?"):
            mod = self.next()[1]
            t = ({"+": "plus", "*": "star", "?": "opt"}[mod], t[1])
        return ("inv", t) if inverse else t

    # filter expression: precedence || < && < comparison < unary
    def _filter_expr(self):
        if self.peek()[1] == "(":
            self.next()
            e = self._or_expr()
            self.expect(")")
            return e
        # FILTER BuiltInCall without brackets: FILTER regex(...),
        # FILTER STRSTARTS(...), FILTER !bound(...)
        return self._unary_expr()

    def _or_expr(self):
        left = self._and_expr()
        while self.peek()[1] == "||":
            self.next()
            left = ("or", left, self._and_expr())
        return left

    def _and_expr(self):
        left = self._unary_expr()
        while self.peek()[1] == "&&":
            self.next()
            left = ("and", left, self._unary_expr())
        return left

    def _unary_expr(self):
        t = self.peek()
        if t[1] == "!":
            self.next()
            return ("not", self._unary_expr())
        if t[0] == "KW" and t[1].upper() == "EXISTS" \
                and self.peek(1)[1] == "{":
            # EXISTS inside a compound boolean expression (the simple
            # whole-FILTER forms are intercepted in _group)
            self.next()
            return ("existsexpr", self._group())
        if t[0] == "KW" and t[1].upper() == "NOT" \
                and self.peek(1)[1].upper() == "EXISTS":
            self.next()
            self.next()
            return ("not", ("existsexpr", self._group()))
        if t[1] == "(":
            self.next()
            e = self._or_expr()
            self.expect(")")
            return e
        if t[0] == "KW" and t[1].upper() in (
                "REGEX", "BOUND", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
                "ISNUMERIC", "SAMETERM", "LANGMATCHES",
                "STRSTARTS", "STRENDS", "CONTAINS"):
            func = self.next()[1].upper()
            if func == "ISURI":
                func = "ISIRI"
            self.expect("(")
            args = [self._operand()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self._operand())
            self.expect(")")
            return (func.lower(), *args)
        left = self._additive()
        nxt = self.peek()
        if nxt[0] == "KW" and nxt[1].upper() == "IN":
            self.next()
            return ("in", left, self._term_list())
        if nxt[0] == "KW" and nxt[1].upper() == "NOT":
            self.next()
            self.expect("IN")
            return ("not", ("in", left, self._term_list()))
        op = self.next()[1]
        if op not in ("=", "!=", "<", ">", "<=", ">="):
            raise ValueError(f"SPARQL filter: bad operator {op!r}")
        right = self._additive()
        return ("cmp", op, left, right)

    def _additive(self):
        """Comparison operand with arithmetic: ?a + 1, ?x * 2 - ?y …
        (the tokenizer folds a sign into a following number literal;
        unfold it like _bind_expr does)."""
        left = self._operand()
        while True:
            t = self.peek()
            if t[1] in ("+", "-", "*", "/"):
                op = self.next()[1]
                left = ("arith", op, left, self._operand())
            elif t[0] == "NUM" and t[1][0] in "+-":
                self.next()
                left = ("arith", t[1][0], left, ("num", float(t[1][1:])))
            else:
                break
        return left

    def _term_list(self) -> list:
        """Parenthesized operand list for IN / NOT IN."""
        self.expect("(")
        terms = [self._operand()]
        while self.peek()[1] == ",":
            self.next()
            terms.append(self._operand())
        self.expect(")")
        return terms

    def _bind_expr(self):
        """BIND expression subset: CONCAT(...), STR(?x), arithmetic
        (+ - * /) over vars and numbers, string/number literals."""
        left = self._bind_term()
        while True:
            t = self.peek()
            if t[1] in ("+", "-", "*", "/"):
                op = self.next()[1]
                left = ("arith", op, left, self._bind_term())
            elif t[0] == "NUM" and t[1][0] in "+-":
                # the tokenizer folds the sign into the number literal:
                # '?x + 1' arrives as VAR, NUM('+1') — unfold it here
                self.next()
                left = ("arith", t[1][0], left, ("num", float(t[1][1:])))
            else:
                break
        return left

    def _bind_term(self):
        t = self.peek()
        if t[0] == "KW" and t[1].upper() == "CONCAT":
            self.next()
            self.expect("(")
            args = [self._bind_expr()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self._bind_expr())
            self.expect(")")
            return ("concat", args)
        if t[0] == "KW" and t[1].upper() == "STR":
            self.next()
            self.expect("(")
            inner = self._operand()
            self.expect(")")
            return ("strfn", inner)
        if t[1] == "(":
            self.next()
            e = self._bind_expr()
            self.expect(")")
            return e
        return self._operand()

    def _operand(self):
        t = self.next()
        if t[0] == "VAR":
            return ("var", t[1][1:])
        if t[0] == "KW" and t[1] in ("true", "false"):
            return ("boollit", t[1])
        if t[0] == "NUM":
            return ("num", float(t[1]))
        if t[0] == "STR":
            lex = t[1][1:-1]
            nxt = self.peek()
            if nxt[0] == "LANGTAG":
                # lang-tagged literal in expression position: equality is
                # TERM equality (same lexical form AND tag, §17.4.1.9)
                self.next()
                return ("termlit", t[1] + nxt[1], lex)
            if nxt[1] == "^":
                # typed literal: numeric/boolean datatypes shed the type
                # and join the value-space comparisons; anything else
                # (dateTime/date/string/...) compares by lexical form —
                # correct for ISO-8601 range filters
                self.next()
                self.expect("^")
                dt = self._term()
                if dt[0] != "iri":
                    raise ValueError("datatype must be an IRI")
                if dt[1] in _NUMERIC_XSD:
                    return ("num", float(lex))
                if dt[1] == _XSD_NS + "boolean":
                    return ("boollit", lex)
                return ("typedlit", lex, dt[1])
            return ("str", lex)
        if t[0] == "IRI":
            iri = t[1][1:-1]
            if iri.startswith(_XSD_NS) and self.peek()[1] == "(":
                return self._xsd_cast(iri[len(_XSD_NS):])
            return ("iri", iri)
        if t[0] == "PNAME":
            prefix, _, local = t[1].partition(":")
            iri = self.prefixes[prefix] + local
            if iri.startswith(_XSD_NS) and self.peek()[1] == "(":
                # xsd constructor cast: xsd:integer(?x) etc. (§17.5)
                return self._xsd_cast(iri[len(_XSD_NS):])
            return ("iri", iri)
        if t[0] == "KW" and t[1].upper() in ("LANG", "DATATYPE", "STR"):
            func = t[1].upper()
            self.expect("(")
            inner = self._operand()
            self.expect(")")
            return ({"LANG": "langfn", "DATATYPE": "datatypefn",
                     "STR": "strfn"}[func], inner)
        if t[0] == "KW" and t[1].upper() in (
                "COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT",
                "SAMPLE") and self.peek()[1] == "(":
            # aggregate reference inside HAVING
            func = t[1].upper()
            self.expect("(")
            distinct = self.kw("DISTINCT")
            if self.peek()[1] == "*":
                self.next()
                var = None
            else:
                inner_e = self._additive()
                var = inner_e[1] if (isinstance(inner_e, tuple)
                                     and inner_e[0] == "var") else inner_e
            self.expect(")")
            return ("aggref", func, var, distinct)
        if t[0] == "KW" and t[1].upper() == "CONCAT":
            self.expect("(")
            args = [self._operand()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self._operand())
            self.expect(")")
            return ("concat", args)
        if t[0] == "KW" and t[1].upper() in ("IRI", "URI", "STRDT",
                                             "STRLANG", "BNODE"):
            func = "IRI" if t[1].upper() == "URI" else t[1].upper()
            self.expect("(")
            args = []
            if self.peek()[1] != ")":
                args.append(self._operand())
                while self.peek()[1] == ",":
                    self.next()
                    args.append(self._operand())
            self.expect(")")
            return ("termctor", func, args)
        if t[0] == "KW" and t[1].upper() == "COALESCE":
            self.expect("(")
            args = [self._operand()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self._operand())
            self.expect(")")
            return ("coalesce", args)
        if t[0] == "KW" and t[1].upper() == "IF":
            self.expect("(")
            cond = self._or_expr()
            self.expect(",")
            then = self._operand()
            self.expect(",")
            other = self._operand()
            self.expect(")")
            return ("iffn", cond, then, other)
        if t[0] == "KW" and t[1].upper() in (
                "SUBSTR", "UCASE", "LCASE", "STRLEN", "STRBEFORE",
                "STRAFTER", "REPLACE", "ENCODE_FOR_URI"):
            func = t[1].upper()
            self.expect("(")
            args = [self._operand()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self._operand())
            self.expect(")")
            return ("strop", func, args)
        # SPARQL 1.1 builtin tail (the reference gets these free from Jena
        # late evaluation, MorphMongoQueryProcessor.scala:52-147): numeric,
        # datetime accessors, hashes, UUIDs, NOW
        if t[0] == "KW" and t[1].upper() in ("ABS", "CEIL", "FLOOR", "ROUND"):
            func = t[1].upper()
            self.expect("(")
            arg = self._additive()
            self.expect(")")
            return ("numop", func, arg)
        if t[0] == "KW" and t[1].upper() in (
                "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
                "TZ", "TIMEZONE"):
            func = t[1].upper()
            self.expect("(")
            arg = self._operand()
            self.expect(")")
            return ("dtop", func, arg)
        if t[0] == "KW" and t[1].upper() in (
                "MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            func = t[1].upper()
            self.expect("(")
            arg = self._operand()
            self.expect(")")
            return ("hashop", func, arg)
        if t[0] == "KW" and t[1].upper() in ("UUID", "STRUUID"):
            func = t[1].upper()
            self.expect("(")
            self.expect(")")
            return ("uuidop", func)
        if t[0] == "KW" and t[1].upper() == "NOW":
            self.expect("(")
            self.expect(")")
            return ("nowfn",)
        raise ValueError(f"SPARQL filter: unexpected operand {t!r}")

    def _xsd_cast(self, local: str):
        """xsd:TYPE(expr) constructor-cast call — the '(' is pending."""
        self.expect("(")
        arg = self._additive()
        self.expect(")")
        return ("xsdcast", local, arg)


def parse_sparql(text: str) -> SelectQuery:
    p = _P(text)
    q = p.parse()
    if p.peek()[0] != "EOF":
        # trailing clauses must be a loud error, never silently ignored
        # (a dropped VALUES/ORDER/... clause changes the answer)
        raise ValueError(
            f"SPARQL parse: unexpected trailing input at {p.peek()[1]!r}")
    return q


# ---------------------------------------------------------------------------
# Evaluation
# ---------------------------------------------------------------------------

_LEX_RE = r'^"((?:[^"\\]|\\.)*)"'


def lexical_value(col: Column) -> Column:
    """The plain value of a term: literal lexical form, IRI string, or —
    for plain values produced by BIND — the value itself."""
    s = col.cast("string")
    return (F.when(s.startswith("<"), F.regexp_replace(s, r"^<|>$", ""))
             .when(s.startswith('"'), F.regexp_extract(s, _LEX_RE, 1))
             .otherwise(s))


def distinct_numeric_agg(col: Column, func: str) -> Column:
    """SUM/AVG with the DISTINCT set quantifier (§18.5.1: Distinct
    removes duplicate TERMS, then the numeric aggregate applies): a
    collect_set of the term strings, transformed to numeric values.
    Non-numeric members are skipped — the same leniency the plain
    SUM/AVG path applies by summing numeric_value (strict SPARQL would
    error the whole aggregate) — and an all-non-numeric group yields
    NULL like Spark's sum-over-nulls."""
    vals = F.array_compact(F.transform(F.collect_set(col),
                                       lambda x: numeric_value(x)))
    total = F.when(F.size(vals) == 0, F.lit(None).cast("double")) \
             .otherwise(F.aggregate(vals, F.lit(0.0), lambda a, x: a + x))
    if func == "SUM":
        return total
    return total / F.size(vals)


def numeric_value(col: Column) -> Column:
    # try_cast: non-numeric lexical forms become NULL (ANSI mode is on in
    # Spark 4 — a plain cast would throw).  Plain (BIND-produced) values
    # cast directly.
    s = col.cast("string")
    return (F.when(s.startswith('"'),
                   F.regexp_extract(s, _LEX_RE, 1).try_cast("double"))
             .otherwise(s.try_cast("double")))


def const_term_match(term: Column, kind: str, val,
                     num: Optional[Column] = None) -> Column:
    """Whether a rendered term matches a constant pattern term: ``iri``
    by IRI equality, ``lit`` (a plain literal) by prefix, so any
    datatype or language variant of the lexical matches, ``lit_exact``
    (a typed or tagged literal) by exact term, ``num`` by numeric value
    (``num`` stands in for ``numeric_value(term)``).  A ``num`` constant
    that does not parse raises ValueError."""
    if kind == "iri":
        return term == f"<{val}>"
    if kind == "lit":
        return term.startswith(val)
    if kind == "lit_exact":
        return term == val
    return (numeric_value(term) if num is None else num) == float(val)


_NUMERIC_DT_RE = (r'\^\^<http://www\.w3\.org/2001/XMLSchema#(integer|'
                  r'decimal|double|float|long|int|short|byte|'
                  r'nonNegativeInteger|nonPositiveInteger|negativeInteger|'
                  r'positiveInteger|unsignedLong|unsignedInt|unsignedShort|'
                  r'unsignedByte)>$')


def term_order_keys(col: Column) -> list[Column]:
    """SPARQL §15.4 ORDER BY keys for a term-string column: unbound <
    blank < IRI < literal, numeric literals by VALUE ("9" before "10" —
    a raw string sort gets this wrong), everything else by lexical form
    (codepoint; canonical dateTimes sort correctly there).  The order
    between numeric and non-numeric literals is implementation-defined
    in the spec; the composite key makes it deterministic (non-numeric
    first — Spark's nulls-first on the value key)."""
    s = col.cast("string")
    rank = (F.when(s.isNull(), F.lit(0))
             .when(s.startswith("_:"), F.lit(1))
             .when(s.startswith("<"), F.lit(2))
             .otherwise(F.lit(3)))
    num = F.when(s.rlike(_NUMERIC_DT_RE),
                 F.regexp_extract(s, _LEX_RE, 1).try_cast("double"))
    return [rank, num, lexical_value(col)]


def _values_lex(term) -> Optional[str]:
    """A VALUES term as its binding's term string; None for UNDEF (a
    wildcard binding)."""
    kind, val = term
    if kind == "undef":
        return None
    if kind == "iri":
        return f"<{val}>"
    if kind in ("lit", "lit_exact"):
        return val
    return str(val)


def aggregate_specs(q: SelectQuery) -> tuple[list, dict]:
    """The aggregate specs ``(func, input, distinct, alias, sep)`` a
    grouped SELECT computes: the projected ones, then every aggregate
    HAVING references but the projection does not, as a hidden
    ``#hav{i}`` column (filtered on, then dropped).  Also the alias of
    each spec by ``(func, repr(input), distinct)`` — repr because an
    expression input is an AST that may hold lists."""
    specs = [tuple(a) for a in q.aggregates]
    agg_alias = {(f, repr(v), d): a for f, v, d, a, _s in specs}

    def collect(x):
        if isinstance(x, tuple):
            if x and x[0] == "aggref":
                key = (x[1], repr(x[2]), x[3])
                if key not in agg_alias:
                    alias = f"#hav{len(specs)}"
                    specs.append((x[1], x[2], x[3], alias, " "))
                    agg_alias[key] = alias
            else:
                for e in x:
                    collect(e)
        elif isinstance(x, list):
            for e in x:
                collect(e)

    for h in q.having:
        collect(h)
    return specs, agg_alias


def _order_vars(order_by: list) -> set:
    """The variables the ORDER BY keys read."""
    out: set = set()

    def walk(x):
        if isinstance(x, tuple):
            if len(x) == 2 and x[0] == "var" and isinstance(x[1], str):
                out.add(x[1])
            else:
                for e in x:
                    walk(e)
        elif isinstance(x, list):
            for e in x:
                walk(e)

    for v, _asc in order_by:
        if isinstance(v, str):
            out.add(v)
        else:
            walk(v)
    return out


class SparqlEngine:
    """Evaluate parsed SELECT queries against a (subj, pred, obj[, graph])
    triple DataFrame.  Variable bindings are the canonical lexical term
    strings; projection returns them as columns named after the vars."""

    def __init__(self, triples: DataFrame, path_max_hops: int = 1000,
                 dedup_source: bool = False):
        # keep the graph column when present: GRAPH clauses query it;
        # patterns outside GRAPH match only the default graph (NULL)
        self.has_graph = "graph" in triples.columns
        self.quads = (triples.select("subj", "pred", "obj", "graph")
                      if self.has_graph else
                      triples.select("subj", "pred", "obj",
                                     F.lit(None).cast("string").alias("graph")))
        self.triples = self.quads.where(F.col("graph").isNull()) \
                                 .select("subj", "pred", "obj")
        # dedup_source=True: the input is the RAW (pre-dedup) triple plan
        # and each pattern dedups AFTER its constant filters.  Filter and
        # set-dedup commute, so semantics are identical to querying the
        # deduplicated table — but the constant pred/subj/obj filters can
        # now push THROUGH to the per-triples-map union branches and
        # constant-fold non-matching branches away, which a global dedup
        # aggregate (grouping on hash keys) structurally blocks.
        self.dedup_source = dedup_source
        # SAFETY VALVE on transitive-closure iterations for p+/p* paths:
        # closures run to fixpoint; exceeding the cap raises (never a
        # silently truncated result)
        self.path_max_hops = path_max_hops

    def _dataset_engine(self, q: SelectQuery) -> "SparqlEngine":
        """Engine scoped to the query's RDF dataset clauses (SPARQL
        §13.2): the new default graph is the MERGE of the FROM graphs,
        the named graphs are exactly the FROM NAMED ones.  No clauses →
        self (the storage dataset)."""
        if not q.from_graphs and not q.from_named:
            return self
        null_g = F.lit(None).cast("string")
        parts = []
        if q.from_graphs:
            parts.append(self.quads.where(F.col("graph").isin(
                [f"<{g}>" for g in q.from_graphs]))
                .select("subj", "pred", "obj",
                        null_g.alias("graph")))
        if q.from_named:
            parts.append(self.quads.where(F.col("graph").isin(
                [f"<{g}>" for g in q.from_named])))
        quads = parts[0]
        for p in parts[1:]:
            quads = quads.unionByName(p)
        # merging >1 graph can duplicate a triple stored in several of
        # them: per-pattern dedup (after the constant filters) restores
        # set semantics without an eager global exchange
        dedup = self.dedup_source or len(q.from_graphs) > 1
        return SparqlEngine(quads, self.path_max_hops, dedup_source=dedup)

    def sql(self, query_text) -> DataFrame:
        """``query_text``: raw SPARQL or an already-parsed SelectQuery
        (callers that parse for dispatch, e.g. the endpoint, pass the
        parse instead of paying for a second one)."""
        q = query_text if isinstance(query_text, SelectQuery) \
            else parse_sparql(query_text)
        eng = self._dataset_engine(q)
        if q.describe is not None:
            return eng._describe(q)
        return eng.evaluate(q)

    def _describe(self, q: SelectQuery) -> DataFrame:
        """DESCRIBE: for every resource (given IRI, or each binding of a
        DESCRIBE'd variable from the WHERE clause), all triples where it
        is subject or object — the reference's expansion
        ({ <uri> ?p ?x } UNION { ?y ?q <uri> },
        SparqlQueryRewriter.scala:116-152)."""
        iris = [f"<{v}>" for k, v in q.describe if k == "iri"]
        vars_ = [v for k, v in q.describe if k == "var"]
        res: Optional[DataFrame] = None
        if iris:
            res = self.triples.sparkSession.createDataFrame(
                [(i,) for i in iris], "r string")
        if vars_:
            bindings = self._join_group(q.where) if q.where else None
            if bindings is None:
                raise ValueError("DESCRIBE ?var needs a WHERE clause")
            if q.limit is not None or q.offset:
                # the result is a set: ORDER BY alone changes nothing
                bindings = self._slice_solutions(bindings, q)
            for v in vars_:
                vdf = bindings.select(F.col(v).alias("r")).distinct()
                res = vdf if res is None else res.unionByName(vdf).distinct()
        if res is None:
            raise ValueError("DESCRIBE needs at least one resource")
        res = F.broadcast(res)
        out_edges = self.triples.join(res, F.col("subj") == F.col("r")) \
                                .select("subj", "pred", "obj")
        in_edges = self.triples.join(res, F.col("obj") == F.col("r")) \
                               .select("subj", "pred", "obj")
        return out_edges.unionByName(in_edges).distinct()

    def ask(self, query_text) -> bool:
        q = query_text if isinstance(query_text, SelectQuery) \
            else parse_sparql(query_text)
        if not q.is_ask:
            raise ValueError("not an ASK query")
        eng = self._dataset_engine(q)
        return eng._join_group(q.where).limit(1).count() > 0

    # -- property paths ----------------------------------------------------
    def _iri_pairs(self, iri: str, active: Optional[DataFrame] = None
                   ) -> DataFrame:
        df = (self.triples if active is None else active) \
            .where(F.col("pred") == f"<{iri}>")
        if self.dedup_source:
            df = df.dropDuplicates(["subj", "obj"])
        return df.select(F.col("subj").alias("ps"), F.col("obj").alias("po"))

    def _path_pairs(self, pred, active: Optional[DataFrame] = None
                    ) -> DataFrame:
        """(ps, po) pairs reachable via the property path.  Transitive
        closure is an iterated self-join with frontier-based termination
        (bounded by path_max_hops — the DataFrame equivalent of semi-naive
        datalog evaluation).  ``active`` overrides the active graph's
        triple frame (GRAPH <g> context; None = default graph)."""
        kind = pred[0]
        if kind == "iri":
            return self._iri_pairs(pred[1], active)
        if kind == "inv":
            inner = self._path_pairs(pred[1], active)
            return inner.select(F.col("po").alias("ps"),
                                F.col("ps").alias("po"))
        if kind == "seq":
            elts = pred[1]
            out = self._path_pairs(elts[0], active)
            for elt in elts[1:]:
                nxt = self._path_pairs(elt, active) \
                    .withColumnRenamed("ps", "#mid") \
                    .withColumnRenamed("po", "#po2")
                out = (out.join(nxt, out["po"] == nxt["#mid"])
                          .select(F.col("ps"), F.col("#po2").alias("po")))
            return out
        if kind == "alt":
            out = self._path_pairs(pred[1][0], active)
            for alt in pred[1][1:]:
                out = out.unionByName(self._path_pairs(alt, active))
            return out.distinct()
        if kind == "negset":
            fwd, inv = pred[1], pred[2]
            src = self.triples if active is None else active
            parts = []
            if fwd:
                df = src.where(
                    ~F.col("pred").isin([f"<{i}>" for i in fwd]))
                if self.dedup_source:
                    df = df.dropDuplicates(["subj", "obj"])
                parts.append(df.select(F.col("subj").alias("ps"),
                                       F.col("obj").alias("po")))
            if inv:
                # inverse members: REVERSE edges whose pred is outside
                # the inverse set
                df = src.where(
                    ~F.col("pred").isin([f"<{i}>" for i in inv]))
                if self.dedup_source:
                    df = df.dropDuplicates(["subj", "obj"])
                parts.append(df.select(F.col("obj").alias("ps"),
                                       F.col("subj").alias("po")))
            out = parts[0]
            if len(parts) > 1:
                out = out.unionByName(parts[1]).distinct()
            return out
        if kind == "opt":
            base = self._mod_base(pred[1], active)
            return base.unionByName(
                self._all_nodes_identity(active)).distinct()
        if kind in ("plus", "star"):
            # semi-naive evaluation TO FIXPOINT.  Each frontier is
            # localCheckpoint'ed (eager): the iteration result is
            # materialized once, its lineage truncated (no exponential
            # plan growth over hops), and nothing stays in the cache
            # manager once the frontier DataFrames are dropped.
            base = self._mod_base(pred[1], active).distinct() \
                       .localCheckpoint()
            closure = base
            frontier = base
            hops = 0
            while True:
                step = (frontier.alias("f")
                        .join(base.alias("b"),
                              F.col("f.po") == F.col("b.ps"))
                        .select(F.col("f.ps").alias("ps"),
                                F.col("b.po").alias("po")).distinct())
                new = step.join(closure, ["ps", "po"], "left_anti") \
                          .localCheckpoint()
                if new.isEmpty():
                    break
                hops += 1
                if hops > self.path_max_hops:
                    raise RuntimeError(
                        f"property-path closure exceeded the safety cap of "
                        f"{self.path_max_hops} hops without reaching a "
                        f"fixpoint; raise SparqlEngine(path_max_hops=...) "
                        f"if the graph really is that deep")
                closure = closure.unionByName(new)
                # flatten the growing union every 16 hops so very deep
                # chains don't accumulate a thousand-branch union plan
                if hops % 16 == 0:
                    closure = closure.localCheckpoint()
                frontier = new
            if kind == "star":
                closure = closure.unionByName(
                    self._all_nodes_identity(active)).distinct()
            return closure
        raise ValueError(f"unsupported property path {pred!r}")

    def _mod_base(self, inner, active: Optional[DataFrame] = None
                  ) -> DataFrame:
        """Base pair set for a +/*/? modifier: a bare IRI (stored as its
        string) or a parenthesized sub-path (stored as its AST)."""
        if isinstance(inner, str):
            return self._iri_pairs(inner, active)
        return self._path_pairs(inner, active)

    def _all_nodes_identity(self, active: Optional[DataFrame] = None
                            ) -> DataFrame:
        """(n, n) for every node in the active graph — the reflexive
        part of `p*` and `p?` (SPARQL: zero-length paths match every
        graph term)."""
        src = self.triples if active is None else active
        nodes = (src.select(F.col("subj").alias("n"))
                 .unionByName(src.select(F.col("obj").alias("n")))
                 .distinct())
        return nodes.select(F.col("n").alias("ps"), F.col("n").alias("po"))

    def _path_pattern_df(self, tp: TriplePattern,
                         graph_term=None) -> DataFrame:
        if graph_term is not None and graph_term[0] != "iri":
            raise NotImplementedError(
                "property paths under GRAPH ?var are not supported: the "
                "closure would have to run per named graph")
        active = None if graph_term is None else \
            self.quads.where(F.col("graph") == f"<{graph_term[1]}>") \
                      .select("subj", "pred", "obj")
        pairs = self._path_pairs(tp.p, active)
        sel = []
        for role, term in (("ps", tp.s), ("po", tp.o)):
            kind, val = term
            if kind == "var":
                sel.append(F.col(role).alias(val))
            elif kind in ("iri", "lit", "lit_exact"):
                pairs = pairs.where(const_term_match(F.col(role), kind, val))
        if tp.s[0] == "var" and tp.o[0] == "var" and tp.s[1] == tp.o[1]:
            pairs = pairs.where(F.col("ps") == F.col("po"))
            sel = [F.col("ps").alias(tp.s[1])]
        return pairs.select(*sel) if sel else pairs.select(F.lit(1).alias("#p"))

    # -- algebra -----------------------------------------------------------
    def _pattern_df(self, tp: TriplePattern, idx: int,
                    graph_term=None) -> DataFrame:
        if tp.p[0] in ("seq", "plus", "star", "inv", "alt", "opt", "negset"):
            return self._path_pattern_df(tp, graph_term)
        if graph_term is None:
            df = self.triples
        elif graph_term[0] == "iri":
            df = self.quads.where(
                F.col("graph") == f"<{graph_term[1]}>") \
                .select("subj", "pred", "obj")
        else:  # graph variable: bind it
            df = self.quads.where(F.col("graph").isNotNull()) \
                .withColumnRenamed("graph", graph_term[1])
        sel = []
        if graph_term is not None and graph_term[0] == "var":
            sel.append(F.col(graph_term[1]))
        bound: dict[str, str] = {}
        for role, term in (("subj", tp.s), ("pred", tp.p), ("obj", tp.o)):
            kind, val = term
            if kind == "var":
                if val in bound:
                    df = df.where(F.col(role) == F.col(bound[val]))
                else:
                    bound[val] = role
                    sel.append(F.col(role).alias(val))
            else:
                df = df.where(const_term_match(F.col(role), kind, val))
        if self.dedup_source:
            # set semantics per pattern, applied AFTER the constant
            # filters so pushdown/pruning has already happened
            df = df.dropDuplicates()
        return df.select(*sel) if sel else df.select(F.lit(1).alias(f"#c{idx}"))

    def _join_group(self, g: Group, graph_term=None) -> DataFrame:
        df: Optional[DataFrame] = None
        for i, tp in enumerate(g.patterns):
            pdf = self._pattern_df(tp, i, graph_term)
            if df is None:
                df = pdf
            else:
                common = [c for c in pdf.columns if c in df.columns]
                df = df.join(pdf, common) if common else df.crossJoin(pdf)
        for gterm, sub in g.graphs:
            gdf = self._join_group(sub, graph_term=gterm)
            if df is None:
                df = gdf
            else:
                common = [c for c in gdf.columns if c in df.columns]
                df = df.join(gdf, common) if common else df.crossJoin(gdf)
        for left, right in g.unions:
            udf_ = self._join_group(left, graph_term)
            rdf_ = self._join_group(right, graph_term)
            for missing in set(rdf_.columns) - set(udf_.columns):
                udf_ = udf_.withColumn(missing, F.lit(None).cast("string"))
            for missing in set(udf_.columns) - set(rdf_.columns):
                rdf_ = rdf_.withColumn(missing, F.lit(None).cast("string"))
            both = udf_.unionByName(rdf_)
            if df is None:
                df = both
            else:
                common = [c for c in both.columns if c in df.columns]
                df = df.join(both, common) if common else df.crossJoin(both)
        for opt in g.optionals:
            odf = self._join_group(opt, graph_term)
            common = [c for c in odf.columns if c in df.columns]
            df = df.join(odf, common, "left") if common else df.crossJoin(odf)
        for sub in g.subqueries:
            sdf = self.evaluate(sub, graph_term)
            if df is None:
                df = sdf
            else:
                common = [c for c in sdf.columns if c in df.columns]
                df = df.join(sdf, common) if common else df.crossJoin(sdf)
        if df is None:
            # empty group pattern: ONE empty solution μ0 (SPARQL §18.5) —
            # the unit relation; VALUES/BIND-only groups build on it
            df = self.triples.sparkSession.range(1).select()
        df = self._apply_binds(df, g.binds)
        df = self._apply_values(df, g.values)
        for flt in g.filters:
            df, flt, markers = self._attach_exists_markers(df, flt,
                                                           graph_term)
            df = df.where(self._filter_col(flt, df))
            if markers:
                df = df.drop(*markers)
        for positive, sub in g.exists:
            df = self._exists_join(df, self._join_group(sub, graph_term),
                                   positive)
        for sub in g.minuses:
            df = self._minus_join(df, self._join_group(sub, graph_term))
        return df

    # -- BIND / VALUES over a group's bindings (also aggpush._apply_tail) --

    def _apply_binds(self, df: DataFrame, binds: list) -> DataFrame:
        for var, expr in binds:
            tc = self._bind_term_const(expr)
            c = tc if tc is not None else self._bind_col(expr)
            if var in df.columns:
                # the var is also pattern-bound: patterns evaluate first
                # here, so emulate sequential scope (BIND introduces the
                # var, later patterns join on it) with an equality —
                # same solutions as bind-then-join.  Constants and term
                # constructors compare term strings directly; computed
                # plain values compare against the term's numeric /
                # lexical value (the engine's '=' value semantics)
                if tc is not None or expr[0] == "termctor":
                    df = df.where(F.col(var) == c)
                elif expr[0] in ("num", "arith", "numop"):
                    df = df.where(numeric_value(F.col(var)) ==
                                  c.cast("double"))
                else:
                    df = df.where(lexical_value(F.col(var)) ==
                                  c.cast("string"))
            else:
                df = df.withColumn(var, c)
        return df

    @staticmethod
    def _apply_values(df: DataFrame, values: list) -> DataFrame:
        for vars_, rows in values:
            lex_rows = [tuple(_values_lex(t) for t in row) for row in rows]
            if len(vars_) == 1 and vars_[0] in df.columns:
                if any(r[0] is None for r in lex_rows):
                    pass   # an UNDEF row matches everything: no constraint
                else:
                    # single-var over a bound var: membership constraint
                    df = df.where(F.col(vars_[0]).isin(
                        [r[0] for r in lex_rows]))
            else:
                vdf = df.sparkSession.createDataFrame(
                    lex_rows, ", ".join(f"{v} string" for v in vars_))
                common = [c for c in vars_ if c in df.columns]
                if not common:
                    df = df.crossJoin(F.broadcast(vdf))
                elif not any(r[vars_.index(c)] is None
                             for r in lex_rows for c in common):
                    df = df.join(F.broadcast(vdf), common)
                else:
                    # UNDEF on a shared var: NULL in the VALUES row is a
                    # wildcard — join on (value IS NULL OR equal), keep
                    # the pattern side's binding
                    ren = {c: f"#val_{c}" for c in common}
                    for c, r in ren.items():
                        vdf = vdf.withColumnRenamed(c, r)
                    cond = F.lit(True)
                    for c, r in ren.items():
                        cond = cond & (F.col(r).isNull()
                                       | (F.col(c) == F.col(r)))
                    df = df.join(F.broadcast(vdf), cond).drop(*ren.values())
        return df

    # -- compatibility joins (EXISTS / MINUS) ------------------------------
    #
    # SPARQL substitution semantics (§8.3.3 / Jena): an UNBOUND outer
    # variable is compatible with ANY inner binding — a NULL key on the
    # outer side must act as a wildcard, not as a never-matching key the
    # way a plain hash semi/anti join treats it (ADVICE r3).  Strategy:
    # decompose the outer side by its null-pattern over the shared
    # columns; each branch hash-joins on exactly its bound subset, so
    # the hot all-bound branch stays a plain shuffled/broadcast hash
    # join.  Beyond _NULL_DECOMP_MAX shared columns the 2^n branch count
    # loses to a single nested-loop compatibility join against the
    # (distinct'd, small) probe side.
    #
    # Known divergence, both ops: an unbound shared variable on the
    # INNER side (OPTIONAL inside the EXISTS/MINUS pattern) is treated
    # as non-matching in the decomposed fast path; the nested-loop
    # fallback applies full compatibility on both sides.

    _NULL_DECOMP_MAX = 3

    def _null_pattern_parts(self, df: DataFrame,
                            common: list) -> list[tuple[DataFrame, list]]:
        """(branch, bound-subset) pairs partitioning df by which of the
        shared columns are non-null.  The all-bound branch comes first."""
        parts = []
        for mask in range((1 << len(common)) - 1, -1, -1):
            bound = [c for i, c in enumerate(common) if mask >> i & 1]
            cond = F.lit(True)
            for i, c in enumerate(common):
                cond = cond & (F.col(c).isNotNull() if mask >> i & 1
                               else F.col(c).isNull())
            parts.append((df.where(cond), bound))
        return parts

    @staticmethod
    def _union_all(parts: list) -> DataFrame:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _compat_probe(probe: DataFrame, common: list,
                      prefix: str) -> tuple[DataFrame, Column]:
        """The nested-loop form: the probe with each shared column
        renamed to ``prefix + name``, and the compatibility condition
        (per shared var: unbound on either side, or equal)."""
        for c in common:
            probe = probe.withColumnRenamed(c, prefix + c)
        cond = F.lit(True)
        for c in common:
            r = prefix + c
            cond = cond & (F.col(c).isNull() | F.col(r).isNull()
                           | (F.col(c) == F.col(r)))
        return probe, cond

    def _exists_join(self, df: DataFrame, sdf: DataFrame,
                     positive: bool) -> DataFrame:
        common = [c for c in sdf.columns if c in df.columns]
        how = "left_semi" if positive else "left_anti"
        if not common:
            # no shared variables: the inner pattern's (non)emptiness
            # decides for every row at once — lazily, via a 1-row probe
            if positive != (not sdf.isEmpty()):
                return df.limit(0)
            return df
        probe = sdf.select(*common).distinct()
        if len(common) > self._NULL_DECOMP_MAX:
            p2, cond = self._compat_probe(probe, common, "#ex_")
            return df.join(p2, cond, how)
        parts = []
        for part, bound in self._null_pattern_parts(df, common):
            if bound:
                parts.append(part.join(probe.select(*bound).distinct(),
                                       bound, how))
            else:
                # every shared var unbound: EXISTS ⇔ inner non-empty
                parts.append(part.join(probe.limit(1), F.lit(True), how))
        return self._union_all(parts)

    def _minus_join(self, df: DataFrame, sdf: DataFrame) -> DataFrame:
        # MINUS (§8.3.3): remove μ1 when some right binding is compatible
        # AND shares ≥1 bound-in-both variable; NO shared columns (or an
        # all-unbound row) → disjoint domains → the row stays.
        common = [c for c in sdf.columns if c in df.columns]
        if not common:
            return df
        probe = sdf.select(*common).distinct()
        if len(common) > self._NULL_DECOMP_MAX:
            p2, compat = self._compat_probe(probe, common, "#mn_")
            overlap = F.lit(False)
            for c in common:
                overlap = overlap | (F.col(c).isNotNull()
                                     & F.col("#mn_" + c).isNotNull())
            return df.join(p2, compat & overlap, "left_anti")
        parts = []
        for part, bound in self._null_pattern_parts(df, common):
            if bound:
                parts.append(part.join(probe.select(*bound).distinct(),
                                       bound, "left_anti"))
            else:
                parts.append(part)   # no dom overlap possible: keep
        return self._union_all(parts)

    def _attach_exists_markers(self, df: DataFrame, ast, graph_term=None):
        """EXISTS inside a compound filter expression: rewrite each
        ("existsexpr", group) node to a boolean marker column computed
        by a left join on the shared variables (no shared vars → a
        constant).  Returns (df', ast', [marker col names])."""
        markers: list[str] = []

        def walk(node, df):
            if not isinstance(node, tuple):
                return node, df
            if node[0] == "existsexpr":
                sdf = self._join_group(node[1], graph_term)
                common = [c for c in sdf.columns if c in df.columns]
                if not common:
                    return ("const", not sdf.isEmpty()), df
                m = f"#exists{len(markers)}"
                markers.append(m)
                probe = sdf.select(*common).distinct()
                if len(common) > self._NULL_DECOMP_MAX:
                    # compatibility split: semi/anti keeps the row set
                    # duplicate-free (a condition left-join would fan out)
                    p2, cond = self._compat_probe(probe, common, "#ex_")
                    df = df.join(p2, cond, "left_semi") \
                           .withColumn(m, F.lit(True)) \
                           .unionByName(df.join(p2, cond, "left_anti")
                                          .withColumn(m, F.lit(False)))
                    return ("existsflag", m), df
                parts = []
                for part, bound in self._null_pattern_parts(df, common):
                    if bound:
                        pb = probe.select(*bound).distinct() \
                                  .withColumn(m, F.lit(True))
                        parts.append(part.join(pb, bound, "left"))
                    else:
                        parts.append(part.join(
                            probe.limit(1).select(F.lit(True).alias(m)),
                            F.lit(True), "left"))
                df = self._union_all(parts)
                return ("existsflag", m), df
            out = []
            for e in node:
                if isinstance(e, tuple):
                    e, df = walk(e, df)
                elif isinstance(e, list):
                    newl = []
                    for x in e:
                        x2, df = walk(x, df)
                        newl.append(x2)
                    e = newl
                out.append(e)
            return tuple(out), df

        ast, df = walk(ast, df)
        return df, ast, markers

    def _filter_col(self, ast, df: DataFrame) -> Column:
        kind = ast[0]
        if kind == "existsflag":
            return F.coalesce(F.col(ast[1]), F.lit(False))
        if kind == "const":
            return F.lit(bool(ast[1]))
        if kind == "or":
            return self._filter_col(ast[1], df) | self._filter_col(ast[2], df)
        if kind == "and":
            return self._filter_col(ast[1], df) & self._filter_col(ast[2], df)
        if kind == "not":
            return ~self._filter_col(ast[1], df)
        if kind == "bound":
            return F.col(ast[1][1]).isNotNull()
        if kind == "isiri":
            return F.col(ast[1][1]).startswith("<")
        if kind == "isliteral":
            return F.col(ast[1][1]).startswith('"')
        if kind == "isblank":
            return self._operand_col(ast[1]).startswith("_:")
        if kind == "isnumeric":
            return numeric_value(self._operand_col(ast[1])).isNotNull()
        if kind == "sameterm":
            return (self._term_form_col(ast[1])
                    == self._term_form_col(ast[2]))
        if kind in ("strstarts", "strends", "contains"):
            l = self._operand_col(ast[1], lexical=True)
            r = self._operand_col(ast[2], lexical=True)
            if kind == "strstarts":
                return l.startswith(r)
            if kind == "strends":
                return l.endswith(r)
            return l.contains(r)
        if kind == "regex":
            # first arg may be any string operand — ?v, STR(?v), an
            # expression — regex applies to its lexical form (§17.4.3.14)
            text = self._operand_col(ast[1], lexical=True)
            pat = ast[2][1]
            flags = ast[3][1] if len(ast) > 3 else ""
            if "i" in flags:
                pat = "(?i)" + pat
            return text.rlike(pat)
        if kind == "langmatches":
            lang = self._operand_col(ast[1], lexical=True)
            pat = ast[2][1]
            if pat == "*":
                return lang.isNotNull() & (lang != "")
            low = F.lower(lang)
            return (low == pat.lower()) | low.startswith(pat.lower() + "-")
        if kind == "in":
            _k, left, terms = ast
            col = F.col(left[1]) if left[0] == "var" \
                else self._operand_col(left)
            if any(t[0] == "num" for t in terms):
                ncol = numeric_value(col) if left[0] == "var" else col
                return ncol.isin([float(t[1]) for t in terms])
            vals = []
            for t in terms:
                if t[0] == "iri":
                    vals.append(f"<{t[1]}>")
                elif t[0] == "str":
                    vals.append(f'"{t[1]}"')
                elif t[0] == "typedlit":
                    vals.append(f'"{t[1]}"^^<{t[2]}>')
                elif t[0] == "termlit":
                    vals.append(t[1])
                else:
                    vals.append(str(t[1]))
            return col.isin(vals)
        if kind == "cmp":
            _k, op, left, right = ast
            ops = {"=": lambda a, b: a == b, "!=": lambda a, b: a != b,
                   "<": lambda a, b: a < b, ">": lambda a, b: a > b,
                   "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b}
            # lang-tagged literal: TERM equality (lexical form + tag)
            if left[0] == "termlit" or right[0] == "termlit":
                return ops[op](self._term_form_col(left),
                               self._term_form_col(right))
            # numeric compare if either side is a number literal, an
            # arithmetic expression, or a numeric builtin
            if left[0] in ("num", "arith", "numop") \
                    or right[0] in ("num", "arith", "numop"):
                return ops[op](self._numeric_operand(left),
                               self._numeric_operand(right))
            if left[0] == "var" and right[0] == "var":
                # var-var: numeric literals compare by VALUE when both
                # sides carry a numeric datatype ("42"^^xsd:integer =
                # "42.0"^^xsd:decimal is true; "9" < "10" numerically);
                # any other pair keeps the lexical comparison (r6 fix)
                ls, rs = F.col(left[1]), F.col(right[1])
                both_num = (ls.cast("string").rlike(_NUMERIC_DT_RE)
                            & rs.cast("string").rlike(_NUMERIC_DT_RE))
                return F.when(both_num, ops[op](numeric_value(ls),
                                                numeric_value(rs))) \
                        .otherwise(ops[op](lexical_value(ls),
                                           lexical_value(rs)))
            lcol = self._operand_col(left, lexical=True)
            rcol = self._operand_col(right, lexical=True)
            return ops[op](lcol, rcol)
        raise ValueError(f"unsupported filter {ast!r}")

    def _operand_col(self, ast, lexical: bool = False) -> Column:
        """Filter operand → Column.  SPARQL accessor functions over the
        term-string representation: LANG → trailing @tag ('' when none),
        DATATYPE → ^^<dt> (xsd:string for simple literals, rdf:langString
        for tagged — SPARQL 1.1 §17.4.2.7), STR → lexical form."""
        kind = ast[0]
        if kind == "var":
            col = F.col(ast[1])
            return lexical_value(col) if lexical else col
        if kind == "num":
            return F.lit(ast[1])
        if kind in ("str", "iri"):
            return F.lit(ast[1])
        if kind == "boollit":
            # xsd:boolean literal: lexical form for value compares, full
            # term form via _term_form_col for sameTerm
            return F.lit(ast[1])
        if kind == "typedlit":
            # non-numeric typed literal: lexical-form value (ISO-8601
            # dateTime/date lexicals order correctly as strings)
            return F.lit(ast[1])
        if kind == "termlit":
            return F.lit(ast[2] if lexical else ast[1])
        if kind == "strfn":
            return lexical_value(self._operand_col(ast[1]))
        if kind == "langfn":
            s = self._operand_col(ast[1]).cast("string")
            return F.when(s.startswith('"'),
                          F.regexp_extract(s, r'@([A-Za-z0-9-]+)$', 1)) \
                    .otherwise(F.lit(None).cast("string"))
        if kind == "datatypefn":
            s = self._operand_col(ast[1]).cast("string")
            dt = F.regexp_extract(s, r'\^\^<([^>]*)>$', 1)
            lang = F.regexp_extract(s, r'@([A-Za-z0-9-]+)$', 1)
            xsd_string = "http://www.w3.org/2001/XMLSchema#string"
            lang_string = ("http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                           "langString")
            return (F.when(~s.startswith('"'), F.lit(None).cast("string"))
                     .when(dt != "", dt)
                     .when(lang != "", F.lit(lang_string))
                     .otherwise(F.lit(xsd_string)))
        if kind == "strop":
            return self._strop_col(ast)
        if kind in ("arith", "concat"):
            return self._bind_col(ast)
        if kind == "coalesce":
            return F.coalesce(*[self._operand_col(a, lexical=lexical)
                                for a in ast[1]])
        if kind == "iffn":
            return F.when(self._filter_col(ast[1], None),
                          self._operand_col(ast[2], lexical=lexical)) \
                    .otherwise(self._operand_col(ast[3], lexical=lexical))
        if kind == "termctor":
            return self._termctor_col(ast)
        if kind == "numop":
            return self._numop_col(ast)
        if kind == "dtop":
            return self._dtop_col(ast)
        if kind == "hashop":
            base = self._operand_col(ast[2], lexical=True).cast("string")
            if ast[1] == "MD5":
                return F.md5(base)
            if ast[1] == "SHA1":
                return F.sha1(base)
            return F.sha2(base, int(ast[1][3:]))
        if kind == "uuidop":
            u = F.expr("uuid()")
            return u if ast[1] == "STRUUID" else \
                F.concat(F.lit("<urn:uuid:"), u, F.lit(">"))
        if kind == "nowfn":
            return F.concat(
                F.lit('"'),
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"),
                F.lit(f'"^^<{_XSD_NS}dateTime>'))
        if kind == "xsdcast":
            return self._xsdcast_col(ast)
        if kind == "aggref":
            raise ValueError("aggregate calls are only valid in HAVING")
        raise ValueError(f"unsupported filter operand {ast!r}")

    def _numeric_operand(self, ast) -> Column:
        """Operand coerced to its numeric value (SPARQL §17.1 operand
        rules): typed-literal terms parse their lexical form, plain
        (BIND/aggregate-produced) values cast directly."""
        if ast[0] == "var":
            return numeric_value(F.col(ast[1]))
        if ast[0] == "num":
            return F.lit(ast[1])
        if ast[0] in ("arith", "numop"):
            return self._operand_col(ast)   # already numeric
        return numeric_value(self._operand_col(ast))

    def _numop_col(self, ast) -> Column:
        """Numeric builtins (§17.4.4).  ROUND follows XPath fn:round —
        ties round toward positive infinity (round(-2.5) = -2), which is
        floor(x + 0.5), NOT Spark's HALF_UP F.round."""
        _k, func, arg = ast
        n = self._numeric_operand(arg)
        if func == "ABS":
            return F.abs(n)
        if func == "CEIL":
            return F.ceil(n)
        if func == "FLOOR":
            return F.floor(n)
        return F.floor(n + F.lit(0.5))

    # dateTime component patterns over the LEXICAL form — pure string ops
    # (no timestamp cast), so no session-timezone shift can corrupt the
    # accessor values and xsd:date works as well as xsd:dateTime
    _DT_PATTERNS = {
        "YEAR": r"^(-?\d{4,})",
        "MONTH": r"^-?\d{4,}-(\d{2})",
        "DAY": r"^-?\d{4,}-\d{2}-(\d{2})",
        "HOURS": r"T(\d{2})",
        "MINUTES": r"T\d{2}:(\d{2})",
        "SECONDS": r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
    }

    def _dtop_col(self, ast) -> Column:
        """Datetime accessors (§17.4.5): component extraction from the
        literal's lexical form; no match → NULL (type error → unbound)."""
        _k, func, arg = ast
        s = self._operand_col(arg, lexical=True).cast("string")
        if func == "TZ":
            return F.regexp_extract(s, r"(Z|[+-]\d{2}:\d{2})$", 1)
        if func == "TIMEZONE":
            # §17.4.5.7: the timezone as an xsd:dayTimeDuration term;
            # no timezone on the dateTime → error (NULL/unbound)
            tz = F.regexp_extract(s, r"(Z|[+-]\d{2}:\d{2})$", 1)
            sign = F.when(tz.startswith("-"), F.lit("-")).otherwise(F.lit(""))
            h = F.regexp_extract(tz, r"(\d{2}):", 1).try_cast("int")
            m = F.regexp_extract(tz, r":(\d{2})$", 1).try_cast("int")
            dur = (F.when(tz == "Z", F.lit("PT0S"))
                    .when((h == 0) & (m == 0), F.lit("PT0S"))
                    .when(m == 0, F.concat(sign, F.lit("PT"),
                                           h.cast("string"), F.lit("H")))
                    .otherwise(F.concat(sign, F.lit("PT"),
                                        h.cast("string"), F.lit("H"),
                                        m.cast("string"), F.lit("M"))))
            return F.when(tz == "", F.lit(None)).otherwise(F.concat(
                F.lit('"'), dur,
                F.lit('"^^<http://www.w3.org/2001/XMLSchema'
                      '#dayTimeDuration>')))
        v = F.regexp_extract(s, self._DT_PATTERNS[func], 1)
        return v.try_cast("double" if func == "SECONDS" else "int")

    def _xsdcast_col(self, ast) -> Column:
        """xsd constructor casts (§17.5, XPath casting): produce full
        typed-literal TERM strings so cast results join/serialize like
        pattern-matched terms.  Numeric lexical forms use Spark's cast
        rendering (sufficient for the values that occur in mappings;
        scientific-notation canonicalization is out of scope)."""
        _k, local, arg = ast
        dt = _XSD_NS + local
        if local == "string":
            return F.concat(F.lit('"'),
                            self._operand_col(arg, lexical=True), F.lit('"'))
        if local == "boolean":
            lex = F.lower(self._operand_col(arg, lexical=True).cast("string"))
            v = (F.when(lex.isin("true", "1"), F.lit("true"))
                  .when(lex.isin("false", "0"), F.lit("false")))
            return F.when(v.isNotNull(),
                          F.concat(F.lit('"'), v, F.lit(f'"^^<{dt}>')))
        if local in ("dateTime", "date"):
            lex = self._operand_col(arg, lexical=True)
            return F.when(lex.isNotNull(),
                          F.concat(F.lit('"'), lex, F.lit(f'"^^<{dt}>')))
        n = self._numeric_operand(arg)
        if local in ("integer", "int", "long", "short", "byte",
                     "nonNegativeInteger", "positiveInteger",
                     "unsignedInt", "unsignedLong"):
            v = n.cast("long").cast("string")
        else:   # decimal / double / float
            v = n.cast("string")
        return F.when(v.isNotNull(),
                      F.concat(F.lit('"'), v, F.lit(f'"^^<{dt}>')))

    def _termctor_col(self, ast) -> Column:
        """Term constructors (§17.4.2): IRI/URI, STRDT, STRLANG, BNODE —
        produce full N-Triples TERM strings, so constructed terms join
        and serialize exactly like pattern-matched ones."""
        _k, func, args = ast
        if func == "IRI":
            return F.concat(F.lit("<"),
                            self._operand_col(args[0], lexical=True),
                            F.lit(">"))
        if func == "STRDT":
            if args[1][0] != "iri":
                raise ValueError("STRDT needs an IRI datatype argument")
            return F.concat(F.lit('"'),
                            self._operand_col(args[0], lexical=True),
                            F.lit(f'"^^<{args[1][1]}>'))
        if func == "STRLANG":
            if args[1][0] != "str":
                raise ValueError("STRLANG needs a literal language tag")
            return F.concat(F.lit('"'),
                            self._operand_col(args[0], lexical=True),
                            F.lit(f'"@{args[1][1]}'))
        # BNODE([expr]): deterministic content-derived label (same design
        # as the engine's content-hash bnodes — distributable dedup)
        inner = (self._operand_col(args[0], lexical=True) if args
                 else F.lit(""))
        return F.concat(F.lit("_:b"), F.md5(inner.cast("string")))

    def _term_form_col(self, ast) -> Column:
        """Operand → its N-Triples TERM form (for sameTerm): vars are
        already term strings; constants are wrapped."""
        kind = ast[0]
        if kind == "var":
            return F.col(ast[1])
        if kind == "iri":
            return F.lit(f"<{ast[1]}>")
        if kind == "str":
            return F.lit(f'"{ast[1]}"')
        if kind == "boollit":
            return F.lit(f'"{ast[1]}"^^'
                         "<http://www.w3.org/2001/XMLSchema#boolean>")
        if kind == "typedlit":
            return F.lit(f'"{ast[1]}"^^<{ast[2]}>')
        if kind == "termlit":
            return F.lit(ast[1])
        return self._operand_col(ast)

    def _strop_col(self, ast) -> Column:
        """SPARQL string functions over the lexical value (§17.4.3):
        UCASE/LCASE/STRLEN/SUBSTR fully dynamic; STRBEFORE/STRAFTER/
        REPLACE take literal needles (the overwhelmingly common shape)."""
        _k, func, args = ast
        base = self._operand_col(args[0], lexical=True)
        if func == "UCASE":
            return F.upper(base)
        if func == "LCASE":
            return F.lower(base)
        if func == "STRLEN":
            return F.length(base)
        if func == "SUBSTR":
            def as_int(a):
                return (F.lit(int(a[1])) if a[0] == "num"
                        else self._operand_col(a).cast("int"))
            start = as_int(args[1])
            length = as_int(args[2]) if len(args) > 2 else F.length(base)
            return base.substr(start, length)
        if func in ("STRBEFORE", "STRAFTER"):
            if args[1][0] != "str":
                raise ValueError(f"{func} needs a literal second argument")
            needle = args[1][1]
            pos = F.instr(base, needle)
            if func == "STRBEFORE":
                return F.when(pos > 0, base.substr(F.lit(1), pos - 1)) \
                        .otherwise(F.lit(""))
            return F.when(pos > 0,
                          base.substr(pos + len(needle), F.length(base))) \
                    .otherwise(F.lit(""))
        if func == "REPLACE":
            if args[1][0] != "str" or args[2][0] != "str":
                raise ValueError("REPLACE needs literal pattern/replacement")
            return F.regexp_replace(base, args[1][1], args[2][1])
        if func == "ENCODE_FOR_URI":
            # §17.4.3.4 unreserved set = ALPHA DIGIT - . _ ~ with uppercase
            # %XX UTF-8 escapes.  F.url_encode (java URLEncoder) differs in
            # exactly three ways: space→'+', '*' kept, '~'→%7E; a literal
            # '+' or '*' in the input is itself escaped first, so the
            # post-fixups below cannot collide with input characters.
            enc = F.url_encode(base)
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            return F.replace(enc, F.lit("%7E"), F.lit("~"))
        raise ValueError(f"unsupported string function {func}")

    def _bind_term_const(self, ast) -> Optional[Column]:
        """Term-string form of a CONSTANT BIND expression, or None for a
        computed one.  A bound constant is an RDF term — it must join
        against pattern-bound variables and project exactly like VALUES
        and the term constructors do (r6 fix: the plain-value form broke
        BIND-then-pattern joins and serialized bare lexicals)."""
        kind = ast[0]
        if kind == "str":
            return F.lit(f'"{ast[1]}"')
        if kind == "iri":
            return F.lit(f"<{ast[1]}>")
        if kind == "termlit":
            return F.lit(ast[1])
        return None

    def _bind_col(self, ast) -> Column:
        """BIND expression → Column.  Arithmetic works on extracted
        numeric values; CONCAT/STR on lexical values; the result is a
        plain value (not a lexical term form)."""
        kind = ast[0]
        if kind == "var":
            return F.col(ast[1])
        if kind == "num":
            return F.lit(ast[1])
        if kind == "strfn":
            inner = ast[1]
            if inner[0] == "var":
                return lexical_value(F.col(inner[1]))
            return F.lit(str(inner[1]))
        if kind == "str":       # string literal operand
            return F.lit(ast[1])
        if kind == "iri":
            return F.lit(ast[1])
        if kind == "concat":
            parts = []
            for a in ast[1]:
                c = self._bind_col(a)
                if a[0] == "var":
                    c = lexical_value(c)
                parts.append(c.cast("string"))
            return F.concat(*parts)
        if kind == "arith":
            _k, op, l, r = ast
            lc = numeric_value(F.col(l[1])) if l[0] == "var" else self._bind_col(l)
            rc = numeric_value(F.col(r[1])) if r[0] == "var" else self._bind_col(r)
            return {"+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc}[op]
        # string functions / accessors shared with the filter path
        return self._operand_col(ast)

    # -- full query -----------------------------------------------------
    def construct(self, query_text: str) -> DataFrame:
        """CONSTRUCT → a new (subj, pred, obj) triple DataFrame from the
        template applied to every WHERE binding (the reference's
        CONSTRUCT answering, MorphMongoQueryProcessor.scala:118-138 —
        here it's projection + union + distinct)."""
        q = query_text if isinstance(query_text, SelectQuery) \
            else parse_sparql(query_text)
        if q.construct is None:
            raise ValueError("not a CONSTRUCT query")
        bindings = self._dataset_engine(q)._join_group(q.where)
        if q.limit is not None or q.offset:
            # the result is a set: ORDER BY alone changes nothing
            bindings = self._slice_solutions(bindings, q)

        def term_col(term) -> Column:
            kind, val = term
            if kind == "var":
                return F.col(val)
            if kind == "iri":
                return F.lit(f"<{val}>")
            return F.lit(val)  # literal lexical form

        parts = []
        for tp in q.construct:
            parts.append(bindings.select(term_col(tp.s).alias("subj"),
                                         term_col(tp.p).alias("pred"),
                                         term_col(tp.o).alias("obj")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # solution modifiers apply BEFORE template instantiation
        # (§16.2: slice the solution sequence, then build the graph)
        return out.where(F.col("subj").isNotNull()
                         & F.col("obj").isNotNull()).distinct()

    def _apply_having(self, df: DataFrame, having: list,
                      agg_alias: dict) -> DataFrame:
        """HAVING over the aggregated frame: each aggregate reference
        reads its (possibly hidden) alias from `aggregate_specs`."""
        def resolve(x):
            if isinstance(x, tuple):
                if x and x[0] == "aggref":
                    return ("var", agg_alias[(x[1], repr(x[2]), x[3])])
                return tuple(resolve(e) for e in x)
            if isinstance(x, list):
                return [resolve(e) for e in x]
            return x

        for h in having:
            df = df.where(self._filter_col(resolve(h), df))
        return df

    def _slice_solutions(self, df: DataFrame, q: SelectQuery) -> DataFrame:
        """Apply ORDER BY / OFFSET / LIMIT to a solutions frame: the
        grammar's SolutionModifier on every query form, and the last
        step of aggpush's pushed SELECT.  ``self`` is read only for an
        expression key, so aggpush passes no engine (None) when every
        key is a plain variable.

        The ordering mode, logged at DEBUG:

          - ``take-ordered``: ORDER BY with LIMIT stays a global
            ``orderBy``, which plans as ``TakeOrderedAndProject``: a
            per-partition top-k and no exchange, where the one-partition
            sort would add a shuffle and a job;
          - ``single-partition``: ORDER BY without LIMIT projects the
            §15.4 keys as hidden ``#ok<i>`` columns in the parallel
            upstream stage, moves the rows to one partition and sorts
            them there.  A global ``orderBy`` would run the upstream
            twice (its range exchange samples it first) and evaluate
            the key expressions on every comparison.  Every consumer
            collects the whole answer into the driver anyway, so only
            the merge is single;
          - ``none``: no ORDER BY."""
        if not q.order_by:
            mode = "none"
        elif q.limit is not None:
            mode = "take-ordered"
        else:
            mode = "single-partition"
        _log.debug("ordering %s", mode)
        hidden: list = []
        if q.order_by:
            dtypes = dict(df.dtypes)

            def keys(v):
                if not isinstance(v, str):
                    return [self._operand_col(v, lexical=True)]
                if dtypes.get(v, "string") != "string":
                    # plain computed column (BIND arithmetic, aggregate
                    # alias): its native type already sorts by value
                    return [F.col(v)]
                return term_order_keys(F.col(v))
            ks = [(k, a) for v, a in q.order_by for k in keys(v)]
            if mode == "take-ordered":
                df = df.orderBy(*[k.asc() if a else k.desc() for k, a in ks])
            elif all(v in dtypes for v in _order_vars(q.order_by)):
                hidden = [f"#ok{i}" for i in range(len(ks))]
                df = (df.select("*", *[k.alias(n)
                                       for (k, _a), n in zip(ks, hidden)])
                      .repartition(1)
                      .sortWithinPartitions(*[
                          F.col(n).asc() if a else F.col(n).desc()
                          for (_k, a), n in zip(ks, hidden)]))
            else:
                # a key reads a variable the projection dropped: Spark
                # resolves it below the sort, so the keys stay inline
                df = df.repartition(1).sortWithinPartitions(
                    *[k.asc() if a else k.desc() for k, a in ks])
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df.drop(*hidden) if hidden else df

    def evaluate(self, q: SelectQuery, graph_term=None) -> DataFrame:
        df = self._join_group(q.where, graph_term)
        has_aggs = bool(q.aggregates or q.having)
        # SELECT expressions that feed GROUP BY keys compute pre-grouping;
        # in an aggregate query the rest compute POST-aggregation over the
        # group keys / aggregate aliases (ADVICE r3: they used to be
        # silently dropped by the groupBy)
        pre_exprs = [(a, e) for a, e in q.select_exprs
                     if not has_aggs or a in q.group_by]
        post_exprs = [(a, e) for a, e in q.select_exprs
                      if has_aggs and a not in q.group_by]
        for alias, expr in pre_exprs:
            df = df.withColumn(alias, self._operand_col(expr))
        if has_aggs:
            specs, agg_alias = aggregate_specs(q)
            visible = [a[3] for a in q.aggregates]

            # expression aggregate inputs compute PRE-GROUPING as
            # hidden columns (plain computed values, not term strings)
            expr_inputs: dict = {}
            for func, var, distinct, alias, sep in specs:
                if isinstance(var, tuple) and repr(var) not in expr_inputs:
                    hid = f"#aggin{len(expr_inputs)}"
                    df = df.withColumn(hid, self._operand_col(var))
                    expr_inputs[repr(var)] = hid

            aggs = []
            for func, var, distinct, alias, sep in specs:
                if func == "COUNT" and var is None:
                    aggs.append(F.count(F.lit(1)).alias(alias))
                    continue
                is_expr = isinstance(var, tuple)
                col = F.col(expr_inputs[repr(var)]) if is_expr \
                    else F.col(var)
                if func == "COUNT":
                    aggs.append((F.count_distinct(col) if distinct
                                 else F.count(col)).alias(alias))
                elif func == "GROUP_CONCAT":
                    vals = col.cast("string") if is_expr \
                        else lexical_value(col)
                    coll = F.collect_set(vals) if distinct \
                        else F.collect_list(vals)
                    # SPARQL leaves member order undefined; sorting makes
                    # the result deterministic (and oracle-comparable)
                    aggs.append(F.array_join(F.sort_array(coll), sep)
                                .alias(alias))
                elif func == "SAMPLE":
                    # implementation-defined pick — min is deterministic
                    aggs.append(F.min(col).alias(alias))
                elif distinct and func in ("SUM", "AVG"):
                    # DISTINCT removes duplicate TERMS before the
                    # numeric aggregate (§18.5.1); MIN/MAX are
                    # unaffected by the quantifier
                    if is_expr:
                        ncol = col.cast("double")
                        agg = F.sum_distinct(ncol) if func == "SUM" \
                            else (F.sum_distinct(ncol) /
                                  F.count_distinct(ncol))
                        aggs.append(agg.alias(alias))
                    else:
                        aggs.append(distinct_numeric_agg(col, func)
                                    .alias(alias))
                else:
                    ncol = col.cast("double") if is_expr \
                        else numeric_value(col)
                    fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min,
                          "MAX": F.max}[func]
                    aggs.append(fn(ncol).alias(alias))
            if q.group_by:
                df = df.groupBy(*q.group_by).agg(*aggs)
            else:
                df = df.agg(*aggs)

            df = self._apply_having(df, q.having, agg_alias)
            for alias, expr in post_exprs:
                # recompute over group keys / aggregate aliases; a
                # reference to a non-grouped variable fails analysis with
                # Spark's column-not-found error (SPARQL also forbids it)
                df = df.withColumn(alias, self._operand_col(expr))
            # SELECT-clause order (q.variables carries plain vars, expr
            # aliases AND aggregate aliases in source order); group keys
            # not explicitly selected keep their legacy trailing spot
            proj = list(dict.fromkeys(
                [v for v in q.variables if v != "*"]
                + [g for g in q.group_by if not g.startswith("#")]
                + visible))
            if not proj:
                raise ValueError("HAVING needs GROUP BY or a projected "
                                 "aggregate")
            df = df.select(*proj)
        elif q.variables and q.variables != ["*"]:
            df = df.select(*q.variables)
        else:
            # SELECT *: blank-node pattern vars and join-arity dummies
            # are not projectable (SPARQL 1.1 §4.1.4)
            # internal columns all use the '#' prefix, which the VAR
            # token (\?[A-Za-z_]\w*) can never produce — user variables
            # like ?_c1 or ?_price are safe (ADVICE r3)
            internal = [c for c in df.columns if c.startswith("#")]
            if internal:
                df = df.drop(*internal)
        if q.distinct:
            df = df.distinct()
        return self._slice_solutions(df, q)


# ---------------------------------------------------------------------------
# Result serialization (the reference's SPARQL result sinks:
# MorphMongoQueryProcessor.scala:45-150 — XML/JSON/CSV for SELECT/ASK)
# ---------------------------------------------------------------------------

def _term_to_binding(term) -> Optional[dict]:
    if term is None:
        return None
    if not isinstance(term, str):
        # aggregate / BIND-produced plain value (count → long, avg →
        # double): a plain literal binding
        return {"type": "literal", "value": str(term)}
    if term.startswith("<"):
        return {"type": "uri", "value": term[1:-1]}
    if term.startswith("_:"):
        return {"type": "bnode", "value": term[2:]}
    m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z-]+)|\^\^<([^>]*)>)?$', term)
    if m:
        out = {"type": "literal", "value": m.group(1)}
        if m.group(2):
            out["xml:lang"] = m.group(2)
        if m.group(3):
            out["datatype"] = m.group(3)
        return out
    return {"type": "literal", "value": term}


def to_sparql_json(df: DataFrame) -> dict:
    """SELECT results → SPARQL 1.1 Query Results JSON (driver-side;
    collect() the projection first — result sets are small by definition)."""
    cols = df.columns
    bindings = []
    for row in df.collect():
        b = {}
        for c in cols:
            t = _term_to_binding(row[c])
            if t is not None:
                b[c] = t
        bindings.append(b)
    return {"head": {"vars": cols}, "results": {"bindings": bindings}}


def to_sparql_csv(df: DataFrame) -> str:
    """SELECT results → SPARQL 1.1 CSV (plain values)."""
    import csv as _csv
    import io as _io
    cols = df.columns
    buf = _io.StringIO()
    w = _csv.writer(buf)
    w.writerow(cols)
    for row in df.select([lexical_value(F.col(c)).alias(c)
                          for c in cols]).collect():
        w.writerow(["" if row[c] is None else row[c] for c in cols])
    return buf.getvalue()


def to_sparql_tsv(df: DataFrame) -> str:
    """SELECT results → SPARQL 1.1 TSV: full term syntax per the spec
    (IRIs bracketed, literals quoted) — terms are already in that form."""
    cols = df.columns
    lines = ["\t".join("?" + c for c in cols)]
    for row in df.collect():
        lines.append("\t".join("" if row[c] is None else str(row[c])
                               for c in cols))
    return "\n".join(lines) + "\n"


def _xml_esc(s: str, attr: bool = False) -> str:
    s = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return s.replace('"', "&quot;") if attr else s


def to_sparql_xml(df: DataFrame) -> str:
    """SELECT results → SPARQL 1.1 Query Results XML — the reference's
    DEFAULT result serialization (MorphMongoQueryProcessor.scala:45-150,
    Jena ResultSetFormatter.outputAsXML)."""
    cols = df.columns
    out = ['<?xml version="1.0"?>',
           '<sparql xmlns="http://www.w3.org/2005/sparql-results#">',
           "  <head>"]
    out += [f'    <variable name="{_xml_esc(c, attr=True)}"/>' for c in cols]
    out += ["  </head>", "  <results>"]
    for row in df.collect():
        out.append("    <result>")
        for c in cols:
            b = _term_to_binding(row[c])
            if b is None:
                continue
            out.append(f'      <binding name="{_xml_esc(c, attr=True)}">')
            if b["type"] == "uri":
                out.append(f"        <uri>{_xml_esc(b['value'])}</uri>")
            elif b["type"] == "bnode":
                out.append(f"        <bnode>{_xml_esc(b['value'])}</bnode>")
            else:
                a = ""
                if "xml:lang" in b:
                    a = f' xml:lang="{b["xml:lang"]}"'
                elif "datatype" in b:
                    a = f' datatype="{_xml_esc(b["datatype"], attr=True)}"'
                out.append(f"        <literal{a}>{_xml_esc(b['value'])}"
                           "</literal>")
            out.append("      </binding>")
        out.append("    </result>")
    out += ["  </results>", "</sparql>"]
    return "\n".join(out) + "\n"


def to_ask_xml(result: bool) -> str:
    return ('<?xml version="1.0"?>\n'
            '<sparql xmlns="http://www.w3.org/2005/sparql-results#">\n'
            "  <head/>\n"
            f"  <boolean>{'true' if result else 'false'}</boolean>\n"
            "</sparql>\n")
