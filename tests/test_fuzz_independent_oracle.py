"""Independent-oracle fuzzing: seeded random SPARQL queries paired with
GENERATED DuckDB SQL over the `kg_tpch_triples_cte()` triple replication.

The other fuzz batteries (test_pushdown_fuzz.py) check the REWRITER
against our own evaluator — a shared-evaluator bug passes both sides.
Here the oracle is a different engine entirely (DuckDB executing
mechanically generated SQL joins over the CTE triple set), so evaluator
join/filter/aggregate semantics are exercised independently, on shapes
nobody hand-picked.  Both the evaluator path (SparqlEngine over the
materialized pool) and the pushdown path (answer_auto) must match.

Restricted to shapes with an exact 1:1 SQL rendering: required BGP
chains, constant subjects/objects, numeric-comparison and STRSTARTS and
IN filters, OPTIONAL (fresh-object left extensions -> LEFT JOIN),
FILTER (NOT) EXISTS (-> correlated [NOT] EXISTS), DISTINCT, GROUP BY +
COUNT/COUNT DISTINCT/MIN/MAX/SUM, total-order ORDER BY + LIMIT.  Numeric cells compare at 1e-6 relative
(SUM reassociation)."""

import random

import duckdb
import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import (TPCH_KG_MAPPING,
                                         kg_tpch_triples_cte, tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sparql import SparqlEngine

from conftest import tier_pool

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "orders")
EX = "http://example.com/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
            "HOUSEHOLD", "NOSUCH"]
STATUSES = ["O", "F", "P"]

# (predicate, subject entity, object kind) — the TPCH KG vocabulary
# object kinds: iri / plain / decimal
VOCAB = {
    "customer": [("segment", "plain"), ("name", "plain"),
                 ("acctbal", "decimal"), ("inNation", "iri")],
    "order": [("status", "plain"), ("totalPrice", "decimal"),
              ("placedBy", "iri")],
    "nation": [("name", "plain"), ("inRegion", "iri")],
    "region": [("name", "plain")],
}
CLASSES = {"customer": "Customer", "order": "Order",
           "nation": "Nation", "region": "Region"}
# iri-valued predicate → target entity
TARGET = {"inNation": "nation", "placedBy": "customer",
          "inRegion": "region"}


class Gen:
    """One seeded random query: internal pattern list + filters +
    modifiers, rendered to BOTH SPARQL and DuckDB SQL."""

    def __init__(self, seed: int):
        self.r = random.Random(seed)
        self.pats = []          # (s_term, pred_iri, o_term)
        self.filters = []       # ("numcmp"|"strstarts"|"in", var, ...)
        self.var_kind = {}      # var -> plain|decimal|iri (object vars)
        self.numeric_vars = []
        self.plain_vars = []

    def v(self, base):
        name = base
        k = 2
        while name in self.var_kind:
            name = f"{base}{k}"
            k += 1
        return name

    def entity_patterns(self, ent: str, svar: str, depth: int = 0):
        r = self.r
        self.var_kind.setdefault(svar, "iri")
        picks = r.sample(VOCAB[ent], k=r.randint(1, len(VOCAB[ent])))
        if r.random() < 0.4:
            self.pats.append((("var", svar), RDF_TYPE,
                              ("iri", EX + CLASSES[ent])))
        for pred, kind in picks:
            p_iri = EX + pred
            if kind == "iri":
                tgt = TARGET[pred]
                if r.random() < 0.5 and depth < 2:
                    ovar = self.v(tgt[0])
                    self.var_kind[ovar] = "iri"
                    self.pats.append((("var", svar), p_iri, ("var", ovar)))
                    self.entity_patterns(tgt, ovar, depth + 1)
                else:
                    key = r.choice([0, 1, 3, 7, 999999])
                    self.pats.append((("var", svar), p_iri,
                                      ("iri", f"http://example.org/{tgt}/{key}")))
            elif kind == "plain":
                if pred == "segment" and r.random() < 0.5:
                    self.pats.append((("var", svar), p_iri,
                                      ("lit", f'"{r.choice(SEGMENTS)}"')))
                elif pred == "status" and r.random() < 0.5:
                    self.pats.append((("var", svar), p_iri,
                                      ("lit", f'"{r.choice(STATUSES)}"')))
                else:
                    ovar = self.v(pred[0] + "v")
                    self.var_kind[ovar] = "plain"
                    self.plain_vars.append((ovar, pred))
                    self.pats.append((("var", svar), p_iri, ("var", ovar)))
            else:
                ovar = self.v(pred[0] + "n")
                self.var_kind[ovar] = "decimal"
                self.numeric_vars.append(ovar)
                self.pats.append((("var", svar), p_iri, ("var", ovar)))

    def gen_filters(self):
        r = self.r
        for var in self.numeric_vars:
            if r.random() < 0.6:
                op = r.choice(["<", ">", "<=", ">="])
                val = r.choice(["0", "1000.0", "5000", "150000.0"])
                self.filters.append(("numcmp", var, op, val))
        for var, pred in self.plain_vars:
            if pred == "name" and r.random() < 0.4:
                pfx = r.choice(["Customer#0000000", "NATION_1", "ZZZ"])
                self.filters.append(("strstarts", var, pfx))
            elif pred == "segment" and r.random() < 0.4:
                a, b = r.sample(SEGMENTS, 2)
                self.filters.append(("in", var, [a, b]))

    def build(self):
        r = self.r
        root = r.choice(["customer", "order", "nation"])
        root_var = self.v(root[0])
        self.entity_patterns(root, root_var)
        self.gen_filters()

        # OPTIONAL: fresh-object left extensions on the root subject
        self.optionals = []      # (svar, pred_iri, ovar)
        if r.random() < 0.4:
            pred, kind = r.choice(
                [(p, k) for p, k in VOCAB[root] if k != "iri"])
            ovar = self.v("opt")
            self.var_kind[ovar] = kind
            self.optionals.append((root_var, EX + pred, ovar))
        # FILTER (NOT) EXISTS probes on the root subject; MINUS with a
        # subject-only shared var evaluates identically to NOT EXISTS
        # (every common var bound on both sides -> anti join)
        self.exists = []    # (positive, svar, pred_iri, obj_term, minus)
        if r.random() < 0.45:
            positive = r.random() < 0.5
            minus = (not positive) and r.random() < 0.4
            if root == "customer":
                obj = ("lit", f'"{r.choice(SEGMENTS)}"') \
                    if r.random() < 0.6 else None
                self.exists.append((positive, root_var,
                                    EX + "segment", obj, minus))
            elif root == "order":
                obj = ("lit", f'"{r.choice(STATUSES)}"') \
                    if r.random() < 0.6 else None
                self.exists.append((positive, root_var,
                                    EX + "status", obj, minus))
            else:
                self.exists.append((positive, root_var,
                                    EX + "inRegion", None, minus))

        all_vars = [v for v in self.var_kind]
        agg = None
        group_var = None
        if r.random() < 0.4:
            candidates = [v for v, k in self.var_kind.items()
                          if k == "plain"]
            if candidates:
                group_var = r.choice(candidates)
                kind = r.choice(["count", "countv", "countd",
                                 "minn", "sumn"])
                if kind in ("minn", "sumn") and not self.numeric_vars:
                    kind = "count"
                if kind == "count":
                    agg = ("COUNT", None, False)
                elif kind == "countv":
                    agg = ("COUNT", r.choice(all_vars), False)
                elif kind == "countd":
                    agg = ("COUNT", r.choice(all_vars), True)
                elif kind == "minn":
                    agg = (r.choice(["MIN", "MAX"]),
                           r.choice(self.numeric_vars), False)
                else:
                    agg = ("SUM", r.choice(self.numeric_vars), False)
        if agg:
            proj = [group_var]
        else:
            proj = r.sample(all_vars, min(len(all_vars), r.randint(1, 3)))
        distinct = (not agg) and r.random() < 0.4
        limit = r.randint(3, 12) if (not agg and r.random() < 0.3) else None
        return self._render(proj, distinct, agg, group_var, limit)

    # -- rendering --------------------------------------------------------
    def _render(self, proj, distinct, agg, group_var, limit):
        # SPARQL text
        def sterm(t):
            k, v = t
            if k == "var":
                return f"?{v}"
            if k == "iri":
                return f"<{v}>"
            return v  # lit carries quotes

        lines = [f"{sterm(s)} <{p}> {sterm(o)} ." for s, p, o in self.pats]
        for sv, p_iri, ov in self.optionals:
            lines.append(f"OPTIONAL {{ ?{sv} <{p_iri}> ?{ov} }}")
        for positive, sv, p_iri, obj, minus in self.exists:
            ob = sterm(obj) if obj is not None else "?exo"
            if minus:
                lines.append(f"MINUS {{ ?{sv} <{p_iri}> {ob} }}")
            else:
                kw = "EXISTS" if positive else "NOT EXISTS"
                lines.append(f"FILTER {kw} {{ ?{sv} <{p_iri}> {ob} }}")
        for f in self.filters:
            if f[0] == "numcmp":
                lines.append(f"FILTER(?{f[1]} {f[2]} {f[3]})")
            elif f[0] == "strstarts":
                lines.append(f'FILTER(STRSTARTS(?{f[1]}, "{f[2]}"))')
            else:
                ins = ", ".join(f'"{x}"' for x in f[2])
                lines.append(f"FILTER(?{f[1]} IN ({ins}))")
        sel = " ".join(f"?{v}" for v in proj)
        if agg:
            func, var, dist = agg
            inner = "*" if var is None else \
                ("DISTINCT ?" + var if dist else "?" + var)
            sel += f" ({func}({inner}) AS ?agg)"
        head = "SELECT " + ("DISTINCT " if distinct else "") + sel
        body = "\n  ".join(lines)
        sparql = f"{head} WHERE {{\n  {body}\n}}"
        order_cols = list(proj) + (["agg"] if agg else [])
        if agg:
            sparql += f" GROUP BY ?{group_var}"
        sparql += " ORDER BY " + " ".join(f"?{c}" for c in order_cols)
        if limit:
            sparql += f" LIMIT {limit}"

        # DuckDB SQL over the CTE
        var_col: dict = {}
        joins, wheres = [], []
        for i, (s, p, o) in enumerate(self.pats):
            t = f"t{i}"
            conds = [f"{t}.pred = '<{p}>'"]
            for term, col in ((s, f"{t}.subj"), (o, f"{t}.obj")):
                k, v = term
                if k == "var":
                    if v in var_col:
                        conds.append(f"{col} = {var_col[v]}")
                    else:
                        var_col[v] = col
                elif k == "iri":
                    conds.append(f"{col} = '<{v}>'")
                else:
                    lit = v.replace("'", "''")
                    conds.append(f"{col} = '{lit}'")
            if i == 0:
                joins.append("triples t0")
                wheres.extend(conds)
            else:
                joins.append(f"JOIN triples {t} ON "
                             + " AND ".join(conds))

        def lex(col):
            return f"regexp_extract({col}, '^\"([^\"]*)', 1)"

        def num(col):
            return f"CAST({lex(col)} AS DOUBLE)"

        for k, (sv, p_iri, ov) in enumerate(self.optionals):
            t = f"o{k}"
            joins.append(f"LEFT JOIN triples {t} ON {t}.pred = '<{p_iri}>' "
                         f"AND {t}.subj = {var_col[sv]}")
            var_col[ov] = f"{t}.obj"
        for k, (positive, sv, p_iri, obj, _minus) in \
                enumerate(self.exists):
            sub = (f"SELECT 1 FROM triples e{k} WHERE "
                   f"e{k}.pred = '<{p_iri}>' AND e{k}.subj = {var_col[sv]}")
            if obj is not None:
                lit = obj[1].replace("'", "''")
                sub += f" AND e{k}.obj = '{lit}'"
            wheres.append(("EXISTS (" if positive else "NOT EXISTS (")
                          + sub + ")")
        for f in self.filters:
            col = var_col[f[1]]
            if f[0] == "numcmp":
                wheres.append(f"{num(col)} {f[2]} {f[3]}")
            elif f[0] == "strstarts":
                wheres.append(f"{lex(col)} LIKE '{f[2]}%'")
            else:
                ins = ", ".join(f"'\"{x}\"'" for x in f[2])
                wheres.append(f"{col} IN ({ins})")

        sel_cols = [f"{var_col[v]} AS {v}" for v in proj]
        if agg:
            func, var, dist = agg
            if var is None:
                sel_cols.append("COUNT(*) AS agg")
            elif func == "COUNT":
                d = "DISTINCT " if dist else ""
                sel_cols.append(f"COUNT({d}{var_col[var]}) AS agg")
            else:
                sel_cols.append(f"{func}({num(var_col[var])}) AS agg")
        # ORDER BY mirrors the engine's SPARQL §15.4 term keys
        # (term_order_keys: rank, numeric value NULLS FIRST, lexical) so
        # LIMIT cuts at the same boundary in both engines
        num_re = (r"\^\^<http://www\.w3\.org/2001/XMLSchema#(integer|"
                  r"decimal|double|float|long|int|short|byte)>$")

        def order_keys(c):
            rank = (f"(CASE WHEN {c} IS NULL THEN 0 "
                    f"WHEN {c} LIKE '_:%' THEN 1 "
                    f"WHEN {c} LIKE '<%' THEN 2 ELSE 3 END)")
            nval = (f"(CASE WHEN regexp_matches({c}, '{num_re}') THEN "
                    f"CAST({lex(c)} AS DOUBLE) END) NULLS FIRST")
            lexv = (f"(CASE WHEN {c} LIKE '<%' THEN "
                    f"regexp_replace({c}, '^<|>$', '', 'g') "
                    f"WHEN {c} LIKE '\"%' THEN {lex(c)} ELSE {c} END)")
            return [rank, nval, lexv]

        sql_keys = []
        for c in order_cols:
            if c == "agg":
                sql_keys.append("agg")
            else:
                sql_keys.extend(order_keys(var_col[c]))
        sql = "SELECT " + ("DISTINCT " if distinct else "") \
            + ", ".join(sel_cols) + "\nFROM " + "\n".join(joins)
        if wheres:
            sql += "\nWHERE " + " AND ".join(wheres)
        if agg:
            sql += f"\nGROUP BY {var_col[group_var]}"
        if distinct:
            # DISTINCT forbids ordering by non-projected expressions:
            # wrap and order the projection by the same term keys
            inner = sql
            sql_keys = []
            for c in order_cols:
                sql_keys.extend([c] if c == "agg" else order_keys(c))
            sql = f"SELECT * FROM (\n{inner}\n) d"
        sql += "\nORDER BY " + ", ".join(sql_keys)
        if limit:
            sql += f" LIMIT {limit}"
        return sparql, sql, bool(limit)


def _norm(rows):
    out = []
    for r in rows:
        cells = []
        for x in r:
            if x is None:
                cells.append(None)
            elif isinstance(x, (int, float)):
                cells.append(round(float(x), 6))
            else:
                cells.append(str(x))
        out.append(tuple(cells))
    return out


@pytest.fixture(scope="module")
def env(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    pool = tier_pool(spark, mapping, "native", tables, fused=False)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return mapping, tables, SparqlEngine(pool), con


SEEDS = list(range(9001, 9051))


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_vs_duckdb_oracle(spark, env, seed):
    mapping, tables, engine, con = env
    sparql, sql, has_limit = Gen(seed).build()
    q = "PREFIX ex: <http://example.com/>\n" + sparql
    want = _norm(con.execute(kg_tpch_triples_cte() + "\n" + sql)
                 .fetchall())
    # evaluator path (materialized pool) — LIMIT queries compare as a
    # subset-of-tied-order only if the order is total; projections here
    # always order by every output column, so both engines agree
    got_eval = _norm(r for r in engine.sql(q).collect())
    assert got_eval == want, \
        f"evaluator divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"
    # pushdown path
    got_push = _norm(r for r in
                     answer_auto(spark, mapping, q, tables=tables).collect())
    assert got_push == want, \
        f"pushdown divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"


# ---------------------------------------------------------------------------
# Graph-context shapes vs an independent quad CTE: the round-6 quad
# machinery (native graph emission + GRAPH pushdown + evaluator graph
# scoping) checked against DuckDB executing the R2RML target-graph
# expansion spelled out in SQL.
# ---------------------------------------------------------------------------

def graph_quads_cte() -> str:
    ex = "http://example.com/"
    nat = "'<http://example.org/nation/' || n_nationkey || '>'"
    reg = "'<http://example.org/region/' || r_regionkey || '>'"
    g_reg = "'<http://example.org/g/' || n_regionkey || '>'"
    rdft = "'<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'"
    parts = [
        # nation class triples: subject graphs
        f"SELECT {nat} AS subj, {rdft} AS pred, '<{ex}Nation>' AS obj, "
        f"{g_reg} AS graph FROM nation",
        # nation names: subject graph ∪ POM constant graph
        f"SELECT {nat}, '<{ex}name>', '\"' || n_name || '\"', {g_reg} "
        f"FROM nation",
        f"SELECT {nat}, '<{ex}name>', '\"' || n_name || '\"', "
        f"'<{ex}gnames>' FROM nation",
        # inRegion ROM quads: subject graphs
        f"SELECT {nat}, '<{ex}inRegion>', {reg}, {g_reg} "
        f"FROM nation JOIN region ON n_regionkey = r_regionkey",
        # region names: default graph
        f"SELECT {reg}, '<{ex}name>', '\"' || r_name || '\"', "
        f"CAST(NULL AS VARCHAR) FROM region",
    ]
    body = "\nUNION ALL\n".join(parts)
    return (f"WITH quads AS (SELECT DISTINCT * FROM (\n{body}\n) "
            f"q(subj, pred, obj, graph))")


GQ_GRAPHS = [f"http://example.org/g/{i}" for i in (0, 2, 4, 9)] + \
            ["http://example.com/gnames", "http://example.com/nope"]


class GraphGen:
    """Random GRAPH-context query over the graph-mapped nation/region
    KG, rendered to SPARQL and to SQL over the quad CTE."""

    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def build(self):
        r = self.r
        # inner patterns (within the graph context), over nation
        inner = []
        vars_ = ["s"]
        picks = r.sample(["name", "class", "region"], k=r.randint(1, 3))
        for p in picks:
            if p == "name":
                inner.append(("s", EX + "name", ("var", "n")))
                vars_.append("n")
            elif p == "class":
                inner.append(("s", RDF_TYPE, ("iri", EX + "Nation")))
            else:
                inner.append(("s", EX + "inRegion", ("var", "rg")))
                vars_.append("rg")
        ctx = r.choice(["default", "const", "var"])
        gconst = r.choice(GQ_GRAPHS)
        # dataset clauses: FROM graphs merge into the default graph,
        # FROM NAMED restricts GRAPH — mirrored in SQL as per-pattern
        # graph conditions / a DISTINCT merge subselect
        dataset = None
        if r.random() < 0.5:
            kind = r.choice(["from1", "from2", "named"])
            if kind == "from1":
                dataset = ("from", [r.choice(GQ_GRAPHS)])
            elif kind == "from2":
                dataset = ("from", r.sample(GQ_GRAPHS, 2))
            else:
                dataset = ("named", r.sample(GQ_GRAPHS, r.randint(1, 2)))
        cross = "rg" in vars_ and r.random() < 0.6
        if cross:
            vars_.append("rn")   # default-graph join outside the ctx
        proj = r.sample(vars_, min(len(vars_), r.randint(1, 3)))
        if ctx == "var":
            proj = list(dict.fromkeys(proj + ["g"]))

        # SPARQL
        def sterm(t):
            return f"?{t[1]}" if t[0] == "var" else f"<{t[1]}>"

        ilines = " ".join(f"?{s} <{p}> {sterm(o)} ." for s, p, o in inner)
        if ctx == "default":
            body = ilines
        elif ctx == "const":
            body = f"GRAPH <{gconst}> {{ {ilines} }}"
        else:
            body = f"GRAPH ?g {{ {ilines} }}"
        if cross:
            body += f" ?rg <{EX}name> ?rn ."
        sel = " ".join(f"?{v}" for v in proj)
        ds = ""
        if dataset is not None:
            kw = "FROM " if dataset[0] == "from" else "FROM NAMED "
            ds = "".join(f"{kw}<{g}> " for g in dataset[1])
        sparql = (f"SELECT {sel} {ds}WHERE {{ {body} }} ORDER BY "
                  + " ".join(f"?{v}" for v in proj))

        # SQL
        var_col: dict = {}
        joins, wheres = [], []
        merged = None
        if dataset is not None and dataset[0] == "from":
            ins = ", ".join(f"'<{g}>'" for g in dataset[1])
            merged = ("(SELECT DISTINCT subj, pred, obj, "
                      "CAST(NULL AS VARCHAR) AS graph FROM quads "
                      f"WHERE graph IN ({ins}))")

        def src_for(context):
            if dataset is not None and dataset[0] == "from" \
                    and context == "default":
                return merged
            return "quads"

        def gcond_for(t, context):
            if dataset is None:
                if context == "default":
                    return f"{t}.graph IS NULL"
                if context == "const":
                    return f"{t}.graph = '<{gconst}>'"
                return f"{t}.graph IS NOT NULL"
            if dataset[0] == "from":
                # named graphs empty; merged default carries NULL graph
                return f"{t}.graph IS NULL" if context == "default" \
                    else "1 = 0"
            named = dataset[1]
            if context == "default":
                return "1 = 0"
            if context == "const":
                return f"{t}.graph = '<{gconst}>'" \
                    if gconst in named else "1 = 0"
            ins = ", ".join(f"'<{g}>'" for g in named)
            return f"{t}.graph IN ({ins})"

        for i, (sv, p, o) in enumerate(inner):
            t = f"t{i}"
            conds = [f"{t}.pred = '<{p}>'", gcond_for(t, ctx)]
            if sv in var_col:
                conds.append(f"{t}.subj = {var_col[sv]}")
            else:
                var_col[sv] = f"{t}.subj"
            if ctx == "var":
                # one GRAPH group: every pattern binds the SAME graph
                if "g" in var_col:
                    conds.append(f"{t}.graph = {var_col['g']}")
                else:
                    var_col["g"] = f"{t}.graph"
            k, v = o
            if k == "var":
                if v in var_col:
                    conds.append(f"{t}.obj = {var_col[v]}")
                else:
                    var_col[v] = f"{t}.obj"
            else:
                conds.append(f"{t}.obj = '<{v}>'")
            if i == 0:
                joins.append(f"{src_for(ctx)} t0")
                wheres.extend(conds)
            else:
                joins.append(f"JOIN {src_for(ctx)} {t} ON "
                             + " AND ".join(conds))
        if cross:
            t = "tx"
            joins.append(
                f"JOIN {src_for('default')} {t} ON "
                f"{t}.pred = '<{EX}name>' AND "
                f"{gcond_for(t, 'default')} AND "
                f"{t}.subj = {var_col['rg']}")
            var_col["rn"] = f"{t}.obj"

        sel_cols = ", ".join(f"{var_col[v]} AS {v}" for v in proj)
        lexv = {v: (f"(CASE WHEN {var_col[v]} LIKE '<%' THEN "
                    f"regexp_replace({var_col[v]}, '^<|>$', '', 'g') "
                    f"ELSE regexp_extract({var_col[v]}, "
                    f"'^\"([^\"]*)', 1) END)") for v in proj}
        rank = {v: (f"(CASE WHEN {var_col[v]} LIKE '<%' THEN 2 "
                    f"ELSE 3 END)") for v in proj}
        keys = ", ".join(f"{rank[v]}, {lexv[v]}" for v in proj)
        sql = (f"SELECT {sel_cols}\nFROM " + "\n".join(joins)
               + ("\nWHERE " + " AND ".join(wheres) if wheres else "")
               + f"\nORDER BY {keys}")
        return sparql, sql


@pytest.fixture(scope="module")
def graph_env(spark):
    from morph_xr2rml_spark.examples import GRAPH_KG_MAPPING
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    pool = tier_pool(spark, mapping, "native", tables, fused=False)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return mapping, tables, SparqlEngine(pool), con


GRAPH_SEEDS = list(range(9501, 9541))


@pytest.mark.parametrize("seed", GRAPH_SEEDS)
def test_graph_fuzz_vs_duckdb_oracle(spark, graph_env, seed):
    mapping, tables, engine, con = graph_env
    sparql, sql = GraphGen(seed).build()
    q = "PREFIX ex: <http://example.com/>\n" + sparql
    want = _norm(con.execute(graph_quads_cte() + "\n" + sql).fetchall())
    got_eval = _norm(engine.sql(q).collect())
    assert got_eval == want, \
        f"evaluator divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"
    got_push = _norm(answer_auto(spark, mapping, q, tables=tables).collect())
    assert got_push == want, \
        f"pushdown divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"


# ---------------------------------------------------------------------------
# Top-level UNION shapes: bag union with NULL-padding to the column
# union — SQL UNION ALL over aligned branch subqueries.
# ---------------------------------------------------------------------------

class UnionGen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def _branch(self, tag: str):
        """One branch: a small chain built by the base generator."""
        g = Gen(0)
        g.r = self.r                  # share the seeded stream
        root = self.r.choice(["customer", "order", "nation"])
        g.entity_patterns(root, g.v(root[0] + tag))
        g.gen_filters()
        return g

    def build(self):
        r = self.r
        a, b = self._branch("a"), self._branch("b")

        def sterm(t):
            k, v = t
            if k == "var":
                return f"?{v}"
            if k == "iri":
                return f"<{v}>"
            return v

        def spql(g):
            lines = [f"{sterm(s)} <{p}> {sterm(o)} ."
                     for s, p, o in g.pats]
            for f in g.filters:
                if f[0] == "numcmp":
                    lines.append(f"FILTER(?{f[1]} {f[2]} {f[3]})")
                elif f[0] == "strstarts":
                    lines.append(f'FILTER(STRSTARTS(?{f[1]}, "{f[2]}"))')
                else:
                    ins = ", ".join(f'"{x}"' for x in f[2])
                    lines.append(f"FILTER(?{f[1]} IN ({ins}))")
            return " ".join(lines)

        all_vars = sorted(set(a.var_kind) | set(b.var_kind))
        proj = r.sample(all_vars, min(len(all_vars), r.randint(1, 3)))
        distinct = r.random() < 0.4
        sel = ("DISTINCT " if distinct else "") \
            + " ".join(f"?{v}" for v in proj)
        sparql = (f"SELECT {sel} WHERE {{ {{ {spql(a)} }} UNION "
                  f"{{ {spql(b)} }} }} ORDER BY "
                  + " ".join(f"?{v}" for v in proj))

        def branch_sql(g):
            var_col: dict = {}
            joins, wheres = [], []
            for i, (s, p, o) in enumerate(g.pats):
                t = f"t{i}"
                conds = [f"{t}.pred = '<{p}>'"]
                for term, col in ((s, f"{t}.subj"), (o, f"{t}.obj")):
                    k, v = term
                    if k == "var":
                        if v in var_col:
                            conds.append(f"{col} = {var_col[v]}")
                        else:
                            var_col[v] = col
                    elif k == "iri":
                        conds.append(f"{col} = '<{v}>'")
                    else:
                        conds.append(f"{col} = '{v}'")
                if i == 0:
                    joins.append("triples t0")
                    wheres.extend(conds)
                else:
                    joins.append(f"JOIN triples {t} ON "
                                 + " AND ".join(conds))

            def lex(col):
                return f"regexp_extract({col}, '^\"([^\"]*)', 1)"

            for f in g.filters:
                col = var_col[f[1]]
                if f[0] == "numcmp":
                    wheres.append(
                        f"CAST({lex(col)} AS DOUBLE) {f[2]} {f[3]}")
                elif f[0] == "strstarts":
                    wheres.append(f"{lex(col)} LIKE '{f[2]}%'")
                else:
                    ins = ", ".join(f"'\"{x}\"'" for x in f[2])
                    wheres.append(f"{col} IN ({ins})")
            sel_cols = ", ".join(
                (f"{var_col[v]} AS {v}" if v in var_col
                 else f"CAST(NULL AS VARCHAR) AS {v}") for v in proj)
            return (f"SELECT {sel_cols} FROM " + " ".join(joins)
                    + (" WHERE " + " AND ".join(wheres) if wheres else ""))

        inner = branch_sql(a) + "\nUNION ALL\n" + branch_sql(b)
        num_re = (r"\^\^<http://www\.w3\.org/2001/XMLSchema#(integer|"
                  r"decimal|double|float|long|int|short|byte)>$")
        keys = []
        for v in proj:
            c = v
            keys.append(f"(CASE WHEN {c} IS NULL THEN 0 "
                        f"WHEN {c} LIKE '<%' THEN 2 ELSE 3 END)")
            keys.append(f"(CASE WHEN regexp_matches({c}, '{num_re}') "
                        f"THEN CAST(regexp_extract({c}, "
                        f"'^\"([^\"]*)', 1) AS DOUBLE) END) NULLS FIRST")
            keys.append(f"(CASE WHEN {c} LIKE '<%' THEN "
                        f"regexp_replace({c}, '^<|>$', '', 'g') "
                        f"WHEN {c} LIKE '\"%' THEN "
                        f"regexp_extract({c}, '^\"([^\"]*)', 1) "
                        f"ELSE {c} END)")
        sql = ("SELECT " + ("DISTINCT " if distinct else "") + "* FROM (\n"
               + inner + "\n) u\nORDER BY " + ", ".join(keys))
        return sparql, sql


UNION_SEEDS = list(range(9801, 9819))


@pytest.mark.parametrize("seed", UNION_SEEDS)
def test_union_fuzz_vs_duckdb_oracle(spark, env, seed):
    mapping, tables, engine, con = env
    sparql, sql = UnionGen(seed).build()
    q = "PREFIX ex: <http://example.com/>\n" + sparql
    want = _norm(con.execute(kg_tpch_triples_cte() + "\n" + sql)
                 .fetchall())
    got_eval = _norm(engine.sql(q).collect())
    assert got_eval == want, \
        f"evaluator divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"
    got_push = _norm(answer_auto(spark, mapping, q, tables=tables).collect())
    assert got_push == want, \
        f"pushdown divergence (seed {seed})\nSPARQL:\n{q}\nSQL:\n{sql}"


# ---------------------------------------------------------------------------
# Subquery / top-k analytics shapes vs DuckDB (the flagship pattern the
# aggregate fast path compiles; here the whole pipeline — sub-aggregate,
# outer join, HAVING-like filter, top-k — is checked independently).
# ---------------------------------------------------------------------------

def _subquery_cases():
    name_p, placed_p, price_p = (f"<{EX}name>", f"<{EX}placedBy>",
                                 f"<{EX}totalPrice>")
    lexd = "CAST(regexp_extract({c}, '^\"([^\"]*)', 1) AS DOUBLE)"
    cases = []
    for thr in (5, 15, 25):
        cases.append((
            f"SELECT ?name ?k WHERE {{ ?c ex:name ?name . "
            f"{{ SELECT ?c (COUNT(*) AS ?k) WHERE "
            f"{{ ?o ex:placedBy ?c }} GROUP BY ?c }} "
            f"FILTER(?k >= {thr}) }} ORDER BY ?name ?k",
            f"""SELECT regexp_extract(t0.obj, '^"([^"]*)"', 0) AS name, s.k
FROM triples t0
JOIN (SELECT t1.obj AS c, COUNT(*) AS k FROM triples t1
      WHERE t1.pred = '{placed_p}' GROUP BY t1.obj) s
  ON t0.subj = s.c
WHERE t0.pred = '{name_p}' AND s.k >= {thr}
ORDER BY regexp_extract(t0.obj, '^"([^"]*)', 1), s.k"""))
    for k in (5, 10):
        cases.append((
            f"SELECT ?name ?t WHERE {{ ?c ex:name ?name . "
            f"{{ SELECT ?c (SUM(?p) AS ?t) WHERE {{ ?o ex:placedBy ?c . "
            f"?o ex:totalPrice ?p }} GROUP BY ?c }} }} "
            f"ORDER BY DESC(?t) ?name LIMIT {k}",
            f"""SELECT t0.obj AS name, s.t
FROM triples t0
JOIN (SELECT t1.obj AS c, SUM({lexd.format(c='t2.obj')}) AS t
      FROM triples t1
      JOIN triples t2 ON t2.subj = t1.subj
           AND t2.pred = '{price_p}'
      WHERE t1.pred = '{placed_p}' GROUP BY t1.obj) s
  ON t0.subj = s.c
WHERE t0.pred = '{name_p}'
ORDER BY s.t DESC, regexp_extract(t0.obj, '^"([^"]*)', 1) LIMIT {k}"""))
    return cases


@pytest.mark.parametrize("idx", range(len(_subquery_cases())))
def test_subquery_topk_vs_duckdb_oracle(spark, env, idx):
    mapping, tables, engine, con = env
    sparql, sql = _subquery_cases()[idx]
    q = "PREFIX ex: <http://example.com/>\n" + sparql
    want = _norm(con.execute(kg_tpch_triples_cte() + "\n" + sql)
                 .fetchall())
    got_eval = _norm(engine.sql(q).collect())
    assert got_eval == want, f"evaluator divergence on:\n{q}"
    got_push = _norm(answer_auto(spark, mapping, q, tables=tables).collect())
    assert got_push == want, f"pushdown divergence on:\n{q}"
