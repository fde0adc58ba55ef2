"""Demo mappings over the TPC-H-ish test tables, used by the driver
entry point (__spark_entry__.py), the benchmark, and tests.

Two pipelines:
  - ``kg_tpch``: R2RML-style mapping over typed tables → materialize_auto,
    which routes every TM to the NATIVE compiler (pure Catalyst: codegen,
    pushdown, equi-joins);
  - ``kg_lineitem_json``: JSON documents with rml:iterator + xrr:pushDown
    → materialize_auto, which routes the TM to the JSON-NATIVE compiler
    (from_json + explode, Catalyst end to end).

Each has an exact DuckDB oracle (same strings, same rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import session_state
from .model import MappingDocument
from .sources import SourceCatalog

EX = "http://example.org/"

TPCH_KG_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#Region>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "region"; xrr:uniqueRef "r_regionkey" ];
    rr:subjectMap [ rr:template "http://example.org/region/{r_regionkey}"; rr:class ex:Region ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "r_name" ] ].

<#Nation>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}"; rr:class ex:Nation ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:inRegion;
        rr:objectMap [ rr:parentTriplesMap <#Region>;
                       rr:joinCondition [ rr:child "n_regionkey"; rr:parent "r_regionkey" ] ];
    ].

<#Customer>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
    rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}"; rr:class ex:Customer ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "c_name" ] ];
    rr:predicateObjectMap [ rr:predicate ex:segment; rr:objectMap [ rr:column "c_mktsegment" ] ];
    rr:predicateObjectMap [ rr:predicate ex:acctbal; rr:objectMap [ rr:column "c_acctbal" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:inNation;
        rr:objectMap [ rr:parentTriplesMap <#Nation>;
                       rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ];
    ].

<#Orders>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "orders"; xrr:uniqueRef "o_orderkey" ];
    rr:subjectMap [ rr:template "http://example.org/order/{o_orderkey}"; rr:class ex:Order ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ rr:column "o_orderstatus" ] ];
    rr:predicateObjectMap [ rr:predicate ex:orderDate; rr:objectMap [ rr:column "o_orderdate" ] ];
    rr:predicateObjectMap [ rr:predicate ex:totalPrice; rr:objectMap [ rr:column "o_totalprice" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:placedBy;
        rr:objectMap [ rr:parentTriplesMap <#Customer>;
                       rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ] ];
    ].
"""


def tpch_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the TPC-H-ish tables; doubles are cast to DECIMAL(12,2) so the
    literal lexical forms are engine/oracle stable.

    The lazy DataFrame HANDLES are memoized in the session's state
    (``engine.session_state``; a session catalog, as any real deployment
    registers tables once): repeated calls skip re-reading five parquet
    footers (~0.5 s of driver time per call).  Nothing computed is
    cached — every execution of the returned plans reads the parquet
    files; the memo dies with the session."""
    cache = session_state(spark).setdefault("tpch_tables", {})
    if sf_dir not in cache:
        tables = {}
        for name in ("region", "nation", "customer", "orders", "lineitem"):
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            for cname, dtype in df.dtypes:
                if dtype == "double":
                    df = df.withColumn(cname,
                                       F.col(cname).cast("decimal(12,2)"))
            tables[name] = df
        cache[sf_dir] = tables
    # shallow copy: callers may replace entries in the returned dict
    return dict(cache[sf_dir])


def kg_tpch_triples(spark: SparkSession, sf_dir: str,
                    tables: dict[str, DataFrame] | None = None,
                    dedup: bool = True) -> DataFrame:
    from .api import materialize_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return materialize_auto(spark, mapping,
                            tables=tables or tpch_tables(spark, sf_dir),
                            dedup=dedup)


_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
_XSD = "http://www.w3.org/2001/XMLSchema#"


def _iri(expr: str) -> str:
    return f"'<' || {expr} || '>'"


def _plain_lit(expr: str) -> str:
    # '"' || expr || '"'
    return "'\"' || " + expr + " || '\"'"


def _typed_lit(expr: str, dt: str) -> str:
    return "'\"' || " + expr + f" || '\"^^<{_XSD}{dt}>'"


def kg_tpch_oracle_sql() -> str:
    """The exact triple set as DuckDB SQL (UNION ALL of per-term-map
    selects — what the reference's RDB unfolder would emit, SQL-ified)."""
    ex = "http://example.com/"
    region = _iri(f"'{EX}region/' || r_regionkey")
    nation = _iri(f"'{EX}nation/' || n_nationkey")
    customer = _iri(f"'{EX}customer/' || c_custkey")
    order = _iri(f"'{EX}order/' || o_orderkey")
    odate = _typed_lit("strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')", "dateTime")
    parts = [
        f"SELECT {region} AS subj, '{_RDF_TYPE}' AS pred, '<{ex}Region>' AS obj FROM region",
        f"SELECT {region}, '<{ex}name>', {_plain_lit('r_name')} FROM region",
        f"SELECT {nation}, '{_RDF_TYPE}', '<{ex}Nation>' FROM nation",
        f"SELECT {nation}, '<{ex}name>', {_plain_lit('n_name')} FROM nation",
        f"SELECT {nation}, '<{ex}inRegion>', {region} FROM nation JOIN region ON n_regionkey = r_regionkey",
        f"SELECT {customer}, '{_RDF_TYPE}', '<{ex}Customer>' FROM customer",
        f"SELECT {customer}, '<{ex}name>', {_plain_lit('c_name')} FROM customer",
        f"SELECT {customer}, '<{ex}segment>', {_plain_lit('c_mktsegment')} FROM customer",
        f"SELECT {customer}, '<{ex}acctbal>', {_typed_lit('CAST(c_acctbal AS DECIMAL(12,2))', 'decimal')} FROM customer",
        f"SELECT {customer}, '<{ex}inNation>', {nation} FROM customer JOIN nation ON c_nationkey = n_nationkey",
        f"SELECT {order}, '{_RDF_TYPE}', '<{ex}Order>' FROM orders",
        f"SELECT {order}, '<{ex}status>', {_plain_lit('o_orderstatus')} FROM orders",
        f"SELECT {order}, '<{ex}orderDate>', {odate} FROM orders",
        f"SELECT {order}, '<{ex}totalPrice>', {_typed_lit('CAST(o_totalprice AS DECIMAL(12,2))', 'decimal')} FROM orders",
        f"SELECT {order}, '<{ex}placedBy>', {customer} FROM orders JOIN customer ON o_custkey = c_custkey",
    ]
    body = "\nUNION ALL\n".join(parts)
    return (f"SELECT DISTINCT subj, pred, obj, CAST(NULL AS VARCHAR) AS graph "
            f"FROM (\n{body}\n) t(subj, pred, obj)")


def kg_tpch_triples_cte() -> str:
    """The oracle triple set as a CTE body (for SPARQL-query oracles)."""
    inner = kg_tpch_oracle_sql()
    return f"WITH triples AS (\n{inner}\n)"


# ---------------------------------------------------------------------------
# SPARQL over the materialized triple table
# ---------------------------------------------------------------------------

SPARQL_PREFIX = "PREFIX ex: <http://example.com/>\n"

SPARQL_QUERIES = {
    # BGP with a 3-hop join chain
    "sparql_customer_nation": (
        SPARQL_PREFIX + """
        SELECT ?cust ?nname WHERE {
            ?cust a ex:Customer .
            ?cust ex:inNation ?n .
            ?n ex:name ?nname .
        }""",
        """
        SELECT t1.subj AS cust, t3.obj AS nname
        FROM triples t1
        JOIN triples t2 ON t2.subj = t1.subj
             AND t2.pred = '<http://example.com/inNation>'
        JOIN triples t3 ON t3.subj = t2.obj
             AND t3.pred = '<http://example.com/name>'
        WHERE t1.pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
          AND t1.obj = '<http://example.com/Customer>'
        ORDER BY cust, nname"""),
    # GROUP BY + COUNT aggregate
    "sparql_orders_by_segment": (
        SPARQL_PREFIX + """
        SELECT ?seg (COUNT(?o) AS ?n) WHERE {
            ?o a ex:Order .
            ?o ex:placedBy ?c .
            ?c ex:segment ?seg .
        } GROUP BY ?seg ORDER BY ?seg""",
        """
        SELECT t3.obj AS seg, count(t1.subj) AS n
        FROM triples t1
        JOIN triples t2 ON t2.subj = t1.subj
             AND t2.pred = '<http://example.com/placedBy>'
        JOIN triples t3 ON t3.subj = t2.obj
             AND t3.pred = '<http://example.com/segment>'
        WHERE t1.pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
          AND t1.obj = '<http://example.com/Order>'
        GROUP BY t3.obj ORDER BY seg"""),
    # FILTER with numeric comparison on typed literals
    "sparql_expensive_orders": (
        SPARQL_PREFIX + """
        SELECT ?o ?p WHERE {
            ?o ex:totalPrice ?p .
            FILTER(?p > 69999.5)
        } ORDER BY ?o""",
        """
        SELECT subj AS o, obj AS p
        FROM triples
        WHERE pred = '<http://example.com/totalPrice>'
          AND CAST(regexp_extract(obj, '^"((?:[^"\\\\]|\\\\.)*)"', 1) AS DOUBLE) > 69999.5
        ORDER BY o"""),
    # IN filter (reference: OneOf mapping, MorphRDBQueryTranslator.scala:134)
    "sparql_in_filter": (
        SPARQL_PREFIX + """
        SELECT ?c ?seg WHERE {
            ?c ex:segment ?seg .
            FILTER(?seg IN ("BUILDING", "MACHINERY"))
        } ORDER BY ?c""",
        """
        SELECT subj AS c, obj AS seg
        FROM triples
        WHERE pred = '<http://example.com/segment>'
          AND obj IN ('"BUILDING"', '"MACHINERY"')
        ORDER BY c"""),
    # FILTER NOT EXISTS → anti-join (round-3 parser tail)
    "sparql_not_exists": (
        SPARQL_PREFIX + """
        SELECT ?c WHERE {
            ?c a ex:Customer .
            FILTER NOT EXISTS { ?o ex:placedBy ?c }
        } ORDER BY ?c""",
        """
        SELECT t1.subj AS c
        FROM triples t1
        WHERE t1.pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
          AND t1.obj = '<http://example.com/Customer>'
          AND NOT EXISTS (
              SELECT 1 FROM triples t2
              WHERE t2.pred = '<http://example.com/placedBy>'
                AND t2.obj = t1.subj)
        ORDER BY c"""),
    # MINUS → anti-join on the shared variable (SPARQL 1.1 §8.3.3)
    "sparql_minus": (
        SPARQL_PREFIX + """
        SELECT ?c WHERE {
            ?c ex:segment ?seg
            MINUS { ?c ex:segment "BUILDING" }
        } ORDER BY ?c""",
        """
        SELECT t1.subj AS c
        FROM triples t1
        WHERE t1.pred = '<http://example.com/segment>'
          AND NOT EXISTS (
              SELECT 1 FROM triples t2
              WHERE t2.pred = '<http://example.com/segment>'
                AND t2.subj = t1.subj AND t2.obj = '"BUILDING"')
        ORDER BY c"""),
    # STRSTARTS over the lexical value (round-3 string functions)
    "sparql_strstarts": (
        SPARQL_PREFIX + """
        SELECT ?c ?n WHERE {
            ?c ex:name ?n .
            ?c a ex:Customer .
            FILTER STRSTARTS(STR(?n), "Customer#00000001")
        } ORDER BY ?c""",
        """
        SELECT t1.subj AS c, t1.obj AS n
        FROM triples t1
        JOIN triples t2 ON t2.subj = t1.subj
             AND t2.pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
             AND t2.obj = '<http://example.com/Customer>'
        WHERE t1.pred = '<http://example.com/name>'
          AND regexp_extract(t1.obj, '^"((?:[^"\\\\]|\\\\.)*)"', 1)
              LIKE 'Customer#00000001%'
        ORDER BY c"""),
    # SPARQL 1.1 builtin tail (round-4): YEAR() datetime accessor +
    # ROUND() numeric builtin feeding GROUP BY / SUM.  ROUND is applied
    # per row (not over AVG) so both sides aggregate exact integers —
    # float-summation order can't flip a rounding boundary.
    "sparql_year_round": (
        SPARQL_PREFIX + """
        SELECT ?yr (COUNT(?o) AS ?n) (SUM(?pr) AS ?sum_rounded) WHERE {
            ?o ex:orderDate ?d .
            ?o ex:totalPrice ?p .
            BIND(YEAR(?d) AS ?yr)
            BIND(ROUND(?p) AS ?pr)
        } GROUP BY ?yr ORDER BY ?yr""",
        """
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(CAST(o_totalprice AS DECIMAL(12,2)) + 0.5)
                             AS BIGINT)) AS DOUBLE) AS sum_rounded
        FROM orders GROUP BY yr ORDER BY yr"""),
    # hash builtins + ENCODE_FOR_URI over customer names (oracle encodes
    # independently: the only non-unreserved char in c_name is '#')
    "sparql_builtin_hash": (
        SPARQL_PREFIX + """
        SELECT ?c (MD5(STR(?n)) AS ?h_md5) (SHA256(STR(?n)) AS ?h_sha)
               (ENCODE_FOR_URI(STR(?n)) AS ?enc) WHERE {
            ?c a ex:Customer .
            ?c ex:name ?n .
        } ORDER BY ?c""",
        """
        SELECT t1.subj AS c,
               md5(regexp_extract(t1.obj, '^"((?:[^"\\\\]|\\\\.)*)"', 1)) AS h_md5,
               sha256(regexp_extract(t1.obj, '^"((?:[^"\\\\]|\\\\.)*)"', 1)) AS h_sha,
               replace(regexp_extract(t1.obj, '^"((?:[^"\\\\]|\\\\.)*)"', 1),
                       '#', '%23') AS enc
        FROM triples t1
        JOIN triples t2 ON t2.subj = t1.subj
             AND t2.pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
             AND t2.obj = '<http://example.com/Customer>'
        WHERE t1.pred = '<http://example.com/name>'
        ORDER BY c"""),
    # var-var numeric comparison (r6): FILTER(?p < ?b) compares two
    # pattern-bound decimal literals by VALUE across a join
    "sparql_varvar_cmp": (
        SPARQL_PREFIX + """
        SELECT ?o ?c WHERE {
            ?o ex:placedBy ?c .
            ?o ex:totalPrice ?p .
            ?c ex:acctbal ?b .
            FILTER(?p < ?b)
        } ORDER BY ?o""",
        """
        SELECT t1.subj AS o, t1.obj AS c
        FROM triples t1
        JOIN triples t2 ON t2.subj = t1.subj
             AND t2.pred = '<http://example.com/totalPrice>'
        JOIN triples t3 ON t3.subj = t1.obj
             AND t3.pred = '<http://example.com/acctbal>'
        WHERE t1.pred = '<http://example.com/placedBy>'
          AND CAST(regexp_extract(t2.obj, '^"([^"]*)"', 1) AS DOUBLE)
            < CAST(regexp_extract(t3.obj, '^"([^"]*)"', 1) AS DOUBLE)
        ORDER BY o"""),
    # UNION + DISTINCT
    "sparql_all_names": (
        SPARQL_PREFIX + """
        SELECT DISTINCT ?x WHERE {
            { ?s ex:name ?x } UNION { ?s ex:segment ?x }
        } ORDER BY ?x""",
        """
        SELECT DISTINCT obj AS x FROM triples
        WHERE pred IN ('<http://example.com/name>', '<http://example.com/segment>')
        ORDER BY x"""),
}


def make_sparql_query(name: str):
    sparql_text, _oracle = SPARQL_QUERIES[name]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # full production path (r5): answer_auto = constraint
        # derivation (constant/literal inversion, cross-pattern
        # propagation, TM elimination) over the unfused RAW plan, then
        # the SPARQL evaluator with per-pattern dedup-after-filter —
        # constant preds per union branch still let Catalyst prune
        # non-matching triples-map branches from the plan
        from .api import answer_auto
        mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
        return answer_auto(spark, mapping, sparql_text,
                           tables=tpch_tables(spark, sf_dir))

    return run


def sparql_oracle_sql(name: str) -> str:
    _sparql_text, oracle = SPARQL_QUERIES[name]
    return kg_tpch_triples_cte() + "\n" + oracle


# ---------------------------------------------------------------------------
# Deep transitive closure: a 25-node chain (nation keys 0..24 linked by
# ex:next) is deeper than any fixed hop bound — the query only answers
# correctly when the closure truly runs to fixpoint (24 hops).
# ---------------------------------------------------------------------------

def _nation_chain_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.read.parquet(f"{sf_dir}/nation.parquet") \
             .select(F.col("n_nationkey").alias("k"))
    return (n.alias("x")
             .join(n.alias("y"), F.col("x.k") + 1 == F.col("y.k"))
             .select(F.concat(F.lit("<urn:n"), F.col("x.k").cast("string"),
                              F.lit(">")).alias("subj"),
                     F.lit("<http://example.com/next>").alias("pred"),
                     F.concat(F.lit("<urn:n"), F.col("y.k").cast("string"),
                              F.lit(">")).alias("obj"),
                     F.lit(None).cast("string").alias("graph")))


def sparql_path_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import SparqlEngine
    eng = SparqlEngine(_nation_chain_triples(spark, sf_dir))
    return eng.sql(SPARQL_PREFIX +
                   "SELECT ?a ?b WHERE { ?a ex:next+ ?b . } ORDER BY ?a ?b")


SPARQL_PATH_DEEP_SQL = """
WITH RECURSIVE base AS (
  SELECT '<urn:n' || x.n_nationkey || '>' AS a,
         '<urn:n' || y.n_nationkey || '>' AS b
  FROM nation x JOIN nation y ON x.n_nationkey + 1 = y.n_nationkey),
closure(a, b) AS (
  SELECT a, b FROM base
  UNION
  SELECT c.a, nb.b FROM closure c JOIN base nb ON c.b = nb.a)
SELECT a, b FROM closure ORDER BY a, b
"""

# ---------------------------------------------------------------------------
# Lang-tagged literals: nation labeled in @en (column) and @fr (template) —
# exercises rr:language through the native compiler + LANG()/langMatches.
# ---------------------------------------------------------------------------

LANG_KG_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#NationLang>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
        rr:objectMap [ rr:column "n_name"; rr:language "en" ] ];
    rr:predicateObjectMap [ rr:predicate ex:label;
        rr:objectMap [ rr:template "nation {n_name}"; rr:language "fr" ] ].
"""


def sparql_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .api import answer_auto
    mapping = MappingDocument.from_text(LANG_KG_MAPPING)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s ?l WHERE {
            ?s ex:label ?l .
            FILTER(langMatches(LANG(?l), "en"))
        } ORDER BY ?s ?l""", tables={"nation": nation})


SPARQL_LANG_FILTER_SQL = """
SELECT '<http://example.org/nation/' || n_nationkey || '>' AS s,
       '"' || n_name || '"@en' AS l
FROM nation
ORDER BY s, l
"""


def sparql_typed_lit_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-literal triple pattern: exact term match on "15"^^xsd:integer
    over a small integer-labeled graph derived from nation keys."""
    from .sparql import SparqlEngine
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    triples = n.select(
        F.concat(F.lit("<urn:n"), F.col("n_nationkey").cast("string"),
                 F.lit(">")).alias("subj"),
        F.lit("<http://example.com/key>").alias("pred"),
        F.concat(F.lit('"'), F.col("n_nationkey").cast("string"),
                 F.lit(f'"^^<{_XSD}integer>')).alias("obj"),
        F.lit(None).cast("string").alias("graph"))
    return SparqlEngine(triples).sql(
        SPARQL_PREFIX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
        'SELECT ?s WHERE { ?s ex:key "15"^^xsd:integer } ORDER BY ?s')


SPARQL_TYPED_LIT_SQL = """
SELECT '<urn:n' || n_nationkey || '>' AS s
FROM nation WHERE n_nationkey = 15
ORDER BY s
"""


def sparql_construct_located(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT: derive ex:locatedIn triples (customer → region) from the
    inNation/inRegion chain over the TPC-H KG."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        CONSTRUCT { ?c ex:locatedIn ?r }
        WHERE { ?c ex:inNation ?n . ?n ex:inRegion ?r }
    """, tables=tpch_tables(spark, sf_dir)).orderBy("subj", "pred", "obj")


def sparql_construct_oracle_sql() -> str:
    return kg_tpch_triples_cte() + """
SELECT DISTINCT t1.subj AS subj,
       '<http://example.com/locatedIn>' AS pred,
       t2.obj AS obj
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj
     AND t2.pred = '<http://example.com/inRegion>'
WHERE t1.pred = '<http://example.com/inNation>'
ORDER BY subj, pred, obj
"""


def sparql_describe_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE over the TPC-H KG: all triples in/out of nation/0 —
    r5: answered through the pushdown path (the resource inverts in
    BOTH positions: nation scan filtered to n_nationkey=0, customer
    scan to c_nationkey=0 via the inNation ROM transfer, orders/region
    eliminated)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping,
                       "DESCRIBE <http://example.org/nation/0>",
                       tables=tpch_tables(spark, sf_dir)) \
        .orderBy("subj", "pred", "obj")


def sparql_describe_oracle_sql() -> str:
    return kg_tpch_triples_cte() + """
SELECT DISTINCT subj, pred, obj FROM triples
WHERE subj = '<http://example.org/nation/0>'
   OR obj = '<http://example.org/nation/0>'
ORDER BY subj, pred, obj
"""


# ---------------------------------------------------------------------------
# Source-pushdown SPARQL answering (round-4; the cheap analogue of the
# reference's query-rewriting mode — genCond,
# MorphBaseQueryTranslator.scala:227-305): the constant subject is
# inverted through the subject templates into source filters, so the
# point query scans one filtered table / collection instead of
# materializing the whole KG.  tests/test_pushdown_query.py audits the
# physical plan (PushedFilters on orders, no nation/region scan).
# ---------------------------------------------------------------------------

def sparql_pushdown_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, "SELECT ?p ?o WHERE "
                       "{ <http://example.org/order/1> ?p ?o } "
                       "ORDER BY ?p ?o", tables=tpch_tables(spark, sf_dir))


def sparql_pushdown_point_oracle_sql() -> str:
    return kg_tpch_triples_cte() + """
SELECT pred AS p, obj AS o FROM triples
WHERE subj = '<http://example.org/order/1>'
ORDER BY p, o"""


def sparql_pushdown_obj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-position constant pushdown: the parent-template inversion
    transfers through the referencing object map to the CHILD's join
    column (genCond on the object reference) — scans orders with
    o_custkey = 5, never touching nation/region."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?o WHERE {
            ?o ex:placedBy <http://example.org/customer/5>
        } ORDER BY ?o""", tables=tpch_tables(spark, sf_dir))


def sparql_pushdown_obj_oracle_sql() -> str:
    return kg_tpch_triples_cte() + """
SELECT subj AS o FROM triples
WHERE pred = '<http://example.com/placedBy>'
  AND obj = '<http://example.org/customer/5>'
ORDER BY o"""


def sparql_pushdown_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .api import answer_auto
    from .sources import SourceCatalog
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    catalog = SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, sf_dir))
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?q ?part WHERE {
            <http://example.org/line/7-1> ex:qty ?q ; ex:part ?part .
        }""", catalog=catalog)


SPARQL_PUSHDOWN_DOC_SQL = f"""
SELECT '"' || CAST(l_quantity AS BIGINT) || '"^^<{_XSD}integer>' AS q,
       '<http://example.org/part/' || l_partkey || '>' AS part
FROM lineitem WHERE l_orderkey = 7 AND l_linenumber = 1
"""


def sparql_pushdown_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-comparison pushdown (round 5; the reference pushes SPARQL
    FILTER comparisons into the source WHERE clause,
    MorphRDBQueryTranslator.scala:988+): FILTER(?p > k) over a
    column-bound object inverts to a typed source predicate evaluated at
    the scan, and every TM not emitting ex:totalPrice is eliminated —
    tests/test_pushdown_literal.py audits the physical plan."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?o ?p WHERE {
            ?o ex:totalPrice ?p .
            FILTER(?p > 200000.0)
        } ORDER BY ?o""", tables=tpch_tables(spark, sf_dir))


SPARQL_PUSHDOWN_LIT_SQL = f"""
SELECT '<{EX}order/' || o_orderkey || '>' AS o,
       '"' || CAST(o_totalprice AS DECIMAL(12,2)) || '"^^<{_XSD}decimal>' AS p
FROM orders
WHERE CAST(o_totalprice AS DECIMAL(12,2)) > 200000.0
ORDER BY o
"""


def sparql_pushdown_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-position literal-constant pushdown: the plain literal
    "BUILDING" inverts to a rendered-lexical equality on the customer
    scan (mirror of the trim+encode_literal+escape pipeline — sound and
    exact), orders/nation/region are never read."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?c ?n WHERE {
            ?c ex:segment "BUILDING" .
            ?c ex:name ?n .
        } ORDER BY ?c""", tables=tpch_tables(spark, sf_dir))


SPARQL_PUSHDOWN_SEG_SQL = f"""
SELECT '<{EX}customer/' || c_custkey || '>' AS c,
       '"' || c_name || '"' AS n
FROM customer WHERE c_mktsegment = 'BUILDING'
ORDER BY c
"""


def sparql_pushdown_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex mandatory-literal pushdown + type-facet candidacy (round 6).
    An unanchored-find regex whose pattern starts with ``^lit`` implies
    STRSTARTS(lexical, lit) — a sound lexpat constraint fed to the scan
    (parquet StartsWith PushedFilter) while the evaluator still applies
    the full pattern; ``isLiteral(?n)`` is a per-term-map constant facet
    deciding TM candidacy (the reference applies the same compatibility
    conditions when binding triple patterns to candidate term maps,
    MorphBaseTriplePatternBinder).  Nation/region/orders are never read
    (class pattern + disjoint subject spaces)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?c ?n WHERE {
            ?c ex:name ?n . ?c a ex:Customer .
            FILTER(regex(STR(?n), "^Customer#000000[0-9]*1$")
                   && isLiteral(?n))
        } ORDER BY ?c""", tables=tpch_tables(spark, sf_dir))


SPARQL_PUSHDOWN_REGEX_SQL = f"""
SELECT '<{EX}customer/' || c_custkey || '>' AS c,
       '"' || c_name || '"' AS n
FROM customer WHERE regexp_matches(c_name, '^Customer#000000[0-9]*1$')
ORDER BY c
"""


# Document-tier literal pushdown (round 5): flat order documents so the
# object references are document-level (pushable into find()) — the
# lineitem mapping's refs are iterator-relative and correctly stay
# unpushed.
ORDERDOC_FLAT_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#ODoc>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}"; rr:class ex:ODoc ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ xrr:reference "$.st" ] ];
    rr:predicateObjectMap [ rr:predicate ex:cust; rr:objectMap [ xrr:reference "$.ck" ] ];
    rr:predicateObjectMap [ rr:predicate ex:priority; rr:objectMap [ xrr:reference "$.pr" ] ].
"""


def orderflat_catalog(spark: SparkSession, sf_dir: str) -> SourceCatalog:
    # registered RAW (un-repartitioned): the engine spreads the rows to
    # cluster parallelism itself where the heavy JSON work happens, and
    # schema sampling stays an incremental take() over the first file
    # split instead of paying a full scan+shuffle.
    # The CATALOG (holding lazy handles + the schema-sampling cache) is
    # memoized on the session, like tpch_tables: a deployment registers
    # a collection once, and rebuilding it per query re-paid both the
    # parquet-footer read and the sampling collect on every call.
    cache = session_state(spark).setdefault("orderflat_catalog", {})
    if sf_dir not in cache:
        docs = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                .select(F.to_json(F.struct(
                    F.col("o_orderkey").alias("ok"),
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_custkey").alias("ck"),
                    F.col("o_orderpriority").alias("pr"))).alias("content")))
        cache[sf_dir] = SourceCatalog().register_collection("orderflat", docs)
    return cache[sf_dir]


def sparql_pushdown_doclit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-literal constant pushdown on the DOCUMENT tier: "P" inverts
    to the internal $renderIn find() operator (render-mirror membership)
    composed into the source filter — stays json-native compilable."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s WHERE { ?s ex:status "P" } ORDER BY ?s""",
                       catalog=orderflat_catalog(spark, sf_dir))


SPARQL_PUSHDOWN_DOCLIT_SQL = f"""
SELECT '<{EX}odoc/' || o_orderkey || '>' AS s
FROM orders WHERE o_orderstatus = 'P'
ORDER BY s
"""


def sparql_pushdown_doccmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric comparison FILTER pushdown on the DOCUMENT tier: the
    $numCmp find() operator (try_cast value predicate) prunes documents
    at the scan."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s ?c WHERE { ?s ex:cust ?c . FILTER(?c < 10) }
        ORDER BY ?s""", catalog=orderflat_catalog(spark, sf_dir))


SPARQL_PUSHDOWN_DOCCMP_SQL = f"""
SELECT '<{EX}odoc/' || o_orderkey || '>' AS s,
       '"' || o_custkey || '"^^<{_XSD}integer>' AS c
FROM orders WHERE o_custkey < 10
ORDER BY s
"""


# Mixed relational + document mapping (round 6): one TM over the typed
# customer table (native tier) and one over the flat order documents
# (document tier) — the reference's federation case, where the runner
# factory instantiates one translator per source and each source gets
# its own conditions (MorphBaseRunnerFactory; RDB conditions
# MorphRDBUnfolder.scala:65-97, Mongo conditions
# MorphMongoDataSourceReader.scala:52-70).
MIXED_KG_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#MCustomer>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
    rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}"; rr:class ex:Customer ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "c_name" ] ];
    rr:predicateObjectMap [ rr:predicate ex:acctbal; rr:objectMap [ rr:column "c_acctbal" ] ].

<#MOrder>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}"; rr:class ex:Order ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ xrr:reference "$.st" ] ];
    rr:predicateObjectMap [ rr:predicate ex:placedBy;
                            rr:objectMap [ rr:template "http://example.org/customer/{$.ck}" ] ].
"""


def sparql_pushdown_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-tier pushdown (round 6): ONE constraint derivation routed
    per source — the numeric FILTER inverts to a typed predicate on the
    customer PARQUET scan (PushedFilters: GreaterThan(c_acctbal,...))
    while the literal constant composes into the order collection's
    find() filter ($renderIn, json-native) — then one union plan joins
    across the tiers.  tests/test_pushdown_mixed.py audits both."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?o ?c ?n WHERE {
            ?o ex:placedBy ?c ; ex:status "F" .
            ?c ex:name ?n ; ex:acctbal ?a .
            FILTER(?a > 9000.0)
        } ORDER BY ?o ?c""",
        catalog=orderflat_catalog(spark, sf_dir),
        tables={"customer": tpch_tables(spark, sf_dir)["customer"]})


SPARQL_PUSHDOWN_MIXED_SQL = f"""
SELECT '<{EX}odoc/' || o_orderkey || '>' AS o,
       '<{EX}customer/' || c_custkey || '>' AS c,
       '"' || c_name || '"' AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F' AND CAST(c_acctbal AS DECIMAL(12,2)) > 9000.0
ORDER BY o, c
"""


def sparql_pushdown_docseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-tier cross-pattern AND-strengthening (round 6): the
    declared xrr:uniqueRef through a single-group template is injective
    with no schema, so the "F" constraint from the first pattern ANDs
    into the unconstrained second pattern — ONE filtered collection
    scan instead of a full scan (the tabular tier's bind_m analogue,
    now on documents)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s ?c WHERE { ?s ex:status "F" . ?s ex:cust ?c }
        ORDER BY ?s""", catalog=orderflat_catalog(spark, sf_dir))


SPARQL_PUSHDOWN_DOCSEG_SQL = f"""
SELECT '<{EX}odoc/' || o_orderkey || '>' AS s,
       '"' || o_custkey || '"^^<{_XSD}integer>' AS c
FROM orders WHERE o_orderstatus = 'F'
ORDER BY s
"""


def sparql_pushdown_docpat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-pattern pushdown on the DOCUMENT tier (round 6):
    STRSTARTS inverts to the internal $renderPat find() operator
    (rendered-lexical pattern mirror, nt-escaped like the engine's
    lexical; numeric canonical arm) — json-native plan, documents
    pruned at the scan."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s ?c WHERE {
            ?s ex:priority ?c .
            FILTER STRSTARTS(STR(?c), "1-URG")
        } ORDER BY ?s""", catalog=orderflat_catalog(spark, sf_dir))


SPARQL_PUSHDOWN_DOCPAT_SQL = f"""
SELECT '<{EX}odoc/' || o_orderkey || '>' AS s,
       '"' || o_orderpriority || '"' AS c
FROM orders WHERE o_orderpriority LIKE '1-URG%'
ORDER BY s
"""


def sparql_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k answering with the dedup elimination (round 6): the pool is
    provably duplicate-free, the evaluator skips per-pattern dedup, and
    ORDER BY + LIMIT compiles to TakeOrderedAndProject directly over the
    one filtered orders scan — zero shuffles
    (tests/test_round6_plans.py audits the plan)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?o ?p WHERE { ?o ex:totalPrice ?p }
        ORDER BY ?o LIMIT 25""", tables=tpch_tables(spark, sf_dir))


# ORDER BY sorts the BRACKET-LESS IRI string (SPARQL §15.4 compares
# IRIs by their string value, not the <>-wrapped term — the engine's
# term_order_keys does the same), which changes WHICH rows survive the
# LIMIT at prefix boundaries like order/1001 vs order/10019.
SPARQL_TOPK_SQL = f"""
SELECT '<{EX}order/' || o_orderkey || '>' AS o,
       '"' || CAST(o_totalprice AS DECIMAL(12,2)) || '"^^<{_XSD}decimal>' AS p
FROM orders
ORDER BY '{EX}order/' || o_orderkey LIMIT 25
"""


def sparql_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown (round 6, aggpush.py): bindings provably equal
    customer rows (xrr:uniqueRef subject through an injective template),
    so the GROUP BY compiles straight onto the customer scan — pruned
    3-column ReadSchema, no per-POM union, no triple dedup, map-side
    partial aggregation, MIN/MAX over a native double cast.  The oracle
    aggregates the base table independently (the reference evaluates
    aggregates in Jena over the materialized model — it cannot reach
    the source at all).  SUM/AVG are exercised differentially instead
    (tests/test_agg_pushdown.py): float addition reassociates across
    engines, so a cross-engine hash gate pins only the exact
    aggregates."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?seg (COUNT(*) AS ?n) (MIN(?b) AS ?lo) (MAX(?b) AS ?hi)
        WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b }
        GROUP BY ?seg ORDER BY ?seg""", tables=tpch_tables(spark, sf_dir))


SPARQL_AGG_SQL = """
SELECT '"' || c_mktsegment || '"' AS seg,
       COUNT(*) AS n,
       MIN(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)) AS lo,
       MAX(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)) AS hi
FROM customer
WHERE c_custkey IS NOT NULL AND c_mktsegment IS NOT NULL
  AND c_acctbal IS NOT NULL
GROUP BY c_mktsegment ORDER BY seg
"""


def sparql_agg_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-tier aggregate pushdown (round 6, aggpush.py): bindings
    provably equal documents (xrr:uniqueRef through a single-group
    template, no iterator), so the GROUP BY compiles straight onto the
    json-native collection scan — one scan, no per-POM union, no dedup
    exchange, map-side partial aggregation.  COUNT and MIN/MAX over the
    integer customer key are hash-exact across engines."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?pr (COUNT(*) AS ?n) (MIN(?c) AS ?lo) (MAX(?c) AS ?hi)
        WHERE { ?o ex:priority ?pr . ?o ex:cust ?c }
        GROUP BY ?pr ORDER BY ?pr""", catalog=orderflat_catalog(spark, sf_dir))


SPARQL_AGG_DOC_SQL = """
SELECT '"' || o_orderpriority || '"' AS pr,
       COUNT(*) AS n,
       CAST(MIN(o_custkey) AS DOUBLE) AS lo,
       CAST(MAX(o_custkey) AS DOUBLE) AS hi
FROM orders
WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
  AND o_custkey IS NOT NULL
GROUP BY o_orderpriority ORDER BY pr
"""


def sparql_agg_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL inside the aggregate fast path (late round 6,
    aggpush.py): ``OPTIONAL { ?s pred ?fresh }`` over a subject-unique
    pool collapses to a nullable term column, so the grouped count still
    compiles straight onto the source scans.  Three disjoint TMs emit
    ex:name but only Customer emits ex:segment, exercising BOTH slot
    forms — the rendered nullable column (customer) and the typed-NULL
    column for TMs that never emit the predicate (region, nation).
    The evaluator's left join is provably equivalent: each subject pairs
    with at most its own row's optional value.  Reference parity:
    OPTIONAL evaluates in Jena over the materialized model
    (MorphMongoQueryProcessor.scala:45-150)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?seg (COUNT(?seg) AS ?nseg) (COUNT(*) AS ?n)
        WHERE { ?s ex:name ?nm . OPTIONAL { ?s ex:segment ?seg } }
        GROUP BY ?seg ORDER BY ?seg""", tables=tpch_tables(spark, sf_dir))


SPARQL_AGG_OPTIONAL_SQL = """
WITH pool AS (
  SELECT CAST(NULL AS VARCHAR) AS seg FROM region
   WHERE r_regionkey IS NOT NULL AND r_name IS NOT NULL
  UNION ALL
  SELECT CAST(NULL AS VARCHAR) FROM nation
   WHERE n_nationkey IS NOT NULL AND n_name IS NOT NULL
  UNION ALL
  SELECT '"' || c_mktsegment || '"' FROM customer
   WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
)
SELECT seg, COUNT(seg) AS nseg, COUNT(*) AS n
FROM pool GROUP BY seg ORDER BY seg NULLS FIRST
"""


def sparql_agg_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION inside the aggregate fast path (late round 6, aggpush.py):
    a WHERE that is one pure union of flat BGP branches compiles each
    branch's bindings frame on its own scans (NULL-padded to the shared
    column set, as the evaluator's _join_group does) and bag-unions
    them under ONE aggregate -- two pruned scans, no materialized KG,
    no dedup exchange.  Reference parity: UNION evaluates in Jena over
    the materialized model (MorphMongoQueryProcessor.scala:45-150)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?x (COUNT(*) AS ?n)
        WHERE { { ?c ex:segment ?x } UNION { ?o ex:status ?x } }
        GROUP BY ?x ORDER BY ?x""", tables=tpch_tables(spark, sf_dir))


SPARQL_AGG_UNION_SQL = """
WITH pool AS (
  SELECT '"' || c_mktsegment || '"' AS x FROM customer
   WHERE c_custkey IS NOT NULL AND c_mktsegment IS NOT NULL
  UNION ALL
  SELECT '"' || o_orderstatus || '"' FROM orders
   WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
)
SELECT x, COUNT(*) AS n FROM pool GROUP BY x ORDER BY x
"""


def sparql_agg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery inside the aggregate fast path (late round 6,
    aggpush.py): the nested SELECT compiles recursively onto its own
    scans (orders partial-aggregated per customer before any join) and
    joins the outer name pool on the common ?c term column -- the
    evaluator's _join_group common-column join, mirrored without
    materializing the KG.  The outer FILTER over the sub's plain COUNT
    column applies post-join.  Counts are hash-exact across engines
    (SUM/AVG stay in the differential battery -- float reassociation).
    Reference parity: subqueries evaluate in Jena over the materialized
    model (MorphMongoQueryProcessor.scala:45-150)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?name ?k WHERE {
          ?c ex:name ?name .
          { SELECT ?c (COUNT(*) AS ?k)
            WHERE { ?o ex:placedBy ?c } GROUP BY ?c }
          FILTER(?k >= 15)
        } ORDER BY ?name""", tables=tpch_tables(spark, sf_dir))


SPARQL_AGG_SUBQUERY_SQL = """
SELECT '"' || c_name || '"' AS name, k
FROM customer
JOIN (SELECT o_custkey, COUNT(*) AS k FROM orders
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
      GROUP BY o_custkey) s ON c_custkey = s.o_custkey
WHERE k >= 15 AND c_custkey IS NOT NULL AND c_name IS NOT NULL
ORDER BY name
"""


def sparql_agg_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER EXISTS inside the aggregate fast path (late round 6,
    aggpush.py): the sub pattern (orders above a price threshold,
    reaching the customer through the ROM edge) compiles through the
    same frame builders and applies as the evaluator's distinct-probe
    left-semi join -- a raw-scan semi join, no KG materialization.
    Counts are hash-exact cross-engine.  Reference parity: EXISTS
    evaluates in Jena over the materialized model
    (MorphMongoQueryProcessor.scala:45-150)."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?seg (COUNT(*) AS ?n) WHERE {
          ?c ex:segment ?seg .
          FILTER EXISTS { ?o ex:placedBy ?c . ?o ex:totalPrice ?p .
                          FILTER(?p > 300000) }
        } GROUP BY ?seg ORDER BY ?seg""", tables=tpch_tables(spark, sf_dir))


SPARQL_AGG_EXISTS_SQL = """
SELECT '"' || c_mktsegment || '"' AS seg, COUNT(*) AS n
FROM customer c
WHERE c_custkey IS NOT NULL AND c_mktsegment IS NOT NULL
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderkey IS NOT NULL
                AND o.o_totalprice > 300000)
GROUP BY c_mktsegment ORDER BY seg
"""


def sparql_ask_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK through the pushdown answering path (round 6): returns a
    one-row boolean frame; the pattern constants still invert into the
    customer scan filter before the existence probe."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        ASK { ?c ex:segment "BUILDING" }""",
        tables=tpch_tables(spark, sf_dir))


SPARQL_ASK_SQL = """
SELECT EXISTS(SELECT 1 FROM customer WHERE c_mktsegment = 'BUILDING') AS ask
"""


GRAPH_KG_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#GNation>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}";
                    rr:class ex:Nation;
                    rr:graphMap [ rr:template "http://example.org/g/{n_regionkey}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "n_name" ];
                            rr:graphMap [ rr:constant ex:gnames ] ];
    rr:predicateObjectMap [
        rr:predicate ex:inRegion;
        rr:objectMap [ rr:parentTriplesMap <#GRegion>;
                       rr:joinCondition [ rr:child "n_regionkey";
                                          rr:parent "r_regionkey" ] ] ].

<#GRegion>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "region"; xrr:uniqueRef "r_regionkey" ];
    rr:subjectMap [ rr:template "http://example.org/region/{r_regionkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "r_name" ] ].
"""


def sparql_graph_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph quads on the NATIVE tier (round 6): subject graph
    maps apply to the class, POM, and ROM triples; a POM graph map adds
    its own graph per R2RML quad-combination semantics, and the SPARQL
    evaluator binds GRAPH ?g over the quad column while plain patterns
    keep default-graph (NULL) semantics.  The nation name quads land in
    BOTH the per-region template graph and the constant ex:gnames
    graph; region names stay in the default graph and must NOT match.
    Reference: subject/POM graph emission,
    MorphRDBDataTranslator.scala:95-130 and 140-178."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?n } }
        ORDER BY ?g ?n""", tables=tpch_tables(spark, sf_dir))


SPARQL_GRAPH_QUADS_SQL = f"""
WITH q AS (
  SELECT '<{EX}g/' || n_regionkey || '>' AS g, '"' || n_name || '"' AS n
  FROM nation
  UNION ALL
  SELECT '<http://example.com/gnames>' AS g, '"' || n_name || '"' AS n
  FROM nation
)
SELECT g, n FROM q ORDER BY g, n
"""


def sparql_from_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM dataset clause (round 6, SPARQL §13.2): the query's default
    graph becomes the merge of the FROM graphs, and the graph-template
    inversion turns the clause into a source row constraint — the
    nation scan carries EqualTo(n_regionkey,2), region is never read."""
    from .api import answer_auto
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    return answer_auto(spark, mapping, SPARQL_PREFIX + """
        SELECT ?s ?n FROM <http://example.org/g/2>
        WHERE { ?s ex:name ?n } ORDER BY ?s ?n""",
                       tables=tpch_tables(spark, sf_dir))


SPARQL_FROM_DATASET_SQL = f"""
SELECT '<{EX}nation/' || n_nationkey || '>' AS s,
       '"' || n_name || '"' AS n
FROM nation WHERE n_regionkey = 2
ORDER BY s, n
"""


# extra gate queries that do not run over the TPC-H KG mapping
EXTRA_QUERIES = {
    "sparql_graph_quads": (sparql_graph_quads, SPARQL_GRAPH_QUADS_SQL),
    "sparql_from_dataset": (sparql_from_dataset, SPARQL_FROM_DATASET_SQL),
    "sparql_topk_pushdown": (sparql_topk_pushdown, SPARQL_TOPK_SQL),
    "sparql_agg_pushdown": (sparql_agg_pushdown, SPARQL_AGG_SQL),
    "sparql_agg_doc": (sparql_agg_doc, SPARQL_AGG_DOC_SQL),
    "sparql_agg_optional": (sparql_agg_optional, SPARQL_AGG_OPTIONAL_SQL),
    "sparql_agg_union": (sparql_agg_union, SPARQL_AGG_UNION_SQL),
    "sparql_agg_subquery": (sparql_agg_subquery, SPARQL_AGG_SUBQUERY_SQL),
    "sparql_agg_exists": (sparql_agg_exists, SPARQL_AGG_EXISTS_SQL),
    "sparql_ask_exists": (sparql_ask_exists, SPARQL_ASK_SQL),
    "sparql_pushdown_mixed": (sparql_pushdown_mixed,
                              SPARQL_PUSHDOWN_MIXED_SQL),
    "sparql_pushdown_docseg": (sparql_pushdown_docseg,
                               SPARQL_PUSHDOWN_DOCSEG_SQL),
    "sparql_pushdown_docpat": (sparql_pushdown_docpat,
                               SPARQL_PUSHDOWN_DOCPAT_SQL),
    "sparql_pushdown_point": (sparql_pushdown_point,
                              sparql_pushdown_point_oracle_sql()),
    "sparql_pushdown_obj": (sparql_pushdown_obj,
                            sparql_pushdown_obj_oracle_sql()),
    "sparql_pushdown_doc": (sparql_pushdown_doc, SPARQL_PUSHDOWN_DOC_SQL),
    "sparql_pushdown_lit": (sparql_pushdown_lit, SPARQL_PUSHDOWN_LIT_SQL),
    "sparql_pushdown_seg": (sparql_pushdown_seg, SPARQL_PUSHDOWN_SEG_SQL),
    "sparql_pushdown_regex": (sparql_pushdown_regex,
                              SPARQL_PUSHDOWN_REGEX_SQL),
    "sparql_pushdown_doclit": (sparql_pushdown_doclit,
                               SPARQL_PUSHDOWN_DOCLIT_SQL),
    "sparql_pushdown_doccmp": (sparql_pushdown_doccmp,
                               SPARQL_PUSHDOWN_DOCCMP_SQL),
    "sparql_path_deep": (sparql_path_deep, SPARQL_PATH_DEEP_SQL),
    "sparql_lang_filter": (sparql_lang_filter, SPARQL_LANG_FILTER_SQL),
    "sparql_typed_lit": (sparql_typed_lit_pattern, SPARQL_TYPED_LIT_SQL),
    "sparql_describe": (sparql_describe_nation, sparql_describe_oracle_sql()),
    "sparql_construct": (sparql_construct_located,
                         sparql_construct_oracle_sql()),
}


# ---------------------------------------------------------------------------
# Document pipeline: lineitems nested in order JSON docs, iterator + pushDown
# ---------------------------------------------------------------------------

LINEITEM_JSON_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#Lines>
    a rr:TriplesMap;
    xrr:logicalSource [
        xrr:query "db.orderdocs.find({})";
        rml:iterator "$.lines.*";
        xrr:pushDown [ xrr:reference "$.ok"; xrr:as "ok" ];
    ];
    rr:subjectMap [ rr:template "http://example.org/line/{$.ok}-{$.ln}"; rr:class ex:Line ];
    rr:predicateObjectMap [ rr:predicate ex:qty; rr:objectMap [ xrr:reference "$.qty" ] ];
    rr:predicateObjectMap [ rr:predicate ex:part;
                            rr:objectMap [ rr:template "http://example.org/part/{$.pk}" ] ].
"""


def orderdocs_df(spark: SparkSession, sf_dir: str,
                 lineitem: DataFrame | None = None) -> DataFrame:
    """Build one JSON document per order with its nested lineitems —
    the document-model input (built natively with collect_list + to_json)."""
    li = lineitem if lineitem is not None \
        else spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    docs = (li.groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_list(F.struct(
                  F.col("l_linenumber").alias("ln"),
                  F.col("l_partkey").alias("pk"),
                  F.col("l_quantity").cast("long").alias("qty")))).alias("lines"))
              .select(F.to_json(F.struct(
                  F.col("l_orderkey").alias("ok"),
                  F.col("lines"))).alias("content")))
    return docs


def kg_lineitem_json_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .api import materialize_auto
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    catalog = SourceCatalog().register_collection("orderdocs",
                                                  orderdocs_df(spark, sf_dir))
    return materialize_auto(spark, mapping, catalog)


def kg_lineitem_json_oracle_sql() -> str:
    subj = "'<http://example.org/line/' || l_orderkey || '-' || l_linenumber || '>'"
    parts = [
        f"SELECT {subj} AS subj, '{_RDF_TYPE}' AS pred, '<http://example.com/Line>' AS obj FROM lineitem",
        f"""SELECT {subj}, '<http://example.com/qty>', '"' || CAST(l_quantity AS BIGINT) || '"^^<{_XSD}integer>' FROM lineitem""",
        f"SELECT {subj}, '<http://example.com/part>', '<http://example.org/part/' || l_partkey || '>' FROM lineitem",
    ]
    body = "\nUNION ALL\n".join(parts)
    return (f"SELECT DISTINCT subj, pred, obj, CAST(NULL AS VARCHAR) AS graph "
            f"FROM (\n{body}\n) t(subj, pred, obj)")

