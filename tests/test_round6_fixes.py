"""Round-6 ADVICE fixes:

1. FILTER(?x != n) is no longer collected into pushable comparisons
   (ADVICE r5 high — the native/mongo compilers had no '!=' op and
   crashed with KeyError; '!=' must not push at all: SPARQL '!=' on an
   IRI-vs-number pair is TRUE, so a value predicate would wrongly prune);
2. every native render mirrors Python str.strip() exactly (ADVICE r5
   medium — F.trim strips spaces only, so a tab/newline-padded field
   whose rendered literal matches a query constant was wrongly pruned by
   the natively-applied $renderIn).
"""

from pyspark.sql import functions as F

from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import derive_tm_constraints

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n"


# ---------------------------------------------------------------------------
# 1. '!=' gating
# ---------------------------------------------------------------------------

def test_neq_filter_not_collected():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    c = derive_tm_constraints(mapping, P + """
        SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . FILTER(?p != 100.0) }""")
    # the != must not constrain the orders scan (full scan, evaluator
    # applies the filter); it must also not crash downstream compilers
    assert c["#Orders"] is None


def test_neq_filter_answers(spark):
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, P + """
        SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . FILTER(?p != 200000.0) }""",
                     tables=tables)
    n_orders = tables["orders"].count()
    assert df.count() == n_orders  # no order at exactly 200000.0


def test_native_num_cmp_ignores_unknown_op(spark):
    # defense-in-depth: an unknown op in a cmp tuple is skipped
    # (superset), never a KeyError
    from morph_xr2rml_spark.native import NativeCompiler
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    c = NativeCompiler(spark, mapping, tables)
    cond = c._constraint_sql(tables["orders"],
                             [{"o_totalprice": ("cmp", (("!=", "1.0"),))}])
    assert tables["orders"].where(cond).count() == tables["orders"].count()


def test_mongo_num_cmp_ignores_unknown_op():
    from morph_xr2rml_spark.mongo_filter import compile_filter
    f = compile_filter({"a": {"$numCmp": {"!=": 1}}})
    assert f({"a": 5}) is True      # unknown op skipped → doc kept


# ---------------------------------------------------------------------------
# 2. strip parity across tiers
# ---------------------------------------------------------------------------

def test_py_strip_ws_set_is_exact():
    from morph_xr2rml_spark.native import _PY_STRIP_WS
    expected = {c for c in range(0x110000) if chr(c).isspace()}
    assert set(map(ord, _PY_STRIP_WS)) == expected


def test_strip_ws_sql_matches_python_strip(spark):
    from morph_xr2rml_spark.native import strip_ws_sql
    vals = ["  x  ", "\tx\n", " x ", "\x1c x \x1f", "x",
            "　x ", "", "   ", "a b", "\ta\tb\t"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.selectExpr(strip_ws_sql("v")).collect()]
    assert got == [v.strip() for v in vals]


PADDED_DOC_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#Pad>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.padded.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/pad/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:val; rr:objectMap [ xrr:reference "$.v" ] ];
    rr:predicateObjectMap [ rr:predicate ex:all; rr:objectMap [ xrr:reference "$.vals.*" ] ].
"""


def _padded_catalog(spark):
    import json

    from morph_xr2rml_spark.sources import SourceCatalog
    docs = [{"k": 1, "v": "\tX\n", "vals": [1]},
            {"k": 2, "v": " X ", "vals": [2]},
            {"k": 3, "v": "Y", "vals": [3]}]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "content string")
    return SourceCatalog().register_collection("padded", df)


def test_renderin_keeps_tab_padded_docs(spark):
    """ADVICE r5 medium repro: the wildcard POM forces the Python
    document tier (render = .strip()), while the composed $renderIn is
    applied NATIVELY in catalog.resolve — with F.trim it pruned the
    tab-padded doc whose render matches."""
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(PADDED_DOC_MAPPING)
    rows = answer_auto(spark, mapping,
                       P + 'SELECT ?s WHERE { ?s ex:val "X" } ORDER BY ?s',
                       catalog=_padded_catalog(spark)).collect()
    assert [r["s"] for r in rows] == ["<http://example.org/pad/1>",
                                      "<http://example.org/pad/2>"]


def test_padded_render_matches_python_tier(spark):
    """Native (json-native) and Python document tiers render identical
    literals for whitespace-padded values."""
    import json

    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping_native = MappingDocument.from_text(
        PADDED_DOC_MAPPING.replace(
            "    rr:predicateObjectMap [ rr:predicate ex:all; "
            "rr:objectMap [ xrr:reference \"$.vals.*\" ] ].", "    ."))
    docs = [{"k": 1, "v": "\tX\n"}, {"k": 2, "v": " Z "}]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "content string")
    catalog = SourceCatalog().register_collection("padded", df)
    from morph_xr2rml_spark.api import materialize_auto
    native = {tuple(r) for r in
              materialize_auto(spark, mapping_native, catalog=catalog)
              .collect()}
    python = {tuple(r) for r in
              SparkMaterializer(spark, mapping_native, catalog)
              .triples().collect()}
    assert native == python
    objs = {r[2] for r in native if r[1].endswith("val>")}
    assert objs == {'"X"', '"Z"'}


# ---------------------------------------------------------------------------
# 4. Named-graph quads in the NATIVE compiler (late r6): graph maps used
#    to silently drop to NULL on the native tier (is_tabular_compilable
#    routed them away, but direct NativeCompiler/answer_auto use hit
#    the gap).  Byte-parity against the Python document tier.
# ---------------------------------------------------------------------------

GRAPH_KG_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#N> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}";
                    rr:class ex:Nation;
                    rr:graphMap [ rr:constant ex:g1 ];
                    rr:graphMap [ rr:template "http://example.org/g/{n_regionkey}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "n_name" ];
                            rr:graphMap [ rr:constant ex:gn ] ];
    rr:predicateObjectMap [
        rr:predicate ex:inRegion;
        rr:objectMap [ rr:parentTriplesMap <#R>;
                       rr:joinCondition [ rr:child "n_regionkey"; rr:parent "r_regionkey" ] ];
    ].
<#R> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "region"; xrr:uniqueRef "r_regionkey" ];
    rr:subjectMap [ rr:template "http://example.org/region/{r_regionkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "r_name" ] ].
"""

SF_DIR_G = "/root/testdata/sf0.001"


def _graph_env(spark):
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR_G)
    cat = SourceCatalog()
    for n, df in tables.items():
        cat.register_table(n, df)
    return mapping, tables, cat


def test_native_graph_quads_match_python_tier(spark):
    from conftest import tier_pool
    from morph_xr2rml_spark.engine import SparkMaterializer
    mapping, tables, cat = _graph_env(spark)
    for fuse in (True, False):
        nat = tier_pool(spark, mapping, "native", tables, fused=fuse)
        ora = SparkMaterializer(spark, mapping, cat).triples()
        a = sorted(tuple(r) for r in nat.collect())
        b = sorted(tuple(r) for r in ora.collect())
        assert a == b and len(a) > 0
        # subject graphs apply to class + ROM triples, POM graph adds on
        graphs = {r[3] for r in a}
        assert "<http://example.com/g1>" in graphs
        assert "<http://example.com/gn>" in graphs


def test_materialize_auto_routes_graph_tms_native(spark):
    from morph_xr2rml_spark.api import materialize_auto
    mapping, tables, _cat = _graph_env(spark)
    df = materialize_auto(spark, mapping, tables=tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan            # native tier, not mapInPandas
    assert "mapInPandas" not in plan.lower()
    assert df.where(F.col("graph") == "<http://example.com/gn>").count() \
        == df.sparkSession.read.parquet(f"{SF_DIR_G}/nation.parquet").count()


def test_graph_tms_refuse_aggregate_fast_path(spark):
    # quads multiply bindings per graph: the bindings==rows proof must
    # refuse (the evaluator answers instead, and answers correctly)
    from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.sparql import parse_sparql
    mapping, tables, _cat = _graph_env(spark)
    q = ("PREFIX ex: <http://example.com/>\n"
         "SELECT ?n (COUNT(*) AS ?k) WHERE { ?s ex:name ?n } "
         "GROUP BY ?n ORDER BY ?n")
    assert try_aggregate_pushdown_auto(spark, mapping, parse_sparql(q),
                                       tables=tables) is None
    out = answer_auto(spark, mapping, q, tables=tables)
    # default-graph semantics: the graph-mapped nation triples live in
    # named graphs only, so the plain pattern matches region names alone
    assert out.count() == 5
    # GRAPH clause reaches the native quads
    gq = ("PREFIX ex: <http://example.com/>\n"
          "SELECT (COUNT(*) AS ?k) WHERE "
          "{ GRAPH ex:gn { ?s ex:name ?n } }")
    rows = answer_auto(spark, mapping, gq, tables=tables).collect()
    assert rows[0]["k"] == 25                # nation names in ex:gn
