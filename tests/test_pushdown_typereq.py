"""Round-6 pushdown breadth: regex mandatory-literal extraction and
type-facet (isIRI/isLiteral/isBlank, LANG/langMatches, datatype) TM
candidacy.  The reference applies per-term-map compatibility conditions
when binding triple patterns to candidate term maps
(MorphBaseTriplePatternBinder); facets over term type / rr:language /
rr:datatype are compile-time constants of the term map, so they decide
candidacy with zero row constraints.  Regex feeds the existing lexpat
inversion with the pattern's mandatory literal (superset — the full
regex still runs in the evaluator)."""

import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import _regex_lexpats, derive_tm_constraints

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n" \
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"


# ---------------------------------------------------------------------------
# _regex_lexpats: mandatory-literal extraction
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("pat,want", [
    ("^INFO", [("strstarts", "INFO")]),
    ("error$", [("strends", "error")]),
    ("warn", [("contains", "warn")]),
    ("^abc.*def", [("strstarts", "abc")]),
    ("^a+b", [("strstarts", "a")]),       # + keeps the atom (>=1 occurrence)
    ("^ab*", [("strstarts", "a")]),       # * erases the preceding atom
    ("^ab{2}", [("strstarts", "a")]),     # {m,n} may erase: drop the atom
    ("^a?x", []),                          # first atom optional: nothing
    ("a|b", []),                           # alternation: bail
    ("(ab)c", []),                         # groups: bail
    ("^\\d+x", []),                        # metaclass first: nothing
    ("pre\\.fix", [("contains", "pre.fix")]),   # escaped punctuation
    ("x\\$", [("contains", "x$")]),        # escaped $ is NOT an anchor
    ("", []),
    ("^", []),
    (".*x", []),
    ("^\\Qa.b\\E", []),                    # \Q quoting: bail
])
def test_regex_lexpats(pat, want):
    assert _regex_lexpats(pat) == want


# ---------------------------------------------------------------------------
# facet-driven TM candidacy (no Spark needed: pure constraint derivation)
# ---------------------------------------------------------------------------

def _cons(q):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    return derive_tm_constraints(mapping, P + q)


def test_isliteral_on_iri_object_eliminates_all_tms():
    # ex:placedBy objects are ROM-parent subjects (IRIs): no TM can
    # satisfy isLiteral — the whole plan is provably empty
    c = _cons("SELECT ?s ?o WHERE { ?s ex:placedBy ?o . "
              "FILTER(isLiteral(?o)) }")
    assert all(v == [] for v in c.values())


def test_isliteral_on_subject_eliminates_all_tms():
    c = _cons("SELECT ?s WHERE { ?s a ex:Nation . FILTER(isLiteral(?s)) }")
    assert all(v == [] for v in c.values())


def test_lang_facet_on_plain_literal_eliminates():
    # column-backed plain literals carry no language tag: LANG()="en"
    # and langMatches(...,"en") can never hold
    for flt in ('FILTER(LANG(?n) = "en")',
                'FILTER langMatches(LANG(?n), "en")'):
        c = _cons("SELECT ?c ?n WHERE { ?c ex:name ?n . %s }" % flt)
        assert all(v == [] for v in c.values()), flt


def test_empty_lang_facet_keeps_plain_literal_tms():
    c = _cons('SELECT ?c ?n WHERE { ?c ex:name ?n . FILTER(LANG(?n)="") }')
    # TMs emitting ex:name stay unconstrained; orders (no ex:name) dies
    assert c["#Customer"] is None and c["#Orders"] == []


def test_datatype_facet_unknown_natural_type_keeps():
    # COLUMN object maps have a schema-dependent natural datatype:
    # datatype(?n)=xsd:string must keep them (superset, sound)
    c = _cons("SELECT ?c ?n WHERE { ?c ex:name ?n . "
              "FILTER(datatype(?n) = xsd:string) }")
    assert c["#Customer"] is None


def test_isiri_on_iri_object_keeps():
    c = _cons("SELECT ?s ?o WHERE { ?s ex:placedBy ?o . FILTER(isIRI(?o)) }")
    assert c["#Orders"] is None


def test_isnumeric_on_iri_object_eliminates():
    # numeric_value() of an IRI/BNode term string is NULL: no IRI-object
    # TM can satisfy isNumeric; literal TMs are kept leniently
    c = _cons("SELECT ?s ?o WHERE { ?s ex:placedBy ?o . "
              "FILTER(isNumeric(?o)) }")
    assert all(v == [] for v in c.values())
    c2 = _cons("SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . "
               "FILTER(isNumeric(?p)) }")
    assert c2["#Orders"] is None and c2["#Customer"] == []


def test_sameterm_promotes_constant_pushdown():
    # sameTerm(?s, <iri>) constrains like ?s = <iri>: the subject
    # inversion yields a key equality on the one TM that can render it
    c = _cons("SELECT ?p ?o WHERE { ?s ?p ?o . "
              "FILTER sameTerm(?s, <http://example.org/customer/5>) }")
    assert c["#Nation"] == [] and c["#Region"] == []
    assert c["#Customer"] is not None and len(c["#Customer"]) == 1


def test_regex_anchor_derives_strstarts_constraint(spark):
    # cross-pattern AND-strengthening needs the uniqueness proof (tables):
    # the regex lexpat on pattern 2 then merges into the class pattern,
    # so the ONE customer scan is filtered
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    c = derive_tm_constraints(
        mapping, P + "SELECT ?c ?n WHERE { ?c ex:name ?n . "
        '?c a ex:Customer . FILTER regex(STR(?n), "^Customer#0000001") }',
        tables=tpch_tables(spark, SF_DIR))
    assert c["#Nation"] == [] and c["#Region"] == [] and c["#Orders"] == []
    assert c["#Customer"] is not None and len(c["#Customer"]) >= 1
    assert all("lexpat" in str(conj) and "Customer#0000001" in str(conj)
               for conj in c["#Customer"])


def test_regex_case_insensitive_flag_blocks_pushdown():
    # the 'i' flag breaks literal-prefix soundness: no constraint, the
    # pattern's TM stays a full scan (None) — refusal, not wrong pruning
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    c = derive_tm_constraints(
        mapping, P + "SELECT ?c ?s WHERE { ?c ex:segment ?s . "
        'FILTER regex(?s, "^build", "i") }')
    assert c["#Customer"] is None


# ---------------------------------------------------------------------------
# plan audits (Spark)
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_impossible_facet_compiles_to_empty_plan(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping,
                     P + "SELECT ?s ?o WHERE { ?s ex:placedBy ?o . "
                        "FILTER(isLiteral(?o)) }",
                     tables=tables)
    assert "FileScan" not in _plan(df)     # zero source reads
    assert df.count() == 0


def test_regex_prefix_reaches_scan_as_startswith(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping,
                     P + "SELECT ?c ?n WHERE { ?c ex:name ?n . "
                        "?c a ex:Customer . "
                        'FILTER regex(STR(?n), "^Customer#0000001") }',
                     tables=tables)
    plan = _plan(df)
    assert "StartsWith" in plan
    # only the customer table is ever read
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("c_name" in l for l in scans)


# ---------------------------------------------------------------------------
# FILTER EXISTS strengthening (r6): bare top-level EXISTS is required
# ---------------------------------------------------------------------------

def test_exists_and_strengthens_to_one_filtered_scan(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping,
                     P + "SELECT ?c ?n WHERE { ?c ex:name ?n . "
                        "?c a ex:Customer . "
                        'FILTER EXISTS { ?c ex:segment "BUILDING" } }',
                     tables=tables)
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("customer.parquet" in l for l in scans)
    assert "BUILDING" in plan      # the inner constraint reached the scan
    assert df.count() > 0


def test_not_exists_and_embedded_exists_never_constrain(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    for flt in ('FILTER NOT EXISTS { ?c ex:segment "BUILDING" }',
                'FILTER(EXISTS { ?c ex:segment "BUILDING" } '
                '|| STRSTARTS(STR(?n), "X"))'):
        c = derive_tm_constraints(
            mapping, P + "SELECT ?c ?n WHERE { ?c ex:name ?n . "
            "?c a ex:Customer . %s }" % flt, tables=tables)
        assert c["#Customer"] is None, flt
