"""The answering plans must not depend on Python's string-hash seed.

Each process draws its own seed (PYTHONHASHSEED), so a plan built by
iterating a set of variable names or predicates changes from one run to
the next: the join tree's leading frame, a frame's column order, the
order of its not-null filters.  The plans are built in child processes
under three fixed seeds and compared as text, expression ids removed:
the answering plans of the example queries, and the constrained plans
(rewrite.constrained_plan's composed find() filters and row filters,
then the native and json-native compilers' unfused plans) of
constraint-bearing queries over a tabular and a document mapping.
"""

import os
import subprocess
import sys

from test_agg_pushdown import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the example queries, plus a two-predicate single-subject aggregate
# (the single-frame builder's not-null filters)
_SCRIPT = r"""
import hashlib, re, sys
from pyspark.sql import SparkSession
from morph_xr2rml_spark import examples as ex
from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.model import MappingDocument
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
mapping = MappingDocument.from_text(ex.TPCH_KG_MAPPING)
tables = ex.tpch_tables(spark, sys.argv[1])
queries = dict((name, text) for name, (text, _sql)
               in ex.SPARQL_QUERIES.items())
queries["segment_balance"] = ex.SPARQL_PREFIX + (
    "SELECT ?seg (COUNT(*) AS ?n) (MIN(?b) AS ?lo) WHERE { "
    "?c ex:segment ?seg . ?c ex:acctbal ?b } GROUP BY ?seg")
def digest(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    return hashlib.sha1(re.sub(r"#\d+L?", "#", plan).encode()).hexdigest()
for name in sorted(queries):
    print(name, digest(answer_auto(spark, mapping, queries[name],
                                   tables=tables)))

from morph_xr2rml_spark.api import _routed_plan
from morph_xr2rml_spark.rewrite import (constrained_plan,
                                        derive_tm_constraints)
P = ex.SPARQL_PREFIX
constrained = [
    ("tab", mapping, P + "SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . "
     "FILTER(?p > 100000.0 && ?p <= 300000.5) }"),
    ("tab", mapping, P + 'SELECT ?c ?n WHERE { ?c ex:name ?n . '
     'FILTER(STRSTARTS(?n, "Customer#00000001")) }'),
    ("tab", mapping, P + 'SELECT ?o ?c ?s WHERE { ?o ex:placedBy ?c ; '
     'ex:status "F" . ?c ex:segment ?s ; ex:name ?n }'),
    ("tab", mapping, P + "SELECT ?p ?o WHERE { <" + ex.EX + "order/7> ?p ?o }"),
    ("doc", MappingDocument.from_text(ex.ORDERDOC_FLAT_MAPPING),
     P + 'SELECT ?o ?c WHERE { ?o ex:status "F" ; ex:cust ?c ; '
     'ex:priority ?pr . FILTER(?c > 50 && STRSTARTS(?pr, "1-")) }'),
    ("doc", MappingDocument.from_text(ex.ORDERDOC_FLAT_MAPPING),
     P + "SELECT ?p ?o WHERE { <" + ex.EX + "odoc/7> ?p ?o }"),
]
catalog = ex.orderflat_catalog(spark, sys.argv[1])
for i, (tier, m, q) in enumerate(constrained):
    src = {"tables": tables} if tier == "tab" else {"catalog": catalog}
    cons = derive_tm_constraints(m, q, src.get("tables"))
    m2, row_filters = constrained_plan(m, cons)
    finds = sorted((n, tm.logical_source.value)
                   for n, tm in m2.triples_maps.items())
    pool, tiers, _distinct = _routed_plan(spark, m, constraints=cons, **src)
    assert set(tiers.values()) == {"native" if tier == "tab" else "json"}
    print("constrained", i, repr(finds), repr(sorted(row_filters.items())),
          digest(pool))
spark.stop()
"""


def _plan_digests(seed: int) -> str:
    env = dict(os.environ, PYTHONHASHSEED=str(seed),
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    out = subprocess.run([sys.executable, "-c", _SCRIPT, SF_DIR], env=env,
                         cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True)
    return out.stdout


def test_answering_plans_ignore_hash_seed():
    digests = {seed: _plan_digests(seed) for seed in (0, 1, 2)}
    assert digests[0].count("\n") == 18
    assert digests[1] == digests[0]
    assert digests[2] == digests[0]
