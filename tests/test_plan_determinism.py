"""The answering plans must not depend on Python's string-hash seed.

Each process draws its own seed (PYTHONHASHSEED), so a plan built by
iterating a set of variable names or predicates changes from one run to
the next: the join tree's leading frame, a frame's column order, the
order of its not-null filters.  The plans are built in child processes
under three fixed seeds and compared as text, expression ids removed.
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
for name in sorted(queries):
    df = answer_auto(spark, mapping, queries[name], tables=tables)
    plan = df._jdf.queryExecution().analyzed().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    print(name, hashlib.sha1(plan.encode()).hexdigest())
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
    assert digests[0].count("\n") == 12
    assert digests[1] == digests[0]
    assert digests[2] == digests[0]
