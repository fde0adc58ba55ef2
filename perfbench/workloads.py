"""The four workloads: how each registers its sources, runs one timed
operation, checks it against its oracle, and splits into layers when
traced.

Every timed operation forces full output: a real file write, or a full
collect plus serialization.  None of them times ``count()``, which lets
Catalyst prune the term rendering.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

from morph_xr2rml_spark import examples as ex
from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
from morph_xr2rml_spark.api import answer_auto, materialize_auto
from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sink import ResumableMaterializer, write_ntriples
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import parse_sparql, to_sparql_json

from datagen import parquet_path
from oracles import (Digest, Oracle, ntriples_file_digest, output_bytes,
                     parquet_triples_digest, sparql_json_digest)


@dataclass
class OpResult:
    ok: bool
    items: int          # triples written, or result rows
    nbytes: int         # bytes written, or bytes of the serialized result
    error: str = ""


def check_digest(got: Digest, want: Digest, nbytes: int) -> OpResult:
    if got == want:
        return OpResult(True, got.count, nbytes)
    return OpResult(False, got.count, nbytes,
                    f"digest mismatch: {got.count} rows, oracle {want.count}")


def noop_write(df) -> None:
    """Run the whole plan, rendering every column, and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


class _Collected:
    """Rows already in hand, shaped like the DataFrame surface
    ``to_sparql_json`` reads (``columns`` and ``collect()``), so
    serialization can be timed apart from execution."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


# -- materialization workloads ----------------------------------------------------

class KgDocs:
    """JSON corpus → materialize_auto (json-native tier + global dedup)
    → write_ntriples."""
    name = "kg_docs"
    # a JVM reaches its steady time for this operation within about 4 at
    # sf 0.03; at sf 0.01 it kept getting faster for about 30, so a run
    # timed the JIT's warm-up
    sf = 0.03
    mapping_text = ex.LINEITEM_JSON_MAPPING
    translate_span = "native_json.translate"
    # the spans whose Spark jobs belong to the timed operation
    main_spans = ("op", "api.plan", "sink.write")

    def parse_mapping(self):
        return MappingDocument.from_text(self.mapping_text)

    def oracle(self, orc: Oracle) -> Digest:
        return orc.ntriples_digest(ex.kg_lineitem_json_oracle_sql())

    def register(self, spark, data_dir: str) -> dict:
        docs = spark.read.parquet(parquet_path(data_dir, "orderdocs"))
        return {"spark": spark, "mapping": self.parse_mapping(),
                "catalog": SourceCatalog().register_collection("orderdocs",
                                                               docs)}

    def round(self) -> list:
        return [self.name]

    def warm_up(self) -> list:
        return self.round()

    # untimed materializations after the set-ups, which run 3: the first
    # few in a JVM still get faster as the JIT compiles their hot paths
    FIRST_PASS = 2

    def first_pass(self) -> list:
        return self.round() * self.FIRST_PASS

    def plan(self, st: dict, dedup: bool = True):
        return materialize_auto(st["spark"], st["mapping"],
                                catalog=st["catalog"], dedup=dedup)

    def run_op(self, st, key, out_dir, tr):
        with tr.span("api.plan"):
            df = self.plan(st)
        with tr.span("sink.write"):
            write_ntriples(df, out_dir)

    def check(self, st, key, result, out_dir, want) -> OpResult:
        return check_digest(ntriples_file_digest(out_dir), want,
                            output_bytes(out_dir))

    def noop_layers(self, st, tr, reps) -> dict:
        """The same plan into a ``noop`` writer, with and without the
        dedup; each span runs from the plan call to the last task."""
        for _ in range(reps):
            for dedup, span in ((False, self.translate_span),
                                (True, "engine.dedup_full")):
                with tr.span(span, new_trace=True):
                    noop_write(self.plan(st, dedup=dedup))
        return {"rows_in": self.plan(st, dedup=False).count(),
                "rows_out": self.plan(st).count()}

    def trace_layers(self, st, tr, reps, new_dir) -> dict:
        """The noop layers, and the same corpus and mapping through the
        Arrow/Python document tier (``ResumableMaterializer.run``) with
        and without lineage, each into a fresh directory."""
        counts = self.noop_layers(st, tr, reps)
        for _ in range(reps):
            for lineage, span in ((True, "sink.resumable_run"),
                                  (False, "sink.no_lineage")):
                with tr.span(span, new_trace=True):
                    ResumableMaterializer(st["spark"], st["mapping"],
                                          st["catalog"], new_dir()).run(
                        record_lineage=lineage)
        return counts


class KgTables(KgDocs):
    """TPC-H R2RML mapping (4 TMs, 3 ROM joins) → materialize_auto
    (native tier; the compiler proves it duplicate-free and drops the
    dedup exchange) → write_ntriples."""
    name = "kg_tables"
    sf = 0.03
    mapping_text = ex.TPCH_KG_MAPPING
    translate_span = "native.translate"

    def oracle(self, orc):
        return orc.ntriples_digest(ex.kg_tpch_oracle_sql())

    def register(self, spark, data_dir):
        return {"spark": spark, "mapping": self.parse_mapping(),
                "tables": ex.tpch_tables(spark, data_dir)}

    def plan(self, st, dedup=True):
        return materialize_auto(st["spark"], st["mapping"],
                                tables=st["tables"], dedup=dedup)

    def trace_layers(self, st, tr, reps, new_dir):
        return self.noop_layers(st, tr, reps)


class KgDocsResumable(KgDocs):
    """The kg_docs corpus and mapping through ResumableMaterializer.run:
    the Arrow/Python document tier, per-TM dedup, parquet, manifest and
    lineage.  Every run gets a fresh output directory."""
    name = "kg_docs_resumable"
    sf = 0.003
    translate_span = "engine.translate"
    main_spans = ("op", "sink.resumable_run")

    def run_op(self, st, key, out_dir, tr):
        with tr.span("sink.resumable_run"):
            return ResumableMaterializer(st["spark"], st["mapping"],
                                         st["catalog"], out_dir).run()

    def check(self, st, key, manifest, out_dir, want):
        entries = list(manifest["triples_maps"].values())
        n = sum(e["triples"] for e in entries)
        if not all(e.get("complete") for e in entries) or n != want.count:
            return OpResult(False, n, output_bytes(out_dir),
                            f"manifest counts {n} triples, oracle "
                            f"{want.count}")
        return check_digest(parquet_triples_digest(out_dir), want,
                            output_bytes(out_dir))

    def trace_layers(self, st, tr, reps, new_dir):
        """Without lineage, and the document tier alone into ``noop``
        with and without the dedup."""
        spark = st["spark"]
        for _ in range(reps):
            with tr.span("sink.no_lineage", new_trace=True):
                ResumableMaterializer(spark, st["mapping"], st["catalog"],
                                      new_dir()).run(record_lineage=False)
            for dedup, span in ((False, self.translate_span),
                                (True, "engine.dedup_full")):
                with tr.span(span, new_trace=True):
                    sm = SparkMaterializer(spark, st["mapping"],
                                           st["catalog"])
                    noop_write(sm.triples(dedup=dedup))
                    sm.cleanup()
        sm = SparkMaterializer(spark, st["mapping"], st["catalog"])
        counts = {"rows_in": sm.triples(dedup=False).count(),
                  "rows_out": sm.triples().count()}
        sm.cleanup()
        return counts


# -- SPARQL rewriting workload ----------------------------------------------------

@dataclass
class Query:
    name: str
    mapping: str        # key into SparqlRewrite.MAPPINGS
    text: str
    oracle_sql: str
    aggregate: bool = False


_AGG_TEXT = ex.SPARQL_PREFIX + """
    SELECT ?seg (COUNT(*) AS ?n) (MIN(?b) AS ?lo) (MAX(?b) AS ?hi)
    WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b }
    GROUP BY ?seg ORDER BY ?seg"""


def sparql_mix(seed: int, n_orders: int) -> list[Query]:
    """The fixed mix: the 11 example queries; point, aggregate, subquery
    top-k and graph pushdown; one mixed relational+document query.  The
    seed picks the query constants and the order."""
    rng = random.Random(seed)
    subs = {
        "sparql_expensive_orders": ("69999.5",
                                    f"{rng.randrange(50_000, 90_000)}.5"),
        "sparql_strstarts": ("Customer#00000001",
                             f"Customer#0000000{rng.randrange(1, 10)}"),
    }
    mix = []
    for name, (text, _) in ex.SPARQL_QUERIES.items():
        oracle = ex.sparql_oracle_sql(name)
        if name in subs:
            old, new = subs[name]
            text, oracle = text.replace(old, new), oracle.replace(old, new)
        mix.append(Query(name, "tpch", text, oracle,
                         aggregate="GROUP BY" in text))

    k = rng.randrange(n_orders)
    mix.append(Query(
        "point", "tpch",
        f"SELECT ?p ?o WHERE {{ <{ex.EX}order/{k}> ?p ?o }} ORDER BY ?p ?o",
        ex.kg_tpch_triples_cte() + "\nSELECT pred AS p, obj AS o FROM "
        f"triples WHERE subj = '<{ex.EX}order/{k}>'"))
    mix.append(Query("aggregate", "tpch", _AGG_TEXT, ex.SPARQL_AGG_SQL,
                     aggregate=True))
    lim = rng.randrange(5, 21)
    mix.append(Query(
        "subquery_topk", "tpch", ex.SPARQL_PREFIX + f"""
        SELECT ?name ?k WHERE {{
          ?c ex:name ?name .
          {{ SELECT ?c (COUNT(*) AS ?k) WHERE {{ ?o ex:placedBy ?c }}
             GROUP BY ?c }}
        }} ORDER BY DESC(?k) ?name LIMIT {lim}""",
        f"""SELECT '"' || c_name || '"' AS name, k FROM customer
        JOIN (SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY o_custkey)
          s ON c_custkey = s.o_custkey
        ORDER BY k DESC, name LIMIT {lim}""", aggregate=True))
    r = rng.randrange(5)
    mix.append(Query(
        "graph_pushdown", "graph", ex.SPARQL_PREFIX +
        f"SELECT ?s ?n WHERE {{ GRAPH <{ex.EX}g/{r}> {{ ?s ex:name ?n }} }} "
        "ORDER BY ?s",
        f"""SELECT '<{ex.EX}nation/' || n_nationkey || '>' AS s,
        '"' || n_name || '"' AS n FROM nation WHERE n_regionkey = {r}"""))
    status = rng.choice("FOP")
    bal = rng.randrange(8_000, 9_500)
    mix.append(Query(
        "mixed", "mixed", ex.SPARQL_PREFIX + f"""
        SELECT ?o ?c ?n WHERE {{
            ?o ex:placedBy ?c ; ex:status "{status}" .
            ?c ex:name ?n ; ex:acctbal ?a .
            FILTER(?a > {bal}.0)
        }} ORDER BY ?o ?c""",
        f"""SELECT '<{ex.EX}odoc/' || o_orderkey || '>' AS o,
        '<{ex.EX}customer/' || c_custkey || '>' AS c, '"' || c_name || '"' AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = '{status}'
          AND CAST(c_acctbal AS DECIMAL(12,2)) > {bal}.0"""))
    rng.shuffle(mix)
    return mix


class SparqlRewrite:
    """Closed loop, one client: each query of the mix goes through
    api.answer_auto over the source tables and is serialized with
    to_sparql_json."""
    name = "sparql_rewrite"
    sf = 0.01
    mapping_text = ex.TPCH_KG_MAPPING
    translate_span = KgTables.translate_span
    main_spans = ("op", "rewrite.plan", "sparql.exec")
    MAPPINGS = {"tpch": ex.TPCH_KG_MAPPING, "graph": ex.GRAPH_KG_MAPPING,
                "mixed": ex.MIXED_KG_MAPPING}

    def __init__(self):
        self.mix: list[Query] = []

    def parse_mapping(self):
        return MappingDocument.from_text(self.mapping_text)

    def oracle(self, orc: Oracle) -> dict[str, Digest]:
        return {q.name: orc.result_digest(q.oracle_sql) for q in self.mix}

    def register(self, spark, data_dir):
        return {"spark": spark, "tables": ex.tpch_tables(spark, data_dir),
                "orderflat": ex.orderflat_catalog(spark, data_dir),
                "mappings": {k: MappingDocument.from_text(v)
                             for k, v in self.MAPPINGS.items()}}

    def round(self) -> list:
        return self.mix

    # the TPC-H table handles and the orderflat catalog are memoized on
    # the session at registration; the one memo filled later is the
    # catalog's sampled JSON schema, by the one query over a document
    WARM_UP = ("mixed",)

    def warm_up(self) -> list:
        by_name = {q.name: q for q in self.mix}
        return [by_name[n] for n in self.WARM_UP]

    def first_pass(self) -> list:
        """Every query the set-ups do not warm, once."""
        return [q for q in self.mix if q.name not in self.WARM_UP]

    @staticmethod
    def sources(st, q: Query) -> dict:
        if q.mapping == "mixed":
            return {"catalog": st["orderflat"],
                    "tables": {"customer": st["tables"]["customer"]}}
        return {"tables": st["tables"]}

    def run_op(self, st, q, out_dir, tr):
        with tr.span("sparql.parse"):
            parsed = parse_sparql(q.text)
        with tr.span("rewrite.plan"):
            df = answer_auto(st["spark"], st["mappings"][q.mapping], parsed,
                             **self.sources(st, q))
        if not tr.enabled:
            return to_sparql_json(df)
        with tr.span("sparql.exec"):
            rows = df.collect()
        with tr.span("sparql.serialize"):
            res = to_sparql_json(_Collected(df.columns, rows))
        tr.counts["exchanges"] += _count_exchanges(df)
        tr.counts["queries"] += 1
        return res

    def check(self, st, q, result, out_dir, want) -> OpResult:
        return check_digest(sparql_json_digest(result), want[q.name],
                            len(json.dumps(result)))

    def trace_layers(self, st, tr, reps, new_dir) -> dict:
        """The native compiler alone: the TPC-H mapping the mix queries,
        fully materialized into ``noop`` with and without the dedup (the
        compiler proves it duplicate-free, so the two should match); and
        the aggregate-pushdown hits over the mix's aggregate queries."""
        tpch = {"spark": st["spark"], "tables": st["tables"],
                "mapping": st["mappings"]["tpch"]}
        out = KgTables().trace_layers(tpch, tr, reps, new_dir)
        aggs = [q for q in self.mix if q.aggregate]
        hits = 0
        for q in aggs:
            src = self.sources(st, q)
            hits += try_aggregate_pushdown_auto(
                st["spark"], st["mappings"][q.mapping], parse_sparql(q.text),
                tables=src["tables"],
                catalog=src.get("catalog") or SourceCatalog()) is not None
        return dict(out, agg_hits=hits, aggs=len(aggs))


def _count_exchanges(df) -> int:
    """Exchange operators in the plan as executed (the final adaptive
    plan, once the query has run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(line.lstrip(" :+-").startswith(("Exchange",
                                               "BroadcastExchange"))
               for line in plan.splitlines())


WORKLOADS = {w.name: w for w in (KgDocs, KgDocsResumable, KgTables,
                                 SparqlRewrite)}
