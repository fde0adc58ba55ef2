"""The Spark materialization engine: xR2RML mapping → triples DataFrame.

Architecture (Spark-first, not a port — the reference is a single-threaded
record-at-a-time loop, MorphMongoDataTranslator.scala:85-231):

  per triples map
      scan (native find-filter pushdown)                # Catalyst
      → mapInPandas translation stage                   # Arrow-batched
          parse JSON once, iterator fan-out, pushDown,
          all term maps, template cartesian expansion,
          RDF-collection expansion w/ deterministic bnodes
          → rows kind=0 (triples) | kind=2 (join keys)
      → refobjectmap joins: explode-both-sides EQUI-JOIN # replaces the
          + AND-intersection across join conditions     # reference's
          + collect_list for collection-typed results   # O(n·m) nested loop

Jena set semantics (every triple once) are api._routed_plan's decision
over the union of all tiers' triples maps: no dedup when the plan is
provably duplicate-free, a keyed dedup on typed values where the
Catalyst tiers prove it exact, else ``dedup_triples`` below.

The per-document semantics live in translate.py and are shared with the
single-process oracle (local_engine.py), so Spark output == oracle output
by construction; tests assert it.
"""

from __future__ import annotations

import json
import weakref
from typing import Iterator, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from .model import MappingDocument, TriplesMap
from .mongo_filter import compile_filter, parse_filter
from .native import union_all
from .sources import SourceCatalog
from .translate import CompiledTriplesMap, EngineConfig, expand_collection, \
    _compile_msp, CollTerm

def _fast_loads():
    """Fastest available JSON parser with stdlib-equivalent acceptance:
    orjson parses the same documents to the same Python values (floats
    are correctly-rounded IEEE doubles in both), but rejects a few
    shapes stdlib accepts (>64-bit ints, NaN/Infinity literals) — those
    fall back to json.loads, so the accepted-document set is exactly
    stdlib's.  ~5x faster parse on typical documents (guide §4.2: hand
    the per-batch work to native libraries)."""
    try:
        import orjson
    except ImportError:
        return json.loads

    def loads(raw, _oj=orjson.loads, _j=json.loads):
        try:
            return _oj(raw)
        except Exception:
            return _j(raw)
    return loads


# unified child-stage output schema
CHILD_SCHEMA = StructType([
    StructField("kind", IntegerType(), False),     # 0=triple 2=join row
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("graph", StringType(), True),
    StructField("rom_id", IntegerType(), True),
    StructField("cond_id", IntegerType(), True),
    StructField("key", StringType(), True),
    StructField("uid", StringType(), True),        # per-iterated-doc id
])

PARENT_SCHEMA = StructType([
    StructField("rom_id", IntegerType(), False),
    StructField("cond_id", IntegerType(), False),
    StructField("key", StringType(), False),
    StructField("psubj", StringType(), False),
    StructField("pseq", LongType(), False),        # source row order
    StructField("pidx", IntegerType(), False),     # iterator index in row
])

TRIPLE_SCHEMA = StructType([
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
    StructField("graph", StringType(), True),
])


def dedup_triples(df: DataFrame, prepartition: bool = False) -> DataFrame:
    """Set-semantics dedup of a triple DataFrame (Jena model equivalence):
    the fallback for the plans the keyed dedup's proof refuses
    (CatalystCompiler.keyed_triples), which groups on typed source
    values instead and renders the terms after the exchange.

    Groups on a 128-bit key (two independently-streamed xxhash64
    values) instead of the ~150-byte string tuple — measured 3.6× faster
    at 16.5M triples (the aggregation hashtable compares 16-byte keys).
    Collision odds for DISTINCT triples ≈ n²/2^129: ~1.5e-15 at n=10^12.

    ``prepartition=True`` repartitions by the hash pair BEFORE the
    aggregate, which makes the planner skip the map-side partial
    aggregation.  For mostly-distinct triple streams (the R2RML tabular
    case: one triple per source row per term map) the partial agg
    collapses nothing and just burns a per-task hashtable over the full
    data — measured ~18%% faster end-to-end at 33M triples.  Keep the
    default for document flows, where iterators re-emit the same triples
    and map-side collapse pays for itself."""
    cols = ["subj", "pred", "obj", "graph"]
    out = (df.withColumn("_h1", F.xxhash64(*cols))
             .withColumn("_h2", F.xxhash64(F.lit(1), *cols)))
    if prepartition:
        out = out.repartition(F.col("_h1"), F.col("_h2"))
    # an explicit aggregate, not dropDuplicates: the Deduplicate node
    # re-uses the input's attribute ids, and a later exceptAll over the
    # result failed with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (Spark 4.1)
    return out.groupBy("_h1", "_h2").agg(
        *[F.any_value(c).alias(c) for c in df.columns]).drop("_h1", "_h2")


# The package's one home for cached state: per SparkSession, the frames
# the Python tier persisted (``"persisted"``, oldest first) and the
# example loaders' memos.  Weakly keyed, so a session's entries leave
# with the session and nothing outlives it.
_SESSION_STATE: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()
# live persists per session: evicting the oldest is always safe — a
# later run of its plan just recomputes from the source
_MAX_PERSISTED = 16


def session_state(spark: SparkSession) -> dict:
    """The cached state ``spark`` owns (created on first use)."""
    return _SESSION_STATE.setdefault(spark, {"persisted": []})


def _persist(spark: SparkSession, df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) ``df`` as ``spark``'s; beyond
    _MAX_PERSISTED live frames the session's oldest is released."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    live = session_state(spark)["persisted"]
    live.append(df)
    while len(live) > _MAX_PERSISTED:
        live.pop(0).unpersist()
    return df


def release(spark: SparkSession) -> int:
    """Unpersist every frame ``spark`` persisted; returns how many.  A
    stopped session's frames are only forgotten: its cache went with
    its context."""
    live = session_state(spark)["persisted"]
    n = len(live)
    if spark.sparkContext._jsc is not None:
        for df in live:
            df.unpersist()
    live.clear()
    return n


def _doc_reader(py_filter_text: Optional[str]):
    """The one document walk of the Python tier, built once per task:
    ``docs(contents)`` yields ``(row index, parsed document)`` for every
    content value that parses and passes the find() filter the Catalyst
    compile could not express.  Bad docs skip-and-continue, as the
    reference logs and continues."""
    loads = _fast_loads()
    keep = (compile_filter(parse_filter(py_filter_text))
            if py_filter_text else None)

    def docs(contents) -> Iterator:
        for i, raw in enumerate(contents):
            if raw is None:
                continue
            try:
                doc = loads(raw)
            except (ValueError, TypeError):
                continue
            if keep is None or keep(doc):
                yield i, doc

    return docs


def _make_child_fn(tm: TriplesMap, cfg: EngineConfig,
                   rom_base: Optional[int], py_filter_text: Optional[str]):
    """Build the Arrow-batched translation stage for one triples map.
    The compiled TM is built lazily per task (compiled closures aren't
    picklable; the model dataclasses are).

    ``rom_base=None`` (a ROM-free TM) emits the 4 TRIPLE_SCHEMA columns
    from the content column alone: the 5 join-bookkeeping columns of
    CHILD_SCHEMA would be all-NULL, per-row pandas/Arrow work for dead
    cells (guide §4.1: pass only the columns the stage needs).  A TM
    with ROMs reads ``_seq`` too and emits CHILD_SCHEMA rows, kind=0
    triples then kind=2 join rows."""

    def translate_batches(batches: Iterator) -> Iterator:
        import pandas as pd
        ctm = CompiledTriplesMap(tm, cfg, rom_base or 0)
        docs = _doc_reader(py_filter_text)
        for pdf in batches:
            # tuple-row buffers: one append per row, columnized once per
            # batch with zip (C speed) — the per-row dict/append path costs
            # real memory bandwidth at fleet scale
            trips: list[tuple] = []
            joins: list[tuple] = []
            seqs = pdf["_seq"].values if rom_base is not None else None
            for i, doc in docs(pdf["content"].values):
                for idx, sub in enumerate(ctm.iterate(doc)):
                    res = ctm.translate_doc(sub)
                    trips.extend(res.triples)
                    for s, p, coll, g in res.collections:
                        head, ctriples = expand_collection(s, p, coll, g)
                        trips.append((s, p, head, g))
                        trips.extend(ctriples)
                    if res.join_rows:
                        uid = f"{seqs[i]}-{idx}"
                        joins.extend(row + (uid,) for row in res.join_rows)
            ts, tp, to, tg = zip(*trips) if trips else ((),) * 4
            if rom_base is None:
                yield pd.DataFrame({"subj": list(ts), "pred": list(tp),
                                    "obj": list(to), "graph": list(tg)})
                continue
            n_t, n_j = len(trips), len(joins)
            jr, jc, jk, js, jp, jg, ju = zip(*joins) if joins else ((),) * 7
            yield pd.DataFrame({
                "kind": [0] * n_t + [2] * n_j,
                "subj": list(ts) + list(js),
                "pred": list(tp) + list(jp),
                "obj": list(to) + [None] * n_j,
                "graph": list(tg) + list(jg),
                "rom_id": [None] * n_t + list(jr),
                "cond_id": [None] * n_t + list(jc),
                "key": [None] * n_t + list(jk),
                "uid": [None] * n_t + list(ju),
            })

    return translate_batches


def _make_filter_fn(py_filter_text: str):
    """A find() filter the Catalyst compile cannot express, as its own
    stage over the source rows: keeps the rows whose document matches
    (bad docs never match)."""

    def keep_matching(batches: Iterator) -> Iterator:
        docs = _doc_reader(py_filter_text)
        for pdf in batches:
            yield pdf.iloc[[i for i, _doc in docs(pdf["content"].values)]]

    return keep_matching


def _make_parent_fn(parent_tm: TriplesMap, cfg: EngineConfig,
                    rom_id: int, parent_refs: list[str],
                    py_filter_text: Optional[str]):
    """Parent-side extraction stage: (cond_id, key, parent_subject) rows."""

    def extract_batches(batches: Iterator) -> Iterator:
        import pandas as pd
        ctm = CompiledTriplesMap(parent_tm, cfg, 0)
        refform = parent_tm.logical_source.ref_formulation
        msps = [_compile_msp(r, refform) for r in parent_refs]
        docs = _doc_reader(py_filter_text)
        for pdf in batches:
            seqs = pdf["_seq"].values
            yield pd.DataFrame(
                [(rom_id, cond_id, key, subj, int(seqs[i]), idx)
                 for i, doc in docs(pdf["content"].values)
                 for idx, sub in enumerate(ctm.iterate(doc))
                 for cond_id, key, subj in ctm.parent_rows(sub, msps)],
                columns=PARENT_SCHEMA.fieldNames())

    return extract_batches


def _expand_rom_collections(ctype: str):
    """mapInPandas stage expanding ROM join results grouped into member
    arrays → head triple + rdf:first/rest (or rdf:_n) member triples."""

    def expand(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            rows = {"subj": [], "pred": [], "obj": [], "graph": []}
            for subj, pred, graph, members in zip(
                    pdf["subj"], pdf["pred"], pdf["graph"], pdf["members"]):
                coll = CollTerm(ctype, list(members))
                head, triples = expand_collection(subj, pred, coll, graph)
                rows["subj"].append(subj); rows["pred"].append(pred)
                rows["obj"].append(head); rows["graph"].append(graph)
                for s, p, o, g in triples:
                    rows["subj"].append(s); rows["pred"].append(p)
                    rows["obj"].append(o); rows["graph"].append(g)
            yield pd.DataFrame(rows)

    return expand


class SparkMaterializer:
    """Compile and run a mapping document against a source catalog."""

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 catalog: SourceCatalog, cfg: Optional[EngineConfig] = None,
                 tm_limit: Optional[int] = None,
                 tm_offset: Optional[int] = None):
        self.spark = spark
        self.mapping = mapping
        self.catalog = catalog
        self.cfg = cfg or EngineConfig()
        # per-triples-map source row limit/offset — the reference's
        # datatranslation.limit/offset config (MorphProperties.scala:218-219,
        # applied as "LIMIT x OFFSET y" in SQLQuery.scala:392,410):
        # OFFSET skips first, LIMIT caps what remains
        self.tm_limit = tm_limit
        self.tm_offset = tm_offset
        self._rom_bases: dict[str, int] = {}
        base = 0
        for name, tm in mapping.triples_maps.items():
            self._rom_bases[name] = base
            base += sum(len(pom.ref_object_maps)
                        for pom in tm.predicate_object_maps)

    def triples(self, dedup: bool = True) -> DataFrame:
        """The full materialization DataFrame (subj, pred, obj, graph)."""
        out = union_all(self.spark, [self._tm_triples(tm) for tm in
                                     self.mapping.triples_maps.values()])
        if dedup:
            # prepartition (skip the map-side partial aggregate) when NO
            # triples map has an iterator: iterator re-emission is the
            # duplicate source that is doc-local — i.e. partition-local —
            # so the partial agg only earns its hashtable there.  Without
            # iterators the stream is mostly-distinct and the partial agg
            # is pure overhead (see dedup_triples; A/B: the skew-join
            # pipeline 1.94→1.68 s, the iterator corpus unchanged).
            no_iter = not any(tm.logical_source.iterator
                              for tm in self.mapping.triples_maps.values())
            out = dedup_triples(out, prepartition=no_iter)
        return out

    # ------------------------------------------------------------------
    def _tm_triples(self, tm: TriplesMap) -> DataFrame:
        rom_base = self._rom_bases[tm.name]
        src, py_filter = self.catalog.resolve(tm.logical_source)
        if py_filter is not None and (self.tm_offset is not None
                                      or self.tm_limit is not None):
            # MongoDB slices find(f) AFTER f: filter before the slice
            src = src.mapInPandas(_make_filter_fn(py_filter), src.schema)
            py_filter = None
        if self.tm_offset is not None:
            src = src.offset(self.tm_offset)
        if self.tm_limit is not None:
            src = src.limit(self.tm_limit)
        roms = [(rom_base + i, rom)
                for i, rom in enumerate(
                    r for pom in tm.predicate_object_maps
                    for r in pom.ref_object_maps)]
        if not roms:
            # ROM-free TM: 4-column stage, no kind filter, no persist.
            # Project to content ONLY: the stage never reads the _seq
            # ordering column (it exists for ROM collection ordering),
            # and MapInPandas ships every input column through Arrow —
            # column pruning cannot reach inside the Python function
            # (guide §4.1), so drop it here
            return src.select("content").mapInPandas(
                _make_child_fn(tm, self.cfg, None, py_filter), TRIPLE_SCHEMA)
        child = src.mapInPandas(
            _make_child_fn(tm, self.cfg, rom_base, py_filter), CHILD_SCHEMA)
        # ROMs present (the ROM-free case early-returned above): the child
        # stage has two consumers (base triples + join rows) — persist so
        # the JSON-parse-heavy stage runs once; disk overflow for
        # executor-memory safety at scale.  Owned by the session: the
        # routed plan drops this materializer, and release() must still
        # reach the persist
        child = _persist(self.spark, child)

        base = child.where(F.col("kind") == 0) \
                    .select("subj", "pred", "obj", "graph")
        return union_all(self.spark, [base] + [
            self._rom_triples(child, rom_id, rom) for rom_id, rom in roms])

    def cleanup(self) -> None:
        """Unpersist the child stages the session cached for ROM reuse
        (``release``).  Call after the returned DataFrame has been
        materialized (written / collected) — long-lived sessions running
        many materializations would otherwise hold executor storage."""
        release(self.spark)

    def _rom_triples(self, child: DataFrame, rom_id: int, rom) -> DataFrame:
        """One referencing-object-map: equi-join replacing the reference's
        nested-loop set-intersection join
        (MorphMongoDataTranslator.scala:133-182)."""
        if not rom.join_conditions:
            # the reference intersects the per-condition parent-subject sets;
            # the intersection of ZERO sets is List() (GeneralUtility.
            # intersectMultipleTermSets) — a no-condition ROM yields nothing
            return union_all(self.spark, [])
        parent_tm = self.mapping.triples_maps[rom.parent_tm]
        psrc, p_pyfilter = self.catalog.resolve(parent_tm.logical_source)
        parent_refs = [jc.parent_ref for jc in rom.join_conditions]
        parent = psrc.mapInPandas(
            _make_parent_fn(parent_tm, self.cfg, rom_id, parent_refs,
                            p_pyfilter), PARENT_SCHEMA)

        # default-graph rows carry NULL; joins/groupBys must treat them as
        # equal, so use a sentinel and restore NULL at the end
        ckeys = child.where((F.col("kind") == 2) & (F.col("rom_id") == rom_id)) \
                     .select("cond_id", "key", "subj", "pred",
                             F.coalesce(F.col("graph"), F.lit("")).alias("graph"),
                             "uid")

        n_conds = len(rom.join_conditions)
        per_cond: list[DataFrame] = []
        for cond_id in range(n_conds):
            c = ckeys.where(F.col("cond_id") == cond_id) \
                     .dropDuplicates(["key", "subj", "pred", "graph", "uid"])
            p = parent.where(F.col("cond_id") == cond_id) \
                      .select("key", "psubj", "pseq", "pidx")
            joined = c.join(p, "key")
            if rom.is_collection():
                # one row per (child ctx, parent subject), earliest parent
                # pos — the position orders collection members below
                joined = joined.groupBy("uid", "subj", "pred", "graph",
                                        "psubj") \
                               .agg(F.min(F.struct("pseq", "pidx"))
                                    .alias("ppos"))
            else:
                # plain ROM: the parent position is never used — dedup on
                # the five key columns directly.  Same rows, but a
                # HashAggregate instead of the SortAggregate that
                # min(struct(...)) forces (a full sort of the join output)
                joined = joined.dropDuplicates(
                    ["uid", "subj", "pred", "graph", "psubj"])
            per_cond.append(joined)

        # AND across join conditions = parent-subject set intersection
        # (GeneralUtility.intersectMultipleTermSets)
        result = per_cond[0]
        for other in per_cond[1:]:
            result = result.join(
                other.select("uid", "subj", "pred", "graph", "psubj"),
                ["uid", "subj", "pred", "graph", "psubj"])

        result = result.withColumn(
            "graph", F.when(F.col("graph") == "", F.lit(None)).otherwise(F.col("graph")))
        if rom.is_collection():
            grouped = result.groupBy("uid", "subj", "pred", "graph").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        F.col("ppos.pseq").alias("pseq"),
                        F.col("ppos.pidx").alias("pidx"),
                        F.col("psubj").alias("psubj")))),
                    lambda x: x["psubj"]
                ).alias("members"))
            return grouped.select("subj", "pred", "graph", "members") \
                          .mapInPandas(_expand_rom_collections(rom.term_type),
                                       TRIPLE_SCHEMA) \
                          .select("subj", "pred", "obj", "graph")
        return result.select("subj", "pred",
                             F.col("psubj").alias("obj"), "graph")

