"""Structured-Streaming materialization.

The reference is strictly batch (MorphRunner.scala one-shot, SURVEY §2.h);
this module is the Spark-native extension: the same compiled translation
stage runs on a streaming DataFrame (mapInPandas is stateless, so it
applies unchanged per micro-batch), with:

  - stream-static referencing-object-map joins (parent side read as a
    static table — supported Spark join shape); stream-stream ROM joins
    are rejected with a clear error;
  - optional deduplication within a watermark
    (``dropDuplicatesWithinWatermark``) — exact global dedup on an
    unbounded stream is unbounded state, so the batch compactor stays the
    source of truth for set semantics;
  - windowed triple-rate metrics for monitoring.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

import warnings

from .engine import CHILD_SCHEMA, _make_child_fn
from .model import MappingDocument, TriplesMap, parse_mongo_query
from .sources import mongo_filter_to_column
from .translate import EngineConfig


def stream_triples(mapping: MappingDocument, stream_df: DataFrame,
                   cfg: Optional[EngineConfig] = None,
                   content_col: str = "content",
                   event_time_col: Optional[str] = None,
                   watermark: Optional[str] = None,
                   dedup: bool = False) -> DataFrame:
    """Compile the mapping against a STREAMING document DataFrame.
    Returns a streaming (subj, pred, obj, graph[, event_time]) DataFrame
    ready for writeStream.  Triples maps with refobjectmaps are rejected
    (stream-side joins need the parent as a static table — use
    ``stream_triples_with_static_parents``)."""
    cfg = cfg or EngineConfig()
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")
    for tm in mapping.triples_maps.values():
        if any(pom.ref_object_maps for pom in tm.predicate_object_maps):
            raise ValueError(
                f"triples map {tm.name}: refobjectmaps in pure streaming "
                "mode are unsupported; parent sides must be static tables")

    # _seq orders RDF-list members in ROM joins; pure streaming rejects
    # ROMs above, and monotonically_increasing_id is illegal on streams —
    # a constant is sufficient here
    src = stream_df.select(
        F.col(content_col).alias("content"),
        (F.col(event_time_col) if event_time_col else F.current_timestamp())
        .alias("_etime"),
        F.lit(0).cast("long").alias("_seq"))

    # batch-parity filtering: each TM's find({...}) filter applies to the
    # stream exactly as it would to the batch source — natively (pushed
    # into the micro-batch scan) when compilable, else inside the
    # translation stage.  One stream carries ONE collection; mappings
    # addressing several distinct collections are ambiguous here.
    colls: set[str] = set()
    parts = []
    for tm in mapping.triples_maps.values():
        tm_src = src.select("content", "_seq")
        py_filter = None
        ls = tm.logical_source
        if ls.is_find():
            coll, filter_text = parse_mongo_query(ls.value)
            colls.add(coll)
            native_cond = mongo_filter_to_column(filter_text, "content")
            if native_cond is not None:
                tm_src = tm_src.where(native_cond)
            else:
                py_filter = filter_text
        out = (tm_src
                  .mapInPandas(_make_child_fn(tm, cfg, 0, py_filter),
                               CHILD_SCHEMA)
                  .where(F.col("kind") == 0)
                  .select("subj", "pred", "obj", "graph"))
        parts.append(out)
    if len(colls) > 1:
        warnings.warn(
            f"stream_triples: mapping addresses {len(colls)} distinct "
            f"collections {sorted(colls)} but a single stream is bound — "
            "every triples map reads the same stream; split the mapping "
            "or the stream if that is not intended", stacklevel=2)
    triples = parts[0]
    for p in parts[1:]:
        triples = triples.unionByName(p)

    if watermark:
        # re-attach processing/event time for watermarking the output
        triples = triples.withColumn("event_time", F.current_timestamp()) \
                         .withWatermark("event_time", watermark)
        if dedup:
            triples = triples.dropDuplicatesWithinWatermark(
                ["subj", "pred", "obj", "graph"])
    return triples


def triple_rate_metrics(triples_stream: DataFrame,
                        window: str = "1 minute") -> DataFrame:
    """Windowed triples/predicate counts — the monitoring aggregation
    (watermark + window; late data folded per watermark semantics)."""
    withtime = triples_stream if "event_time" in triples_stream.columns \
        else triples_stream.withColumn("event_time", F.current_timestamp())
    return (withtime
            .withWatermark("event_time", window)
            .groupBy(F.window("event_time", window), F.col("pred"))
            .agg(F.count(F.lit(1)).alias("triples")))
