"""Structured-Streaming materialization.

The reference is strictly batch (MorphRunner.scala one-shot, SURVEY §2.h);
this module is the Spark-native extension: the batch engine's lean
translation stage (engine._make_child_fn_lean, the one a ROM-free triples
map runs) applies unchanged per micro-batch — mapInPandas is stateless.
Triples maps with referencing object maps are rejected with a clear
error (a stream-side join needs its parent as a static table), and no
dedup runs on the stream: exact global dedup of an unbounded stream is
unbounded state, so the batch compactor stays the source of truth for
set semantics.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

import warnings

from .engine import TRIPLE_SCHEMA, _make_child_fn_lean
from .model import MappingDocument, parse_mongo_query
from .sources import mongo_filter_to_column
from .translate import EngineConfig


def stream_triples(mapping: MappingDocument, stream_df: DataFrame,
                   cfg: Optional[EngineConfig] = None,
                   content_col: str = "content") -> DataFrame:
    """Compile the mapping against a STREAMING document DataFrame.
    Returns a streaming (subj, pred, obj, graph) DataFrame ready for
    writeStream.  Triples maps with refobjectmaps are rejected."""
    cfg = cfg or EngineConfig()
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")
    for tm in mapping.triples_maps.values():
        if any(pom.ref_object_maps for pom in tm.predicate_object_maps):
            raise ValueError(
                f"triples map {tm.name}: refobjectmaps in pure streaming "
                "mode are unsupported; parent sides must be static tables")

    src = stream_df.select(F.col(content_col).alias("content"))

    # batch-parity filtering: each TM's find({...}) filter applies to the
    # stream exactly as it would to the batch source — natively (pushed
    # into the micro-batch scan) when compilable, else inside the
    # translation stage.  One stream carries ONE collection; mappings
    # addressing several distinct collections are ambiguous here.
    colls: set[str] = set()
    parts = []
    for tm in mapping.triples_maps.values():
        tm_src = src
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
        parts.append(tm_src.mapInPandas(
            _make_child_fn_lean(tm, cfg, py_filter), TRIPLE_SCHEMA))
    if len(colls) > 1:
        warnings.warn(
            f"stream_triples: mapping addresses {len(colls)} distinct "
            f"collections {sorted(colls)} but a single stream is bound — "
            "every triples map reads the same stream; split the mapping "
            "or the stream if that is not intended", stacklevel=2)
    triples = parts[0]
    for p in parts[1:]:
        triples = triples.unionByName(p)
    return triples
