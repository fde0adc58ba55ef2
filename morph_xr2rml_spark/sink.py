"""Triple sink with checkpoint/resume.

The output is a parquet triple table partitioned by triples map — the
natural resume unit: a rerun after a crash skips every triples map whose
manifest entry is committed and recomputes only the rest (north rule:
"resumable from checkpoint with per-partition lineage + metrics").
Within a job, Spark's own task retry covers partition-level failures;
across jobs, the manifest covers triples-map-level completion, and each
entry records the per-input-partition lineage metrics for audit.

The reference holds the whole graph in one in-memory Jena model and
serializes at the end (MorphBaseMaterializer.scala:220-247) — no
resumability at any scale; this replaces it.

N-Triples text export mirrors the reference's file output mode
(MorphBaseMaterializer.scala:37-68, Turtle/N-Triples syntaxes).
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .engine import SparkMaterializer, dedup_triples
from .lineage import partition_metrics
from .model import MappingDocument
from .sources import SourceCatalog
from .translate import EngineConfig


def _safe_name(tm_name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", tm_name.lstrip("#"))


class ResumableMaterializer:
    """Materialize per triples map into <out_path>/tm=<name>/ with a
    manifest at <out_path>/_manifest.json."""

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 catalog: SourceCatalog, out_path: str,
                 cfg: Optional[EngineConfig] = None):
        self.spark = spark
        self.mapping = mapping
        self.catalog = catalog
        self.out_path = out_path
        self.materializer = SparkMaterializer(spark, mapping, catalog, cfg)
        self.manifest_path = os.path.join(out_path, "_manifest.json")

    # -- manifest --------------------------------------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"triples_maps": {}}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic commit marker

    # -- run ---------------------------------------------------------------
    def run(self, record_lineage: bool = True) -> dict:
        """Materialize every incomplete triples map; returns the manifest.
        Safe to re-run after a kill: completed TMs are skipped, a TM that
        died mid-write is rewritten (parquet overwrite is atomic per dir +
        the manifest entry is only committed after a successful write)."""
        manifest = self._load_manifest()
        done = manifest["triples_maps"]
        for name, tm in self.mapping.triples_maps.items():
            key = _safe_name(name)
            if done.get(key, {}).get("complete"):
                continue
            t0 = time.time()
            try:
                # count the rows as they are written: no parquet re-read
                written = Observation()
                triples = dedup_triples(self.materializer._tm_triples(tm)) \
                    .observe(written, F.count(F.lit(1)).alias("n"))
                triples.write.mode("overwrite").parquet(
                    os.path.join(self.out_path, f"tm={key}"))
                entry = {
                    "complete": True,
                    "triples": written.get["n"],
                    "seconds": round(time.time() - t0, 3),
                    "source": tm.logical_source.source_id(),
                }
                if record_lineage:
                    src, _pyf = self.catalog.resolve(tm.logical_source)
                    entry["input_partitions"] = [
                        row.asDict()
                        for row in partition_metrics(src).collect()]
                done[key] = entry
                self._save_manifest(manifest)
            finally:
                # the TM's ROM child stage is cached for this TM alone
                self.materializer.cleanup()
        return manifest

    def triples(self) -> DataFrame:
        """Read back the materialized triple table."""
        return self.spark.read.parquet(os.path.join(self.out_path, "tm=*"))


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Export as N-Triples text (one line per triple, graph ignored —
    named graphs aren't serializable in the reference either,
    MorphBaseMaterializer.scala:79-80)."""
    (triples.select(F.concat_ws(" ", F.col("subj"), F.col("pred"),
                                F.col("obj"), F.lit("."))
                    .alias("value"))
            .write.mode("overwrite").text(path))
