"""Flagship pipeline driver: transcripts -> full KG -> core KG, with
metrics — the Spark re-expression of `aser-pipe`
(/root/reference/aser/pipe/__init__.py:121-348).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from .checkpoint import run_extraction_checkpointed
from .extract import extract_graph_instances
from .graph import build_core_kg, build_knowledge_graph, write_graph_tables


def build_kg(spark, transcripts: DataFrame, workdir: str | None = None,
             core: bool = True, n_parts: int = 64, mode: str = "seed"):
    """Run the full pipeline; returns dict of DataFrames + metrics.

    With ``workdir``: extraction is checkpointed per conversation-hash
    partition and graph tables are materialized bucket-clustered.
    Without: everything stays lazy/in-memory (test mode).
    """
    t0 = time.time()
    if workdir:
        instances = run_extraction_checkpointed(spark, transcripts, workdir,
                                                n_parts, mode=mode)
    else:
        instances = extract_graph_instances(transcripts, mode=mode)

    nodes, edges, lineage = build_knowledge_graph(instances)
    out = {"instances": instances, "nodes": nodes, "edges": edges, "lineage": lineage}
    if core:
        out["core_nodes"], out["core_edges"] = build_core_kg(nodes, edges)

    if workdir:
        write_graph_tables(nodes, edges, lineage, workdir)
        out["nodes"] = spark.read.parquet(f"{workdir}/nodes")
        out["edges"] = spark.read.parquet(f"{workdir}/edges")
        out["lineage"] = spark.read.parquet(f"{workdir}/lineage")
        metrics = {
            "n_nodes": out["nodes"].count(),
            "n_edges": out["edges"].count(),
            "wall_s": round(time.time() - t0, 2),
        }
        (spark.createDataFrame([metrics])
              .withColumn("stage", F.lit("build_kg"))
              .write.mode("append").parquet(f"{workdir}/_metrics"))
        out["metrics"] = metrics
    return out
