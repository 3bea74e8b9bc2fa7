"""The timed paths of the three workloads, written against the public
pipeline API only.

Every layer call sits in a ``Tracer.span``.  Untraced, a span only keeps
its clock readings and the plan stays lazy, so the graph-table writes pull
the whole pipeline.  Traced, a span also labels its Spark jobs
(``setJobDescription``) and materializes the layer's output at its
boundary, so each span's time and each job's task metrics belong to one
layer.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from aser_spark.pipeline import (aggregate_edges, aggregate_nodes, build_core_kg,
                                 build_lineage, extract_graph_instances,
                                 merge_into_kg, merge_lineage)
from aser_spark.pipeline.aggregate import edges_from_instances, nodes_from_instances
from aser_spark.pipeline.graph import DEFAULT_MAX_LINEAGE_SIDS, write_graph_tables


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self.counts: dict = {}

    @contextmanager
    def span(self, name: str):
        if self.enabled:
            self.spark.sparkContext.setJobDescription(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start, "end": time.perf_counter()})

    @staticmethod
    def persist(df):
        """Cache a frame that more than one consumer reads (the session is
        stopped after each rep, which drops every cache)."""
        return df if df.is_cached else df.persist()

    def boundary(self, df, count_as: str | None = None):
        """Traced: cache and count ``df`` inside the current span."""
        if not self.enabled:
            return df
        n = self.persist(df).count()
        if count_as:
            self.counts[count_as] = self.counts.get(count_as, 0) + n
        return df


def _aggregate(tr: Tracer, instances):
    ev = nodes_from_instances(instances)
    with tr.span("agg.nodes"):
        nodes = tr.boundary(aggregate_nodes(ev))
    with tr.span("agg.edges"):
        edges = tr.boundary(aggregate_edges(edges_from_instances(instances)))
    with tr.span("agg.lineage"):
        lineage = tr.boundary(build_lineage(ev, max_sids=DEFAULT_MAX_LINEAGE_SIDS))
    return nodes, edges, lineage


def build(spark, tr: Tracer, inputs: dict, out: str, mode: str) -> None:
    """transcripts -> instances -> graph tables (``out/kg``) and core KG
    (``out/core``)."""
    with tr.span("scan"):
        transcripts = tr.boundary(spark.read.parquet(inputs["transcripts"]),
                                  count_as="scan.rows")
    with tr.span("extract"):
        instances = tr.persist(extract_graph_instances(
            transcripts, pre_grouped=False, mode=mode))
        if tr.enabled:
            for kind, n in instances.groupBy("kind").count().collect():
                tr.counts[f"extract.{kind}_rows"] = n
    nodes, edges, lineage = _aggregate(tr, instances)
    nodes, edges = tr.persist(nodes), tr.persist(edges)
    with tr.span("graph.core"):
        core_nodes, core_edges = build_core_kg(nodes, edges)
        core_nodes, core_edges = tr.boundary(core_nodes), tr.boundary(core_edges)
    with tr.span("graph.write"):
        write_graph_tables(nodes, edges, lineage, f"{out}/kg")
        core_nodes.write.mode("overwrite").parquet(f"{out}/core/nodes")
        core_edges.write.mode("overwrite").parquet(f"{out}/core/edges")


def merge(spark, tr: Tracer, inputs: dict, out: str, mode: str) -> None:
    """Stored instances: build the KG of the base batch and write it
    (``out/base``), fold the held-out batch into the written KG and write
    the result (``out/kg``)."""
    with tr.span("scan"):
        base = tr.boundary(spark.read.parquet(inputs["base"]), count_as="scan.rows")
        held = tr.boundary(spark.read.parquet(inputs["held_out"]), count_as="scan.rows")
    nodes, edges, lineage = _aggregate(tr, base)
    with tr.span("graph.write"):
        write_graph_tables(nodes, edges, lineage, f"{out}/base")
    with tr.span("graph.merge"):
        stored = {t: spark.read.parquet(f"{out}/base/{t}").drop("bucket")
                  for t in ("nodes", "edges", "lineage")}
        nodes, edges = merge_into_kg(stored["nodes"], stored["edges"], held)
        nodes, edges = tr.boundary(nodes), tr.boundary(edges)
        lineage = tr.boundary(merge_lineage(stored["lineage"], held,
                                            max_sids=DEFAULT_MAX_LINEAGE_SIDS))
    with tr.span("graph.write"):
        write_graph_tables(nodes, edges, lineage, f"{out}/kg")
