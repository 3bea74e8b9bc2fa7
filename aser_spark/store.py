"""KGStore: the serving-side API over materialized graph tables — the
DataFrame re-expression of ASERKGConnection
(/root/reference/aser/database/kg_connection.py:34-918) and of the ZMQ
client commands (/root/reference/aser/client/__init__.py:104-349).

Where the reference keeps three in-memory cache modes (insert/cache/memory,
kg_connection.py:34-91), we have one: Spark's own block cache over the
bucket-clustered parquet tables (`cache=True`).  Each bucket is one sorted
run in one file, so a filter on the stored `bucket` column prunes files and
row groups by their parquet statistics on that sorted column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import queries as Q


class KGStore:
    def __init__(self, spark, workdir: str, cache: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.nodes = spark.read.parquet(f"{workdir}/nodes")
        self.edges = spark.read.parquet(f"{workdir}/edges")
        try:
            self.lineage = spark.read.parquet(f"{workdir}/lineage")
        except Exception:
            self.lineage = None
        if cache:
            self.nodes = self.nodes.cache()
            self.edges = self.edges.cache()

    # --- ASERCmd surface (aser/utils/config.py:4-16) ----------------------
    def exact_match_eventuality(self, words: list) -> DataFrame:
        return Q.exact_match_eventuality(self.nodes, words)

    def exact_match_relation(self, hid: str, tid: str) -> DataFrame:
        return Q.predict_relation(self.edges, hid, tid)

    def fetch_related_eventualities(self, eid: str) -> DataFrame:
        return Q.related_eventualities(self.nodes, self.edges, eid)

    def partial_match(self, words: list, k: int = 10) -> DataFrame:
        return Q.partial_match_top_k(self.nodes, words, k)

    def sentences_of(self, eid: str) -> DataFrame:
        """Provenance lookup via the S6 inverted index."""
        if self.lineage is None:
            raise ValueError("lineage table not materialized")
        return (self.lineage.filter(F.col("eid") == eid)
                .select(F.explode("sids").alias("sid")))

    # --- maintenance -------------------------------------------------------
    def merge_from(self, other: "KGStore"):
        """U1 union-merge with another store (frequencies/weights summed)."""
        from .pipeline.graph import merge_kgs

        return merge_kgs([self.nodes, other.nodes], [self.edges, other.edges])

    def core(self, freq_threshold: float = 2.0, weight_threshold: float = 0.0):
        from .pipeline.graph import build_core_kg

        return build_core_kg(self.nodes, self.edges, freq_threshold, weight_threshold)

    def stats(self) -> dict:
        n = self.nodes.agg(F.count("*").alias("n"),
                           F.sum("frequency").alias("mass")).collect()[0]
        e = self.edges.agg(F.count("*").alias("n"),
                           F.sum("weight").alias("mass")).collect()[0]
        return {"n_nodes": n["n"], "node_mass": n["mass"],
                "n_edges": e["n"], "edge_mass": e["mass"]}
