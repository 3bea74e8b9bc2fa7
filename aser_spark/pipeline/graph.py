"""KG materialization: core filtering, dangling-edge semi-join, wide edges,
and bucket-clustered table writes (SURVEY.md F6/J4/U1-U3, §3.1 steps 5-6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .aggregate import (aggregate_edges, aggregate_nodes, build_lineage,
                        edges_from_instances, nodes_from_instances)
from ..kernel.relations import RELATION_SENSES

# reference defaults: /root/reference/aser/utils/config.py:102-105
EVENTUALITY_FREQ_THRESHOLD = 2.0
RELATION_WEIGHT_THRESHOLD = 0.0


DEFAULT_MAX_LINEAGE_SIDS = 64


def build_knowledge_graph(instances: DataFrame,
                          max_sids: int | None = DEFAULT_MAX_LINEAGE_SIDS):
    """instances -> (nodes, edges, lineage) DataFrames (full KG).

    Lineage is BOUNDED by default (min-``max_sids`` sids per eid,
    ``n_mentions`` exact): an unbounded per-eid sid array is the wrong
    representation for a Zipf head key — at 10^12 mentions the array
    itself is the reducer OOM, however the first phase is salted.  Full
    provenance remains queryable as the flat (eid, sid) instance relation;
    pass ``max_sids=None`` for the unbounded array when the corpus is
    known to be small."""
    ev = nodes_from_instances(instances)
    rel = edges_from_instances(instances)
    return (aggregate_nodes(ev), aggregate_edges(rel),
            build_lineage(ev, max_sids=max_sids))


def build_core_kg(nodes: DataFrame, edges: DataFrame,
                  freq_threshold: float = EVENTUALITY_FREQ_THRESHOLD,
                  weight_threshold: float = RELATION_WEIGHT_THRESHOLD):
    """Threshold filter + dangling-edge removal
    (/root/reference/aser/pipe/__init__.py:240-268).

    The semi-joins shuffle only eids; at production scale the filtered node
    set is orders of magnitude smaller than edges, and AQE converts these to
    broadcast joins automatically when it fits.
    """
    core_nodes = nodes.filter(F.col("frequency") >= F.lit(freq_threshold))
    kept = core_nodes.select("eid")
    # the reference thresholds the RELATION's aggregate weight — the
    # per-(hid,tid) sum over ALL senses (relation_counter[rid] accumulates
    # sum(relation.relations.values()), aser/pipe/__init__.py:186,259) —
    # and >= matches its boundary (it drops weight < threshold).  The pair
    # aggregation is skipped at threshold 0 (instance weights are positive,
    # so every pair passes) to avoid a needless (hid,tid) shuffle.
    if weight_threshold > 0:
        kept_pairs = (
            edges.groupBy("hid", "tid")
            .agg(F.sum("weight").alias("_pair_weight"))
            .filter(F.col("_pair_weight") >= F.lit(weight_threshold))
            .select("hid", "tid")
        )
        edges = edges.join(kept_pairs, ["hid", "tid"], "left_semi")
    core_edges = (
        edges
        .join(kept.withColumnRenamed("eid", "hid"), "hid", "left_semi")
        .join(kept.withColumnRenamed("eid", "tid"), "tid", "left_semi")
    )
    return core_nodes, core_edges


def edges_wide(edges: DataFrame) -> DataFrame:
    """Long (hid,tid,sense,weight) -> one row per pair with 15 sense
    columns — the reference's Relations table layout
    (/root/reference/aser/database/kg_connection.py:21-23)."""
    return (
        edges.groupBy("hid", "tid")           # natural key; rid recomputed
        .pivot("sense", list(RELATION_SENSES))
        .agg(F.sum("weight"))
        .na.fill(0.0, list(RELATION_SENSES))
        .withColumn("rid", F.sha1(F.concat_ws("$", F.col("hid"), F.col("tid"))))
        .select("rid", "hid", "tid", *RELATION_SENSES)
    )


def merge_kgs(node_dfs: list, edge_dfs: list):
    """U1 multi-KG union-merge (examples/database/merge_kgs.py:33-60):
    union + re-aggregate, frequencies/weights summed and rid recomputed."""
    nodes = reduce(DataFrame.unionByName, node_dfs)
    edges = reduce(DataFrame.unionByName, edge_dfs)
    return aggregate_nodes(nodes), aggregate_edges(edges)


def merge_into_kg(nodes: DataFrame, edges: DataFrame,
                  new_instances: DataFrame):
    """Incremental KG update: fold a batch of NEW instance rows into an
    existing (nodes, edges) KG — the Spark re-expression of the reference's
    insert/update split (``frequency +=`` / ``weight +=`` upserts,
    /root/reference/aser/database/kg_connection.py:315-341, and the
    KG ``+=`` merge :257-298).

    Shape: aggregate the DELTA first (it is typically orders of magnitude
    smaller than the accumulated KG), then ONE co-keyed full-outer join per
    table.  Existing rows pass through with their payload untouched —
    payload columns are eid-functional, so ``coalesce(old, new)`` is exact —
    and only the additive measures (frequency / weight) combine.  This is
    the MERGE-INTO plan rather than union+re-aggregate: the big side is
    joined on its own primary key, so with the KG stored as an Iceberg
    ``bucket(eid)``/``bucket(hid)`` table and storage-partitioned join
    enabled, it is read WITHOUT a shuffle and only the small delta is
    exchanged (the parquet directory write_graph_tables leaves carries no
    bucket spec, so Spark shuffles both sides).  Union+re-aggregate
    (merge_kgs) would re-shuffle and re-hash the full accumulated KG —
    wrong at 100 TB where the KG is large and each incremental batch is
    small.

    Exactness invariant (driver-checked by the ``kg_incremental_merge``
    oracle query and pytest): ``merge_into_kg(build(A), instances(B)) ==
    build(A ∪ B)`` bit-for-bit — frequencies/weights are sums, and the
    instance weights here are dyadic rationals, so addition order cannot
    change the result.
    """
    delta_nodes = aggregate_nodes(nodes_from_instances(new_instances))
    delta_edges = aggregate_edges(edges_from_instances(new_instances))

    payload = ("pattern", "words", "pos_tags", "skeleton_words", "verbs")
    merged_nodes = (
        nodes.alias("o").join(delta_nodes.alias("n"), "eid", "full_outer")
        .select(
            "eid",
            *[F.coalesce(F.col(f"o.{c}"), F.col(f"n.{c}")).alias(c)
              for c in payload],
            (F.coalesce(F.col("o.frequency"), F.lit(0.0))
             + F.coalesce(F.col("n.frequency"), F.lit(0.0))).alias("frequency"),
        )
    )
    merged_edges = (
        edges.select("hid", "tid", "sense", "weight").alias("o")
        .join(delta_edges.select("hid", "tid", "sense", "weight").alias("n"),
              ["hid", "tid", "sense"], "full_outer")
        .select(
            "hid", "tid", "sense",
            (F.coalesce(F.col("o.weight"), F.lit(0.0))
             + F.coalesce(F.col("n.weight"), F.lit(0.0))).alias("weight"),
        )
        .withColumn("rid", F.sha1(F.concat_ws("$", F.col("hid"), F.col("tid"))))
        .select("rid", "hid", "tid", "sense", "weight")
    )
    return merged_nodes, merged_edges


def merge_lineage(lineage: DataFrame, new_instances: DataFrame,
                  max_sids: int | None = DEFAULT_MAX_LINEAGE_SIDS,
                  n_salts: int = 32) -> DataFrame:
    """Incremental update for the S6 inverted lineage index, completing
    merge_into_kg's table set.  Same MERGE-INTO shape: the delta batch is
    salted-aggregated first (build_lineage), then one full-outer join on
    eid.  Bounded mode stays exact under composition because the min-K of
    a union is contained in the union of the min-Ks:
    ``min-K(S ∪ T) ⊆ min-K(S) ∪ min-K(T)``, so re-slicing the merged
    arrays reproduces ``build_lineage(A ∪ B)`` bit-for-bit, and
    ``n_mentions`` is a plain sum.  The per-key merge cost is
    O(2*max_sids) regardless of skew — the same head-key-survivable bound
    as the base operator."""
    delta = build_lineage(nodes_from_instances(new_instances),
                          n_salts=n_salts, max_sids=max_sids)
    merged_sids = F.array_distinct(F.concat(
        F.coalesce(F.col("o.sids"), F.array()),
        F.coalesce(F.col("n.sids"), F.array())))
    if max_sids is not None:
        merged_sids = F.slice(F.sort_array(merged_sids), 1, int(max_sids))
    return (
        lineage.alias("o").join(delta.alias("n"), "eid", "full_outer")
        .select(
            "eid", merged_sids.alias("sids"),
            (F.coalesce(F.col("o.n_mentions"), F.lit(0))
             + F.coalesce(F.col("n.n_mentions"), F.lit(0))).alias("n_mentions"),
        )
    )


def write_graph_tables(nodes: DataFrame, edges: DataFrame, lineage: DataFrame,
                       workdir: str, n_buckets: int = 64, mode: str = "overwrite"):
    """Materialize the graph tables as bucket-clustered parquet files.

    Each row carries ``bucket = pmod(xxhash64(key), n_buckets)`` (int; key
    = eid for nodes and lineage, hid for edges).  ``repartition(bucket)``
    sends every bucket to one task and the sort makes it one contiguous run
    in that task's file, so a bucket never spans two files and a filter on
    ``bucket`` prunes by parquet min/max statistics.  There is no
    directory per bucket: every file costs fixed CPU whatever its size, so
    AQE sizes the file count to the data (one per table on a small KG, at
    most ``n_buckets``).  With an Iceberg catalog, swap in
    ``writeTo(...).partitionedBy(bucket(n_buckets, key))``.
    """
    for frame, key, table in ((nodes, "eid", "nodes"), (edges, "hid", "edges"),
                              (lineage, "eid", "lineage")):
        bucket = F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
        (frame.withColumn("bucket", bucket)
              .repartition("bucket").sortWithinPartitions("bucket")
              .write.mode(mode).parquet(f"{workdir}/{table}"))
