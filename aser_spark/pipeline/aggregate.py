"""Graph aggregation: instance rows -> weighted nodes/edges (+ lineage).

A1/A2 of SURVEY.md §2.5 — the reference's per-worker dict merge + driver
merge (/root/reference/aser/extract/utils.py:584-618,
aser/pipe/__init__.py:174-205) becomes Spark partial/final hash aggregation.

Skew: head eventualities ("i be hungry") are Zipf-hot keys.  Plain
sum()/first() aggregates already combine map-side, but the lineage
``collect_list`` (S6 inverted index) and any non-combining payload do NOT —
so those go through an explicit two-phase SALTED aggregation:
groupBy(key, salt) partial -> groupBy(key) final, with salt =
pmod(xxhash64(conv_id), n_salts) so one hot eid fans across n_salts
reducers first.  This is the north-star-mandated pattern; at 10^12 turns a
single-reducer hot key is the difference between hours and never finishing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.relations import rid_of  # noqa: F401  (re-exported for queries)

DEFAULT_SALTS = 32


def nodes_from_instances(instances: DataFrame) -> DataFrame:
    return instances.filter(F.col("kind") == "node").select(
        "conv_id", "turn_idx", "sent_idx", "eid", "pattern", "words",
        "pos_tags", "skeleton_words", "verbs", "frequency", "ners",
    )


def edges_from_instances(instances: DataFrame) -> DataFrame:
    return instances.filter(F.col("kind") == "edge").select(
        "conv_id", "hid", "tid", "sense", "weight",
    )


def aggregate_nodes(ev_instances: DataFrame) -> DataFrame:
    """eid -> canonical payload + summed frequency.

    Payload columns are functionally determined by eid (the eid hashes the
    rendered dependencies + words + pos_tags), so any_value is exact, not a
    heuristic; sum/any_value combine map-side, which already neutralizes
    hot-key skew for this aggregate.
    """
    return (
        ev_instances
        .select("eid", "pattern", "words", "pos_tags", "frequency",
                "skeleton_words", "verbs")
        .groupBy("eid")
        .agg(
            F.any_value(F.col("pattern")).alias("pattern"),
            F.any_value(F.col("words")).alias("words"),
            F.any_value(F.col("pos_tags")).alias("pos_tags"),
            F.any_value(F.col("skeleton_words")).alias("skeleton_words"),
            F.any_value(F.col("verbs")).alias("verbs"),
            F.sum("frequency").alias("frequency"),
        )
    )


def aggregate_edges(rel_instances: DataFrame) -> DataFrame:
    """(hid, tid, sense) -> summed weight, with rid = sha1(hid$tid)
    (aser/relation.py:37-50) computed JVM-side."""
    return (
        rel_instances
        .groupBy("hid", "tid", "sense")
        .agg(F.sum("weight").alias("weight"))
        .withColumn("rid", F.sha1(F.concat_ws("$", F.col("hid"), F.col("tid"))))
        .select("rid", "hid", "tid", "sense", "weight")
    )


def build_lineage(ev_instances: DataFrame, n_salts: int = DEFAULT_SALTS,
                  max_sids: int | None = None) -> DataFrame:
    """S6 inverted index: eid -> sentence ids, via SALTED two-phase
    collect (collect_list has no map-side combine; a hot eid would funnel
    every occurrence through one reducer otherwise).

    ``max_sids``: bounded-lineage mode for Zipf-headed corpora — keep the
    deterministic min-``max_sids`` sids per eid (ascending sid order)
    while ``n_mentions`` stays EXACT via the summed counts.  This is the
    shape that survives a 10^12-frequency head eventuality: an UNBOUNDED
    per-key array must materialize every occurrence in one final task no
    matter how the first phase is salted (measured in
    scripts/scale_evidence.py skew), whereas the capped final merge is
    O(n_salts * max_sids) per key regardless of skew.  Full provenance
    stays queryable as the flat (eid, sid) relation itself — an array
    column is the wrong representation for it at head-key scale."""
    sid = F.concat_ws("|", "conv_id", "turn_idx", "sent_idx").alias("sid")
    salted = ev_instances.select(
        "eid", sid,
        F.pmod(F.xxhash64("conv_id"), F.lit(n_salts)).alias("_salt"),
    )

    def cap(sids):
        if max_sids is None:
            return sids
        return F.slice(F.sort_array(sids), 1, int(max_sids))

    partial = salted.groupBy("eid", "_salt").agg(
        cap(F.collect_set("sid")).alias("sids"),
        F.count("*").alias("n"),
    )
    return partial.groupBy("eid").agg(
        cap(F.array_distinct(F.flatten(F.collect_list("sids")))).alias("sids"),
        F.sum("n").alias("n_mentions"),
    )


def node_ner_profiles(ev_instances: DataFrame) -> DataFrame:
    """F8/A1-ners: eid -> per-word-position NER counters.

    The reference Counter-merges per-position NER tags weighted by instance
    frequency when two instances of one eventuality disagree
    (/root/reference/aser/eventuality.py:66-78, :315-316).  Columnar
    re-expression: explode (eid, position, tag), two-phase hash aggregation
    (map-side combining), reassemble an array of (tag -> weight) maps
    ordered by word position.  Kept as a SIDE TABLE rather than a node
    payload column: ner profiles are the only non-eid-functional payload,
    and a separate narrow aggregate keeps the hot node path free of map
    columns."""
    toks = F.posexplode(F.split(F.col("ners"), " ")).alias("pos", "tag")
    per_tag = (
        ev_instances.filter(F.col("ners").isNotNull())
        .select("eid", "frequency", toks)
        .groupBy("eid", "pos", "tag")
        .agg(F.sum("frequency").alias("w"))
    )
    per_pos = per_tag.groupBy("eid", "pos").agg(
        F.sort_array(F.collect_list(F.struct("tag", "w"))).alias("entries"))
    # maps are not orderable -> sort (pos, entries-array) structs, build the
    # map per position afterwards
    return per_pos.groupBy("eid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "entries"))),
            lambda s: F.map_from_entries(s["entries"]),
        ).alias("ner_profile"))


def salted_sum(df: DataFrame, keys: list, value_col: str, salt_col: str,
               n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Generic two-phase salted sum for skewed keys (exposed as its own
    operator; used by tests and available for custom rollups)."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salts)))
    partial = salted.groupBy(*keys, "_salt").agg(F.sum(value_col).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(value_col))
