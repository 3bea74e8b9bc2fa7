"""Entity linking: eventuality mentions -> KB entities.

The reference links NER mentions to Wikipedia ids with acronym expansion +
surface normalization + a disjoint-set merge of coreferent surface forms
(/root/reference/aser/extract/entity_linker.py:15-80+).  Spark-first
re-expression for the north-rule's "entity linking" stage:

* candidate mentions = the skeleton nouns of each eventuality (our parser
  emits no NER spans; with a real NER the mention column simply changes);
* surface normalization (lowercase, strip punctuation) + alias expansion is
  data, not code: the KB ships an alias table (alias -> entity_id, prior);
* linking = broadcast equi-join on the normalized alias, disambiguation =
  max-prior window per mention — the whole stage is two JVM-side operators,
  no per-row Python, and the KB side is broadcast so the fact side never
  shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mention_candidates(nodes: DataFrame) -> DataFrame:
    """(eid, mention): the noun words of each eventuality."""
    full = F.arrays_zip(
        F.split(F.col("words"), " ").alias("w"),
        F.split(F.col("pos_tags"), " ").alias("t"),
    )
    nouns = F.filter(full, lambda p: p["t"].startswith("NN"))
    return (
        nodes.select("eid", F.explode(nouns).alias("m"))
        .select("eid", F.col("m.w").alias("mention"))
        .filter(F.length("mention") > 0)
        .distinct()
    )


def link_entities(nodes: DataFrame, kb_aliases: DataFrame,
                  broadcast: bool = True) -> DataFrame:
    """(eid, mention, entity_id, prior): best-prior KB link per mention.

    kb_aliases: (alias string, entity_id string, prior double).

    ``broadcast``: join-strategy control, same contract as
    probase_concepts — True (the default) HINTS broadcasting the alias
    table, right whenever it fits executor memory (entity KBs are
    usually a few-GB dimension).  For a full Wikidata-scale alias dump
    (hundreds of millions of rows), pass False: the hint would force an
    oversized broadcast, while without it Catalyst plans a shuffled join
    on the normalized alias and AQE still downgrades to broadcast at
    runtime if the KB side turns out small.  Plan-shape contract pinned
    by tests/test_plan_shapes.py."""
    cands = mention_candidates(nodes)
    # IDENTICAL normalization on both sides (case + punctuation + space
    # fold), so multi-word / punctuated KB aliases — normal in the real
    # Wikipedia/Wikidata dumps load_kb_aliases documents — stay matchable
    norm = F.lower(F.regexp_replace(F.col("mention"), r"[^\w]", ""))
    kb_norm = F.lower(F.regexp_replace(F.col("alias"), r"[^\w]", ""))
    kb = kb_aliases.withColumn("_alias", kb_norm)
    if broadcast:
        kb = F.broadcast(kb)
    joined = cands.withColumn("_alias", norm).join(kb, "_alias", "inner")
    # disambiguation = argmax(prior) with min-entity_id tie-break, encoded as
    # ONE hash aggregation min(struct(-prior, entity_id)).  Unlike the
    # row_number window this combines map-side (no sort, no single-partition
    # funnel for hot mentions) — the 100 TB-safe shape.
    best = F.min(F.struct((-F.col("prior")).alias("np"),
                          F.col("entity_id").alias("entity_id"))).alias("best")
    return (
        joined.groupBy("eid", "mention").agg(best)
        .select("eid", "mention", F.col("best.entity_id").alias("entity_id"),
                F.round(-F.col("best.np"), 6).alias("prior"))
    )


# small public English stopword list (reference uses nltk's; closed subset
# sufficient for the alias standard form)
_STOPWORDS = ("a an the of and or to in on at for with from by as is are "
              "was were be been am do does did not no").split()

_MONTH_DAY_ABBR = {
    "january": ["Jan", "Jan."], "february": ["Feb", "Feb."],
    "march": ["Mar", "Mar."], "april": ["Apr", "Apr."], "may": ["May", "May."],
    "june": ["Jun", "Jun."], "july": ["Jul", "Jul."],
    "august": ["Aug", "Aug."],
    "september": ["Sep", "Sep.", "Sept", "Sept."],
    "october": ["Oct", "Oct."], "november": ["Nov", "Nov."],
    "december": ["Dec", "Dec."],
    "sunday": ["Sun", "Sun."], "monday": ["Mon", "Mon."],
    "tuesday": ["Tue", "Tue.", "Tu", "Tu.", "Tues", "Tues."],
    "wednesday": ["Wed", "Wed."],
    "thursday": ["Thu", "Thu.", "Thur", "Thur.", "Thurs", "Thurs.", "Th", "Th."],
    "friday": ["Fri", "Fri."], "saturday": ["Sat", "Sat."],
}


def expand_mention_aliases(mentions: DataFrame,
                           mention_col: str = "mention") -> DataFrame:
    """Acronym/surface-form expansion (entity_linker.py:46-85): adds an
    ``aliases`` array — the raw phrase, its standard capitalized form
    (stopwords lowercased, content words capitalized), and month/weekday
    abbreviations.  Pure codegen expressions, no UDF.

    Intentional divergence: for month/weekday names the alias set INCLUDES
    the raw mention, while the reference's acronym() returns only the
    dotted abbreviations for time-name phrases (entity_linker.py:58-66) —
    a recall-positive choice (the surface form stays linkable) that the
    tests and the DuckDB oracle both encode."""
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    words = F.split(F.col(mention_col), " ")
    # exact acronym() fold (entity_linker.py:67-74): stopword membership
    # tests the RAW token (the nltk list is lowercase, so "The" is NOT a
    # stopword hit), and content words get cap(w.lower()) — first letter
    # upper, REST LOWERED ("NASA" -> "Nasa"), not case-preserving initcap
    standard = F.concat_ws(" ", F.transform(
        words,
        lambda w: F.when(F.array_contains(stop, w), F.lower(w))
                   .otherwise(F.concat(F.upper(F.substring(F.lower(w), 1, 1)),
                                       F.substring(F.lower(w), 2, 2 ** 30))),
    ))
    abbr = F.lit(None).cast("array<string>")
    for name, forms in _MONTH_DAY_ABBR.items():
        abbr = F.when(F.lower(F.col(mention_col)) == name,
                      F.array(*[F.lit(x) for x in forms])).otherwise(abbr)
    aliases = F.when(
        abbr.isNotNull(),
        F.array_union(F.array(F.col(mention_col)), abbr),
    ).otherwise(
        F.array_distinct(F.array(F.col(mention_col), standard))
    )
    return mentions.withColumn("aliases", aliases)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50) -> DataFrame:
    """Generic connected components: (node, component) with component = the
    ordering-minimal node label of the component.

    Delegates to large-star/small-star alternation (graphops.py) — bounded
    O(log^2 n) rounds regardless of component diameter, constant-size plans
    via per-round lineage truncation.  This replaced a min-label-propagation
    loop whose round count was the component DIAMETER and whose un-truncated
    plan depth made Catalyst re-analysis the bottleneck past ~10 rounds.
    Self-loop-only vertices are dropped (a self loop creates no vertex)."""
    from ..graphops import connected_components_star

    return connected_components_star(edges, src=src, dst=dst, max_iter=max_iter)


def coref_components(mentions: DataFrame, scope_col: str = "conv_id",
                     mention_col: str = "mention") -> DataFrame:
    """(scope, mention, component): containment-coreference clusters per
    scope — the reference's DisjointSet merge (entity_linker.py:124-160,
    str_contain :328-338).  Component label = the lexicographically
    smallest member mention; singletons keep themselves.

    Plan shape: coreference scope is a single document/conversation, so
    the graph is embarrassingly scope-local — ONE shuffle
    (groupBy(scope).applyInPandas) and a per-group union-find, no iterative
    driver loop.  Group work is O(k^2) in mentions-per-document (same as
    the reference's DisjointSet.run), bounded by document length, never by
    corpus size.  For GLOBAL entity graphs (cross-document) use
    ``connected_components`` instead."""
    import pandas as pd

    schema = f"{scope_col} string, {mention_col} string, component string"

    def run(pdf):
        ms = sorted(set(pdf[mention_col]))
        parent = list(range(len(ms)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        padded = [f" {m} " for m in ms]
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                if padded[j] in padded[i] or padded[i] in padded[j]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        # always root at the smaller index -> component
                        # label = lexicographically smallest member
                        parent[max(ri, rj)] = min(ri, rj)
        comp = [ms[find(i)] for i in range(len(ms))]
        return pd.DataFrame({scope_col: pdf[scope_col].iloc[0],
                             mention_col: ms, "component": comp})

    return mentions.groupBy(scope_col).applyInPandas(run, schema)


def link_entities_coref(mentions: DataFrame, kb_aliases: DataFrame,
                        scope_col: str = "conv_id",
                        mention_col: str = "mention") -> DataFrame:
    """The FULL reference linking pipeline composed
    (entity_linker.py:88-182): alias/acronym expansion -> candidate
    retrieval per alias (max prior per mention-entity, the reference's
    freq-max merge) -> containment-coreference within the scope ->
    candidate sets MERGED across each coref component -> best entity per
    component, assigned to every member mention.

    So "the engineer" and "engineer" in one conversation share one merged
    candidate pool and resolve to the SAME entity — the reference's
    DisjointSet person-merge, generalized to all mentions (our parser has
    no NER classes to restrict by; with real NER, filter the mentions
    input first).  Output: (scope, mention, component, entity_id, prior)."""
    aliased = (expand_mention_aliases(mentions, mention_col)
               .select(scope_col, mention_col, F.explode("aliases").alias("_raw_alias")))
    norm = F.lower(F.regexp_replace(F.col("_raw_alias"), r"[^\w]", ""))
    kb_norm = F.lower(F.regexp_replace(F.col("alias"), r"[^\w]", ""))
    cands = (
        aliased.withColumn("_alias", norm)
        .join(F.broadcast(kb_aliases.withColumn("_alias", kb_norm)),
              "_alias", "inner")
        .groupBy(scope_col, mention_col, "entity_id")
        .agg(F.max("prior").alias("prior"))
    )
    comps = coref_components(mentions, scope_col, mention_col)
    merged = (
        cands.join(comps, [scope_col, mention_col])
        .groupBy(scope_col, "component", "entity_id")
        .agg(F.max("prior").alias("prior"))
    )
    best = (
        merged.groupBy(scope_col, "component")
        .agg(F.min(F.struct((-F.col("prior")).alias("np"),
                            F.col("entity_id").alias("entity_id"))).alias("b"))
        .select(scope_col, "component", F.col("b.entity_id").alias("entity_id"),
                F.round(-F.col("b.np"), 6).alias("prior"))
    )
    return comps.join(best, [scope_col, "component"], "inner").select(
        scope_col, mention_col, "component", "entity_id", "prior")


def coref_candidate_rank(mentions: DataFrame, kb_aliases: DataFrame,
                         scope_col: str = "conv_id",
                         mention_col: str = "mention",
                         order_col: str = "ord") -> DataFrame:
    """The reference's EXACT cluster candidate merge — Entity.update's
    order-dependent pairwise-average fold (entity_linker.py:146-160;
    update(): freq = (freq + other.freq) / 2, :312-313) — re-expressed as
    ONE window + one hash aggregation.

    The reference iterates a cluster's mentions in document order and,
    per candidate entity, folds f <- (f + f_i) / 2 over the mentions that
    carry it.  That fold has a closed form over the ordered carrier
    subsequence: with n carriers, weight(1st) = 2^-(n-1) and
    weight(i>=2) = 2^-(n-i+1); merged = sum_i f_i * w_i.  So the
    imperative DisjointSet + dict loop becomes a declarative plan that
    scales with the mention table, not the driver.

    Divergence (documented): the fold basis is DISTINCT mention surfaces
    ordered by first occurrence (our set-based coref model), where the
    reference folds over every occurrence.

    mentions: (scope, mention, ord) with ``ord`` a deterministic
    first-occurrence rank.  Output: (scope, component, entity_id,
    merged_freq, rank) — rank 1 is the cluster's chosen entity."""
    from pyspark.sql import Window

    norm = F.lower(F.regexp_replace(F.col(mention_col), r"[^\w]", ""))
    kb_norm = F.lower(F.regexp_replace(F.col("alias"), r"[^\w]", ""))
    cands = (
        mentions.withColumn("_alias", norm)
        .join(F.broadcast(kb_aliases.withColumn("_alias", kb_norm)),
              "_alias", "inner")
        .groupBy(scope_col, mention_col, "entity_id")
        .agg(F.max("prior").alias("prior"),
             F.min(order_col).alias("_ord"))
    )
    comps = coref_components(
        mentions.select(scope_col, mention_col).distinct(),
        scope_col, mention_col)
    carriers = cands.join(comps, [scope_col, mention_col])
    w = Window.partitionBy(scope_col, "component", "entity_id") \
              .orderBy("_ord", mention_col)
    wn = Window.partitionBy(scope_col, "component", "entity_id")
    weighted = (
        carriers
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
        .withColumn("_w", F.when(F.col("_i") == 1,
                                 F.pow(F.lit(2.0), F.lit(1) - F.col("_n")))
                    .otherwise(F.pow(F.lit(2.0), F.col("_i") - F.col("_n") - 1)))
    )
    merged = (
        weighted.groupBy(scope_col, "component", "entity_id")
        .agg(F.round(F.sum(F.col("prior") * F.col("_w")), 6)
             .alias("merged_freq"))
    )
    rank_w = Window.partitionBy(scope_col, "component") \
                   .orderBy(F.desc("merged_freq"), F.asc("entity_id"))
    return merged.withColumn("rank", F.row_number().over(rank_w))


def entity_cooccurrence_edges(links: DataFrame) -> DataFrame:
    """KG enrichment: entities co-mentioned in one eventuality."""
    a = links.select("eid", F.col("entity_id").alias("e1"))
    b = links.select("eid", F.col("entity_id").alias("e2"))
    return (
        a.join(b, "eid")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").alias("n_cooccur"))
    )


def kb_rows() -> list:
    """Pure-Python rows of the deterministic alias KB — shared by the Spark
    DataFrame (`toy_kb`) and the oracle stager."""
    base = [
        "dog cat bird horse army boat order problem report car house coffee "
        "meeting server file test bug user answer plan team teacher engineer "
        "manager doctor lawyer farmer child friend neighbor key phone book "
        "garden kitchen office school station store letter song ticket".split()
    ][0]
    rows = []
    for i, w in enumerate(sorted(set(base))):
        eid = f"Q{1000 + i}"
        rows.append((w, eid, 0.9))
        rows.append((w + "s", eid, 0.6))          # crude plural alias
        rows.append((w.capitalize(), eid, 0.85))
    return rows


def toy_kb(spark) -> DataFrame:
    """Deterministic alias KB over the generator vocabulary (stand-in for a
    Wikipedia/Wikidata alias dump)."""
    return spark.createDataFrame(
        kb_rows(), "alias string, entity_id string, prior double")


def load_kb_aliases(spark, path: str) -> DataFrame:
    """REAL alias-dump loader (TSV: alias \\t entity_id \\t prior — the
    shape of a Wikipedia anchor-text or Wikidata alias export) -> the
    (alias, entity_id, prior) table ``link_entities`` consumes; drop-in
    for ``toy_kb``.  Missing priors default to the alias's inverse
    candidate count (uniform prior)."""
    raw = (spark.read.option("sep", "\t").csv(path)
           .toDF("alias", "entity_id", "prior")
           .withColumn("prior", F.col("prior").cast("double")))
    n_cand = raw.groupBy("alias").agg(F.count("*").alias("_n"))
    return (raw.join(n_cand, "alias")
            .select("alias", "entity_id",
                    F.coalesce(F.col("prior"), 1.0 / F.col("_n")).alias("prior")))
