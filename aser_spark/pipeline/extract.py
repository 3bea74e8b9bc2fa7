"""The fused single-pass extractor: transcripts -> eventuality (node) and
relation (edge) instance rows, plus the per-sentence parse-coverage table.

Scale design
------------
* Relations need whole-conversation context (adjacent-sentence pairing J2 +
  connective windows), so the conversation is the group.  Instead of
  ``groupBy(conv_id).applyInPandas`` (one pandas DataFrame per tiny group —
  per-group overhead dominates at 10^11 conversations) we do ONE hash
  repartition by conv_id + sortWithinPartitions, then stream Arrow batches
  through ``mapInArrow`` with a boundary-carry buffer: whole batches are
  processed in one pass and only the conversation straddling a batch edge
  is deferred.  One shuffle total, and it is the unavoidable one.
* ``extract_graph_instances`` parses each turn exactly once and runs the
  eventuality and relation kernels in that same pass; output is the
  unified INSTANCE_SCHEMA (kind='node'|'edge'), splittable by a cheap
  filter downstream.
* Sentence memos live for one Spark task (``_sentence_cache``): a worker
  holds no memo state between tasks, so nothing needs evicting.
"""

from __future__ import annotations

from ..schemas import COVERAGE_SCHEMA, INSTANCE_SCHEMA


def _sentence_cache(mode: str = "seed"):
    """A fresh memo of sentence -> (parsed, eventualities, syntax tree);
    the tree is None in seed mode, which never builds one.

    ``mode='discourse'`` runs the v2.0 path instead: connective candidate
    scan -> clause split (constituency SBAR + separators) -> per-clause
    seed-rule re-extraction (kernel/discourse.py) — clause-level recall
    where the seed path's skip-word filter drops whole sentences.

    Transcript corpora are Zipf-skewed: a handful of head sentences ("i am
    hungry.") recur millions of times, and parse+extract is a pure function
    of the sentence text.  The reference exploits the same idea with its
    per-paragraph syntax_tree_cache (/root/reference/aser/extract/
    eventuality_extractor.py:614); here each Spark task builds one memo at
    its start and drops it when it ends, so every hot sentence is parsed
    once per task, and no worker keeps memo state from one task to the
    next.

    Contract: cached parsed dicts / eventuality records are SHARED —
    downstream code must treat them as frozen (it does: rows are built by
    reading fields only)."""
    from functools import lru_cache

    from ..kernel import extract_sentence_eventualities
    from ..nlp import parse_sentence

    if mode == "discourse":
        from ..kernel.discourse import (_sentence_clause_eventualities,
                                        sentence_connective_separators)
        from ..nlp.syntax import SyntaxTree

        @lru_cache(maxsize=16384)
        def parse_one(sentence: str):
            # render_parse=False: the kernel consumes the tree object,
            # never the PTB bracket string — skip rendering it
            p, root = parse_sentence(sentence, with_tree=True,
                                     render_parse=False)
            return p, SyntaxTree.from_root(root)

        # two-level memo: ctx = (token, pos_tag) adjacent to this
        # sentence in the conversation (or None at the edges) is the
        # ONLY document state the D2 connective classifier can see
        # (one-token boundary leak, kernel/discourse.py), so
        # (sentence, ctx) exactly keys the SEPARATOR decision — while
        # the expensive clause re-extraction depends only on
        # (sentence, separators), a far lower-cardinality key that
        # collapses the many contexts yielding identical separators.
        @lru_cache(maxsize=65536)
        def seps_one(sentence: str, prev_ctx, next_ctx):
            p, tree = parse_one(sentence)
            return sentence_connective_separators(
                p["tokens"], p["pos_tags"], tree, prev_ctx, next_ctx)

        @lru_cache(maxsize=16384)
        def clause_evs(sentence: str, sep: tuple):
            p, tree = parse_one(sentence)
            return _sentence_clause_eventualities(
                p["tokens"], p["lemmas"], p["pos_tags"],
                p["dependencies"], tree, set(sep),
                ners=p.get("ners"), mentions=p.get("mentions"))

        def one(sentence: str, prev_ctx=None, next_ctx=None):
            p, tree = parse_one(sentence)
            sep = seps_one(sentence, prev_ctx, next_ctx)
            return p, clause_evs(sentence, sep), tree

        one.parse = parse_one
        return one

    @lru_cache(maxsize=8192)
    def one(sentence: str):
        # render_parse=False: seed extraction reads tokens/lemmas/
        # pos/deps only — skip the constituency build + PTB render
        # (~20% of a seed parse)
        p = parse_sentence(sentence, render_parse=False)
        evs = extract_sentence_eventualities(
            p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"],
            ners=p.get("ners"), mentions=p.get("mentions"))
        return p, evs, None

    return one


def _conversation_stream(batches, columns, key_col="conv_id"):
    """Group sorted Arrow record batches into per-conversation row lists,
    carrying the boundary conversation across batch edges.

    Hot path: boundaries are found on the raw numpy id array and rows are
    materialized via zip over ``to_pylist`` columns (a single C call per
    column) — far cheaper than a groupby for many small groups."""
    import numpy as np

    carry_key, carry_rows = None, []
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        ids = np.asarray(rb.column(key_col).to_pylist(), dtype=object)
        arrs = [rb.column(c).to_pylist() for c in columns]
        change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        bounds = [0, *change.tolist(), n]
        for s, e in zip(bounds[:-1], bounds[1:]):
            key = ids[s]
            rows = list(zip(*(a[s:e] for a in arrs)))
            if key == carry_key:
                carry_rows.extend(rows)
                continue
            if carry_key is not None:
                yield carry_key, carry_rows
            carry_key, carry_rows = key, rows
    if carry_key is not None:
        yield carry_key, carry_rows


def _arrow_frame(rows, arrow_schema):
    """RecordBatch straight from row tuples: one typed pa.array per column.
    Skips the pandas DataFrame detour (block consolidation + the
    pandas->Arrow conversion Spark would do per yielded frame) — the
    instance payload is flat scalars, exactly Arrow's fast path."""
    import pyarrow as pa

    if not rows:
        cols = [pa.array([], type=f.type) for f in arrow_schema]
    else:
        cols = [pa.array(col, type=f.type)
                for f, col in zip(arrow_schema, zip(*rows))]
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _group_by_conv(df, num_partitions=None):
    """Hash-repartition by conv_id with an EXPLICIT partition count.

    Critical at scale: without it, AQE coalesces this exchange by byte size
    (a few MB of text -> 1-2 partitions) and the downstream Python UDF stage
    — which is CPU-bound, not byte-bound — serializes onto a couple of
    cores.  Explicit numPartitions pins the exchange.  Default = cores:
    each Arrow-UDF task costs ~40ms in worker handshake alone, so
    oversplitting a CPU-bound stage (the classic 2-3x rule for JVM stages)
    measurably hurts; conversations hash uniformly, so straggler risk at 1x
    is minimal.  Raise it for skewed real corpora."""
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism, 8)
    return (df.repartition(num_partitions, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx"))


def conversation_instance_rows(conv_id, turns, memo=None, mode="seed",
                               emit_turns=None):
    """Pure per-conversation kernel: ``turns`` = (turn_idx, text) pairs in
    turn order -> INSTANCE_SCHEMA tuples (node + edge rows).  ``memo`` is a
    ``_sentence_cache(mode)`` memo; None builds a fresh one for this call.

    ``emit_turns=(lo, hi)`` restricts emission to rows anchored at turns in
    ``lo <= turn_idx < hi`` while the surrounding turns still provide
    context (neighbor tokens, prev-sentence arguments, 10-raw-token
    flanks).  This is the giant-conversation split contract: a chunk
    receives its core turns plus a few carried context turns on each side,
    computes over the whole window, and emits only what it owns — node
    rows by turn, relation rows by the kernel's per-sentence anchor
    (kernel/relations.py + kernel/discourse.py ``window=``).

    This is the single source of truth for the fused extraction semantics:
    the Spark ``mapInArrow`` stage below streams conversations through it,
    and the oracle stager (aser_spark/oracle_stage.py) drives the SAME
    function from plain Python to materialize the DuckDB-verifiable
    instances table — so the driver's oracle checks every downstream
    aggregation against an input produced by identical kernel code (which
    is itself golden-parity-gated vs the reference extractor).

    ``turn_idx`` must be strictly increasing: ``(conv_id, turn_idx)`` is a
    key, and a duplicate or out-of-order turn raises ValueError naming the
    conversation and the turn instead of emitting rows from an undefined
    turn order."""
    from ..kernel import extract_paragraph_relations
    from ..nlp import split_sentences

    for (prev, _), (turn_idx, _) in zip(turns, turns[1:]):
        if turn_idx <= prev:
            raise ValueError(f"conversation {conv_id!r}: turn_idx {turn_idx} "
                             f"follows turn_idx {prev}; (conv_id, turn_idx) "
                             "must be a key, in turn order")
    if memo is None:
        memo = _sentence_cache(mode)
    out = []
    sentences, para_evs, keys, trees = [], [], [], []
    if mode == "discourse":
        # two passes: parse everything first so each sentence's one-token
        # neighbor context (the only cross-sentence state the connective
        # classifier sees) is known, then fetch memoized eventualities
        flat = [(int(turn_idx), sent_idx, sent)
                for turn_idx, text in turns
                for sent_idx, sent in enumerate(split_sentences(text))]
        parsed = [memo.parse(sent)[0] for _, _, sent in flat]
        n = len(flat)
        for i, (turn_idx, sent_idx, sent) in enumerate(flat):
            prev_ctx = next_ctx = None
            if i > 0 and parsed[i - 1]["tokens"]:
                pp = parsed[i - 1]
                prev_ctx = (pp["tokens"][-1], pp["pos_tags"][-1])
            if i + 1 < n and parsed[i + 1]["tokens"]:
                np_ = parsed[i + 1]
                next_ctx = (np_["tokens"][0], np_["pos_tags"][0])
            res = memo(sent, prev_ctx, next_ctx)
            sentences.append(res[0])
            para_evs.append(res[1])
            trees.append(res[2])
            keys.append((turn_idx, sent_idx))
    else:
        for turn_idx, text in turns:
            for sent_idx, sent in enumerate(split_sentences(text)):
                res = memo(sent)
                sentences.append(res[0])
                para_evs.append(res[1])
                trees.append(res[2])
                keys.append((int(turn_idx), sent_idx))
    if emit_turns is None:
        s_lo, s_hi = 0, len(keys)
    else:
        lo, hi = emit_turns
        s_lo = next((k for k, (t, _) in enumerate(keys) if t >= lo), len(keys))
        s_hi = next((k for k, (t, _) in enumerate(keys) if t >= hi), len(keys))
    for (turn_idx, sent_idx), evs in zip(keys[s_lo:s_hi], para_evs[s_lo:s_hi]):
        for e in evs:
            w = e["words"]
            out.append((
                "node", conv_id, turn_idx, sent_idx, e["eid"],
                e["pattern"], " ".join(w), " ".join(e["pos_tags"]),
                " ".join(w[i] for i in e["skeleton_word_indices"]),
                " ".join(w[i] for i in e["verb_indices"]),
                e["position"], e["frequency"],
                None, None, None, None,
                " ".join(e.get("ners") or ["O"] * len(w)),
            ))
    win = None if emit_turns is None else (s_lo, s_hi)
    if mode == "discourse":
        from ..kernel.discourse import extract_paragraph_relations_discourse

        rel_rows = extract_paragraph_relations_discourse(
            sentences, para_evs, trees, window=win)
    else:
        rel_rows = extract_paragraph_relations(sentences, para_evs, window=win)
    for hid, tid, sense, wt in rel_rows:
        out.append((
            "edge", conv_id, None, None, None, None, None, None,
            None, None, None, None, hid, tid, sense, wt, None,
        ))
    return out


def extract_graph_instances(transcripts, num_partitions=None, pre_grouped=False,
                            mode="seed", max_turns=None, context_turns=2):
    """Fused flagship pass: transcripts -> unified node+edge instance rows.

    One shuffle (repartition by conv_id), one parse per turn, kernel
    extraction + in-conversation relation pairing in the same UDF —
    the Spark analog of the reference worker loop
    (/root/reference/aser/extract/utils.py:538-620) with the partial-dict
    merge replaced by downstream hash aggregation.

    ``pre_grouped=True`` skips the exchange entirely for input whose
    partitions already hold each conversation contiguously in turn order —
    the layout an Iceberg table written ``bucket(conv_id), sorted by
    (conv_id, turn_idx)`` gives every scan for free (and what the built-in
    generator emits).  The whole pipeline is then shuffle-free up to the
    final aggregations.

    ``max_turns`` is the skew guard for untrusted corpora: keyed by
    conv_id alone, a pathological million-turn conversation is ONE task.
    With ``max_turns=m`` each conversation is split into rank-range chunks
    ``chunk = rank div m`` — rank = the dense per-conversation position of
    the turn (``row_number() over (partition by conv_id order by
    turn_idx)``), NOT the raw turn_idx value, so gapped or sparse turn
    indices (exactly the untrusted corpora the guard targets) still chunk
    into full m-turn groups with the true previous/next turns as carried
    context.  The rank itself is computed in TWO PHASES so that no task
    anywhere in the plan scales with the pathological conversation's
    length (a naive ``Window.partitionBy(conv_id)`` rank would): a
    bucket-local row_number inside bounded (conv_id, turn_idx div 4096)
    partitions, plus prefix-summed per-bucket counts over a tiny
    one-row-per-bucket table, joined back on the co-partitioned bucket
    key — the pack_documents distributed-prefix-sum shape.  The guard is
    opt-in, and a value-based chunking is silently WRONG on gaps (a chunk
    boundary would separate a turn from its actual predecessor, changing
    the kernel's prev-sentence context).  The
    exchange keys on (conv_id, chunk), so per-task work is bounded by
    ``m + 2*context_turns`` turns no matter the conversation length.
    Each chunk also receives COPIES of the last
    ``context_turns`` turns of the previous chunk and the first
    ``context_turns`` of the next (one extra exchange row per boundary
    turn — no extra shuffle stage), and the kernel computes over the whole
    window but emits only rows anchored in the core range
    (``conversation_instance_rows(emit_turns=...)``), so a split
    conversation yields byte-identical rows.  Exactness needs the carried
    context to cover what the kernel actually reads across a boundary —
    seed mode: the previous sentence; discourse mode: the previous
    sentence, 1-token neighbors, and 10-raw-token flanks — which
    ``context_turns=2`` covers whenever two adjacent turns jointly contain
    >=2 sentences and >=10 tokens + the boundary sentence (any realistic
    transcript; raise it for corpora of one-word turns).

    Precondition (every path): ``(conv_id, turn_idx)`` is a key.  A
    duplicate turn index would leave the within-turn order undefined (the
    conversation stream sorts by turn_idx only), so the task that sees it
    fails with the ValueError of ``conversation_instance_rows``; on the
    ``pre_grouped`` path a conversation out of turn order fails the same
    way.  Under the guard, the rank stage fails on a duplicate.
    Deduplicate or re-index malformed corpora first.
    """
    from pyspark.sql import functions as F

    cols = ["turn_idx", "text"]

    def run_whole(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(INSTANCE_SCHEMA)
        memo = _sentence_cache(mode)  # one memo per task
        out = []
        for conv_id, rows in _conversation_stream(batches, cols):
            out.extend(conversation_instance_rows(conv_id, rows, memo, mode))
            if len(out) >= 16384:
                yield _arrow_frame(out, arrow_schema)
                out = []
        yield _arrow_frame(out, arrow_schema)

    narrow = transcripts.select("conv_id", "turn_idx", "text")
    if max_turns is None:
        grouped = narrow if pre_grouped else _group_by_conv(narrow, num_partitions)
        return grouped.mapInArrow(run_whole, schema=INSTANCE_SCHEMA)

    m, k = int(max_turns), int(context_turns)
    if m <= 0 or k < 0 or k >= m:
        raise ValueError(f"need max_turns > context_turns >= 0, got {m}, {k}")

    def run_chunks(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(INSTANCE_SCHEMA)
        memo = _sentence_cache(mode)  # one memo per task
        out = []
        chunk_cols = ["rk", "turn_idx", "text"]
        for gkey, rows in _conversation_stream(batches, chunk_cols,
                                               key_col="gkey"):
            conv_id, _, chunk = gkey.rpartition("\x00")
            lo = int(chunk) * m
            # core = ranks in [lo, lo+m); ranks map monotonically onto
            # turn_idx, so the core is a contiguous turn-value range and
            # the existing emit_turns contract applies unchanged
            lo_t = next((t for r, t, _ in rows if r >= lo), None)
            if lo_t is None:  # boundary-context-only group (conv ends at m)
                continue
            hi_t = next((t for r, t, _ in rows if r >= lo + m),
                        rows[-1][1] + 1)
            out.extend(conversation_instance_rows(
                conv_id, [(t, x) for _, t, x in rows], memo, mode,
                emit_turns=(lo_t, hi_t)))
            if len(out) >= 16384:
                yield _arrow_frame(out, arrow_schema)
                out = []
        yield _arrow_frame(out, arrow_schema)

    from pyspark.sql import Window

    # TWO-PHASE dense rank (the pack_documents distributed-prefix-sum
    # shape): a single `Window.partitionBy(conv_id)` rank would funnel the
    # pathological conversation's ENTIRE row set through one window task —
    # re-introducing at the rank stage exactly the unbounded task the
    # guard exists to remove (measured: the giant conv's rank task read
    # more records than the unsplit kernel task, scripts/scale_evidence.py
    # giant_conv_tasks).  Instead: (1) bucket by turn_idx VALUE range
    # (buckets are order-contiguous, so gap-safety is preserved; turn_idx
    # is unique per conversation, so a bucket holds <= rank_bucket rows),
    # (2) local row_number + bucket row-count inside the bounded
    # (conv_id, bucket) partitions — one exchange, reused by both window
    # specs and by the counts branch (ReuseExchange), (3) prefix-sum the
    # per-bucket counts over a TINY one-row-per-bucket table (the only
    # conv_id-keyed task left reads n_turns/rank_bucket count rows, not
    # turns), (4) join offsets back on the co-partitioned (conv_id,
    # bucket) key.  rank = bucket_offset + local_rank.
    rank_bucket = 4096
    bucket = F.floor(F.col("turn_idx") / rank_bucket)
    w_local = Window.partitionBy("conv_id", "_b").orderBy("turn_idx")
    # a duplicate turn_idx takes adjacent ranks in one bucket: fail here, in
    # a column the plan keeps, since with context_turns=0 a pair split at a
    # chunk boundary reaches no single kernel task
    prev = F.lag("turn_idx").over(w_local)
    lrk = F.when(prev == F.col("turn_idx"), F.raise_error(F.format_string(
        "conversation '%s': turn_idx %d follows turn_idx %d",
        F.col("conv_id"), F.col("turn_idx"), prev))
    ).otherwise(F.row_number().over(w_local) - 1)
    pre = (narrow
           .withColumn("_b", bucket)
           .withColumn("_lrk", lrk.cast("long")))
    w_off = (Window.partitionBy("conv_id").orderBy("_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    # counts via map-side-combining hash agg over the 2-column projection
    # (NOT a second big window): the exchange ships one partial row per
    # (conv, bucket) per map partition
    offsets = (narrow.select("conv_id", bucket.alias("_b"))
               .groupBy("conv_id", "_b").agg(F.count("*").alias("_cnt"))
               .select("conv_id", "_b",
                       F.coalesce(F.sum("_cnt").over(w_off),
                                  F.lit(0)).alias("_off")))
    ranked = (pre.join(offsets, ["conv_id", "_b"])
              .withColumn("rk", F.col("_off") + F.col("_lrk"))
              .drop("_b", "_lrk", "_off"))
    chunk = (F.col("rk") / m).cast("long")
    pos = F.col("rk") % m
    # one row per (target chunk) a turn participates in: its own, plus
    # context copies into the neighboring chunks near a boundary
    targets = F.array_compact(F.array(
        F.struct(chunk.alias("c")),
        F.when(pos >= m - k, F.struct((chunk + 1).alias("c"))),
        F.when((pos < k) & (chunk > 0), F.struct((chunk - 1).alias("c"))),
    ))
    exploded = (ranked
                .withColumn("_t", F.explode(targets))
                .withColumn("gkey", F.concat_ws("\x00", F.col("conv_id"),
                                                F.col("_t.c").cast("string")))
                .select("gkey", "rk", "turn_idx", "text"))
    if num_partitions is None:
        sc = narrow.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism, 8)
    grouped = (exploded.repartition(num_partitions, "gkey")
               .sortWithinPartitions("gkey", "turn_idx"))
    return grouped.mapInArrow(run_chunks, schema=INSTANCE_SCHEMA)


def turn_coverage_rows(conv_id, turn_idx, text, memo=None):
    """Pure per-turn parse-coverage kernel: EVERY sentence yields exactly
    one row — covered sentences report how many eventualities the grammar
    produced, out-of-grammar sentences degrade to a token/POS-only
    fallback row (n_eventualities=0, covered=false) instead of vanishing.
    This is the defined OOG behavior: the parser/kernel never raise on
    arbitrary text, and the coverage table makes the grammar's reach over
    a corpus measurable (fraction of covered sentences).  ``memo=None``
    builds a fresh seed memo for this call."""
    from ..nlp import split_sentences

    if memo is None:
        memo = _sentence_cache("seed")
    rows = []
    for sent_idx, sent in enumerate(split_sentences(text)):
        p, evs, _ = memo(sent)
        rows.append((conv_id, int(turn_idx), sent_idx, len(p["tokens"]),
                     " ".join(p["pos_tags"]), len(evs), bool(evs)))
    return rows


def parse_coverage(transcripts):
    """Per-sentence grammar-coverage table over a transcript corpus:
    (conv_id, turn_idx, sent_idx, n_tokens, pos_tags, n_eventualities,
    covered).  Shuffle-free ``mapInArrow`` (rows are independent per
    turn — no cross-sentence context is needed for seed-mode coverage),
    with one sentence memo per task like the extraction kernel.  The aggregate
    coverage fraction is one map-side-combining AVG over the output."""
    def run(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(COVERAGE_SCHEMA)
        memo = _sentence_cache("seed")  # one memo per task
        for rb in batches:
            out = []
            for conv_id, turn_idx, text in zip(
                    rb.column("conv_id").to_pylist(),
                    rb.column("turn_idx").to_pylist(),
                    rb.column("text").to_pylist()):
                out.extend(turn_coverage_rows(conv_id, turn_idx, text, memo))
            yield _arrow_frame(out, arrow_schema)

    return (transcripts.select("conv_id", "turn_idx", "text")
            .mapInArrow(run, schema=COVERAGE_SCHEMA))
