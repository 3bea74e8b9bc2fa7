"""Tests for textops (dedup/quality/similarity) and the KGStore/queries
serving surface, on small crafted data."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),     # exact dup
        (2, "the quick brown fox jumped over the lazy dog", "en"),    # near dup
        (3, "der schnelle braune fuchs und der hund ist nicht da", "de"),
        (4, "completely different text about spark and graphs 123", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_duplicates(spark, docs):
    from aser_spark.textops import exact_duplicates

    got = exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0].n_dups == 2 and got[0].canonical_doc_id == 0


def test_ngram_jaccard_finds_near_dup(spark, docs):
    from aser_spark.textops import ngram_jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, length_band=64).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 4) not in pairs


def test_minhash_lsh_candidates(spark, docs):
    from aser_spark.textops import lsh_candidate_pairs, minhash_signatures

    sig = minhash_signatures(docs, n=4, num_perm=16)
    assert sig.groupBy("doc_id").count().filter("count != 16").count() == 0
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sig, bands=4).collect()}
    assert (0, 1) in cands               # identical docs always collide
    assert (0, 4) not in cands


def test_simhash_near_dup_distance(spark, docs):
    from aser_spark.textops import simhash

    h = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    assert h[0] == h[1]
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[4]).count("1")
    assert ham_near < ham_far


def test_language_id(spark, docs):
    from aser_spark.textops import language_id

    got = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
    assert got[0] == "en" and got[3] == "de"


def test_cosine_topk_exact(spark):
    from aser_spark.textops import brute_force_cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = brute_force_cosine_topk(e, k=1, max_queries=4).collect()
    best = {r.qid: (r.cid, r.cos_sim) for r in got}
    assert best[0][0] == 1
    assert math.isclose(best[0][1], 1 / math.sqrt(1.01), rel_tol=1e-5)
    assert best[2][0] == 1               # (0,1) is the only non-orthogonal

    import pytest
    with pytest.raises(TypeError):
        # max_queries is REQUIRED: unbounded query side would collect the
        # whole corpus to the driver
        brute_force_cosine_topk(e, k=1)


def test_lsh_ann_agrees_with_brute_force_in_bucket(spark):
    from aser_spark.textops import lsh_ann_topk

    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = lsh_ann_topk(e, k=3, n_planes=4)
    assert got.filter("qid = cid").count() == 0
    assert got.groupBy("qid").count().agg(F.max("count")).collect()[0][0] <= 3


def test_kgstore_roundtrip(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aser_spark.datagen import transcripts_df
    from aser_spark.pipeline import build_knowledge_graph, extract_graph_instances
    from aser_spark.pipeline.graph import write_graph_tables
    from aser_spark.store import KGStore

    inst = extract_graph_instances(transcripts_df(spark, 30, seed=42))
    nodes, edges, lineage = build_knowledge_graph(inst)
    wd = str(tmp_path / "kg")
    write_graph_tables(nodes, edges, lineage, wd, n_buckets=8)

    # layout: no bucket=k/ directories; each bucket is one sorted run in
    # exactly one file; bucket is int32 pmod(xxhash64(key), 8)
    for table, key in (("nodes", "eid"), ("edges", "hid"), ("lineage", "eid")):
        path = tmp_path / "kg" / table
        assert not list(path.glob("bucket=*"))
        owner = {}
        for part in sorted(path.glob("part-*.parquet")):
            col = pq.read_table(part, columns=["bucket"]).column("bucket")
            assert col.type == pa.int32()
            values = col.to_pylist()
            assert values == sorted(values)
            for b in set(values):
                assert owner.setdefault(b, part.name) == part.name
        assert owner
        wrong = F.col("bucket") != F.pmod(F.xxhash64(key), F.lit(8))
        assert spark.read.parquet(str(path)).filter(wrong).count() == 0

    store = KGStore(spark, wd)
    st = store.stats()
    assert st["n_nodes"] == nodes.count() and st["n_edges"] == edges.count()

    hot = store.nodes.orderBy(F.desc("frequency"), "eid").limit(1).collect()[0]
    m = store.exact_match_eventuality(hot.words.split(" ")).collect()
    assert len(m) == 1 and m[0].eid == hot.eid

    pm = store.partial_match(hot.words.split(" "), k=5).collect()
    assert pm and pm[0].similarity == 1.0

    rel = store.fetch_related_eventualities(hot.eid)
    assert rel.count() >= 0
    sids = store.sentences_of(hot.eid).collect()
    assert len(sids) >= 1

    merged_nodes, merged_edges = store.merge_from(store)
    got = merged_nodes.filter(F.col("eid") == hot.eid).collect()[0]
    assert got.frequency == 2 * hot.frequency


def test_embedding_near_duplicates(spark):
    from aser_spark.textops import embedding_near_duplicates

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.001, 0.0]),   # near-dup pair
            (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_a, r.vec_b): r.cos_sim
           for r in embedding_near_duplicates(e, threshold=0.95, n_planes=2).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.999
    assert all(k == (0, 1) for k in got)


def test_banded_lsh_recall_beats_single_table(spark):
    """OR-amplification: candidates found in ANY of L tables are a superset
    of any single table's candidates, and near-identical vectors always
    collide somewhere."""
    import random

    from aser_spark.textops.similarity import lsh_candidate_vector_pairs

    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    rows = [(0, base), (1, [v + 1e-4 for v in base])]
    rows += [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(2, 50)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    multi = {(r.vec_a, r.vec_b)
             for r in lsh_candidate_vector_pairs(e, n_planes=6, n_tables=4).collect()}
    single = {(r.vec_a, r.vec_b)
              for r in lsh_candidate_vector_pairs(e, n_planes=6, n_tables=1).collect()}
    assert (0, 1) in multi                       # true near-dup never lost
    assert single <= multi                       # OR-amplification is monotone


def test_ngram_stop_gram_cutoff_keeps_near_dups(spark):
    """Stop-gram pruning drops corpus-wide grams from the join but true
    near-duplicate pairs (sharing rare grams) survive with high jaccard."""
    from aser_spark.textops import ngram_jaccard_pairs

    common = "the quick brown fox jumps over the lazy dog "
    rows = [(0, common + "unique-alpha-sequence-xyzzy"),
            (1, common + "unique-alpha-sequence-xyzzq")]
    rows += [(i, common + f"tail number {i}") for i in range(2, 30)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(d, n=3, threshold=0.5, length_band=64,
                                        max_gram_df=10).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 0.5


def test_ivf_ann_recall_and_exact_degradation(spark):
    """IVF ANN: probing ALL lists degrades to exact brute force; probing
    few lists returns a subset with high recall on clusterable data."""
    import random

    from aser_spark.textops import brute_force_cosine_topk, ivf_ann_topk

    rnd = random.Random(3)
    rows = []
    for c in range(4):                       # 4 well-separated clusters
        center = [10.0 * (1 if (c >> b) & 1 else -1) for b in range(6)]
        for i in range(12):
            rows.append((c * 12 + i,
                         [v + rnd.uniform(-0.5, 0.5) for v in center]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.qid, r.rank): r.cid
             for r in brute_force_cosine_topk(e, k=3, max_queries=48).collect()}
    full_probe = {(r.qid, r.rank): r.cid
                  for r in ivf_ann_topk(e, k=3, n_lists=4, n_probe=4).collect()}
    assert full_probe == exact               # n_probe = n_lists -> exact

    ann = {(r.qid, r.rank): r.cid
           for r in ivf_ann_topk(e, k=3, n_lists=4, n_probe=1).collect()}
    hits = sum(1 for key, cid in exact.items() if ann.get(key) == cid)
    assert hits / len(exact) >= 0.9          # same-cluster neighbors found


def test_ivf_trained_deterministic_and_recall(spark):
    """Trained-quantizer IVF: the numpy Lloyd fit is bit-deterministic
    (two runs produce identical result sets), n_probe=n_lists degrades to
    exact brute force, and 1-probe recall is high on clusterable data."""
    import random

    import numpy as np

    from aser_spark.textops import (brute_force_cosine_topk,
                                    fit_ivf_centroids, ivf_ann_topk_trained)

    rnd = random.Random(5)
    rows = []
    for c in range(4):
        center = [10.0 * (1 if (c >> b) & 1 else -1) for b in range(6)]
        for i in range(12):
            rows.append((c * 12 + i,
                         [v + rnd.uniform(-0.5, 0.5) for v in center]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    X = [r[1] for r in rows]
    C1 = fit_ivf_centroids(X, 4, n_iters=5, seed=7)
    C2 = fit_ivf_centroids(X, 4, n_iters=5, seed=7)
    assert np.array_equal(C1, C2)            # bit-identical refits

    exact = {(r.qid, r.rank): r.cid
             for r in brute_force_cosine_topk(e, k=3, max_queries=48).collect()}
    full = {(r.qid, r.rank): r.cid
            for r in ivf_ann_topk_trained(e, k=3, n_lists=4, n_probe=4,
                                          max_fit=48).collect()}
    assert full == exact                     # n_probe = n_lists -> exact

    runs = [sorted(tuple(r) for r in
                   ivf_ann_topk_trained(e, k=3, n_lists=4, n_probe=1,
                                        max_fit=48).collect())
            for _ in range(2)]
    assert runs[0] == runs[1]                # end-to-end deterministic
    ann = {(q, rk): c for q, rk, c, _ in runs[0]}
    hits = sum(1 for key, cid in exact.items() if ann.get(key) == cid)
    assert hits / len(exact) >= 0.9          # trained lists find neighbors


def test_scrub_pii_redacts_and_counts(spark):
    """PII scrub: every pattern type redacts to its typed token with the
    per-type count measured on the original text; near-miss strings
    (dates, 2-2-4 number runs, bare domains) pass through untouched."""
    from aser_spark.textops import scrub_pii

    rows = [
        (0, "write to alice.smith+tag@mail.example.co.uk today"),
        (1, "card 4111-1111-1111-1111 and 5500 0000 0000 0004 ok"),
        (2, "ssn 987-65-4320 phone 555-867-5309 ip 192.168.1.254"),
        (3, "no pii: meeting 12-34-5678 on 2026-08-18 at example.com"),
        (4, "two mails a@b.io c@d.org one ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}

    assert got[0].text == "write to <EMAIL> today"
    assert got[0].n_email == 1 and got[0].n_card == 0

    assert got[1].text == "card <CARD> and <CARD> ok"
    assert got[1].n_card == 2

    assert got[2].text == "ssn <SSN> phone <PHONE> ip <IPV4>"
    assert (got[2].n_ssn, got[2].n_phone, got[2].n_ipv4) == (1, 1, 1)

    # near-misses: 2-2-4 run is neither ssn (3-2-4) nor phone (3-3-4);
    # a date is not an ipv4; a bare domain is not an email
    assert got[3].text == rows[3][1]
    assert all(got[3][c] == 0 for c in
               ("n_email", "n_card", "n_ssn", "n_phone", "n_ipv4"))

    assert got[4].text == "two mails <EMAIL> <EMAIL> one ip <IPV4>"
    assert got[4].n_email == 2 and got[4].n_ipv4 == 1


def test_repetition_stats_known_values(spark):
    from aser_spark.textops import repetition_stats

    df = spark.createDataFrame(
        [(0, "a b a b c"),     # 5 tokens 3 distinct; bigrams 4, 3 distinct
         (1, "unique words only here"),
         (2, "x")],            # single token: bigram ratio defined as 0.0
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[0].n_tokens == 5
    assert abs(got[0].dup_token_ratio - (1 - 3 / 5)) < 1e-9
    assert abs(got[0].dup_bigram_ratio - (1 - 3 / 4)) < 1e-9
    assert got[1].dup_token_ratio == 0.0 and got[1].dup_bigram_ratio == 0.0
    assert got[2].n_tokens == 1 and got[2].dup_bigram_ratio == 0.0


def test_grouped_quantiles_matches_numpy_linear(spark):
    """Histogram + covering-row interpolation == numpy's linear
    percentile (the quantile_cont definition), for every prob including
    the 0/1 endpoints, independent of partitioning."""
    import random

    import numpy as np

    from aser_spark.textops import grouped_quantiles

    random.seed(7)
    rows = [(i, random.choice(["en", "de", "fr"]), random.randint(1, 300))
            for i in range(997)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    out = {(r["lang"], r["prob"]): r["quantile"]
           for r in grouped_quantiles(df, "n", probs).collect()}
    assert len(out) == 3 * len(probs)
    for lang in ("en", "de", "fr"):
        vals = [n for (_, l, n) in rows if l == lang]
        for p in probs:
            exp = round(float(np.percentile(vals, p * 100,
                                            method="linear")), 6)
            assert abs(out[(lang, p)] - exp) < 1e-9, (lang, p)
    alt = {(r["lang"], r["prob"]): r["quantile"]
           for r in grouped_quantiles(df.repartition(13), "n",
                                      probs).collect()}
    assert alt == out
