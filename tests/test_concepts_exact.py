"""Bit-parity of the exact heap-beam conceptualizer against the reference's
own ProbaseASERConceptualizer class, driven over identical inputs."""

import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

from validate_helpers import REFERENCE_ROOT  # noqa: E402

needs_reference = pytest.mark.skipif(
    not (REFERENCE_ROOT / "aser").is_dir(),
    reason=f"reference checkout {REFERENCE_ROOT / 'aser'} is absent")


def _load_reference_conceptualizer(probase_index, topk=3):
    from validate_helpers import _stub_module

    _stub_module("tqdm", tqdm=lambda it, **kw: it)
    if str(REFERENCE_ROOT) not in sys.path:
        sys.path.insert(0, str(REFERENCE_ROOT))
    from aser.conceptualize.aser_conceptualizer import (
        ProbaseASERConceptualizer, SeedRuleASERConceptualizer)

    pc = ProbaseASERConceptualizer.__new__(ProbaseASERConceptualizer)
    pc.seed_conceptualizer = SeedRuleASERConceptualizer()
    pc.probase_topk = topk

    class _FakeProbase:
        """ProbaseConcept.conceptualize returns the score-desc sorted
        (concept, score) list; build_probase_index stores exactly that."""

        def conceptualize(self, instance, score_method="likelihood"):
            return list(probase_index.get(instance, []))

    pc.probase = _FakeProbase()
    return pc


def _corpus_triples(n_convs=60):
    from aser_spark.oracle_stage import _instances_rows

    seen, out = set(), []
    for r in _instances_rows(n_convs, 42):
        if r[0] != "node":
            continue
        key = (r[6], r[7], r[16])  # (words, pos_tags, ners)
        if key in seen:
            continue
        seen.add(key)
        out.append(key)
    return out


@needs_reference
def test_exact_conceptualizer_matches_reference_class():
    from aser_spark.pipeline.concepts import probase_rows
    from aser_spark.pipeline.concepts_exact import (build_probase_index,
                                                    exact_concept_rows)

    index = build_probase_index(probase_rows())
    ref = _load_reference_conceptualizer(index)
    triples = _corpus_triples()
    assert len(triples) > 300

    n_multi = 0
    for words, pos_tags, ners in triples:
        toks, tags = words.split(" "), pos_tags.split(" ")
        ner_list = ners.split(" ") if ners else ["O"] * len(toks)
        ev = SimpleNamespace(skeleton_phrases=toks,
                             skeleton_phrases_ners=ner_list,
                             skeleton_pos_tags=tags)
        expected = [(str(c), s) for c, s in ref.conceptualize(ev)]
        got = [(cstr, score) for _rank, cstr, score in
               exact_concept_rows(toks, tags, ner_list, index)]
        assert got == expected, (words, got, expected)
        if len(got) > 1:
            n_multi += 1
    # the corpus must actually exercise the beam, not just the fallback
    assert n_multi > 100


@needs_reference
def test_exact_conceptualizer_heap_cut_and_order():
    """A 4-noun eventuality overflows the 27-slot heap: the reference keeps
    the 27 best (score, words) and emits them score-descending."""
    from aser_spark.pipeline.concepts import probase_rows
    from aser_spark.pipeline.concepts_exact import (build_probase_index,
                                                    exact_concept_rows)

    index = build_probase_index(probase_rows())
    words = "the teacher give the doctor a report in the office".split()
    tags = "DT NN VB DT NN DT NN IN DT NN".split()
    ners = ["O"] * len(words)
    rows = exact_concept_rows(words, tags, ners, index)
    assert len(rows) == 27
    scores = [s for _r, _c, s in rows]
    assert scores == sorted(scores, reverse=True)
    assert [r for r, _c, _s in rows] == list(range(27))
    ref = _load_reference_conceptualizer(index)
    ev = SimpleNamespace(skeleton_phrases=words, skeleton_phrases_ners=ners,
                         skeleton_pos_tags=tags)
    assert [(c, s) for _r, c, s in rows] == \
        [(str(c), s) for c, s in ref.conceptualize(ev)]


def test_probase_concepts_exact_spark_matches_pure(spark):
    from aser_spark.pipeline.concepts import (probase_concepts_exact,
                                              probase_rows)
    from aser_spark.pipeline.concepts_exact import (build_probase_index,
                                                    exact_concept_rows)

    rows = [
        ("e1", "s-v-o", 3.0, "he give the doctor a report",
         "PRP VB DT NN DT NN", "O O O O O O"),
        ("e2", "s-v", 2.0, "alice sleep", "NNP VB", "PERSON O"),
        ("e3", "s-v-o", 1.0, "they fix the xyzzy", "PRP VB DT NN", "O O O O"),
    ]
    df = spark.createDataFrame(
        rows, "eid string, pattern string, frequency double, words string, "
              "pos_tags string, ners string")
    got = sorted(
        (r["eid"], r["rank"], r["concept_words"], r["score"])
        for r in probase_concepts_exact(df, probase_rows()).collect())
    index = build_probase_index(probase_rows())
    want = sorted(
        (eid, rank, cstr, score)
        for eid, _p, _f, words, pos, ners in rows
        for rank, cstr, score in exact_concept_rows(
            words.split(" "), pos.split(" "), ners.split(" "), index))
    assert got == want
    # e2: PERSON ner -> __PERSON__0 seed form, beam empty -> fallback row
    assert ("e2", 0, "__PERSON__0 sleep", 1.0) in got


@needs_reference
def test_exact_conceptualizer_edge_cases():
    """Pure-python edge semantics pinned against the reference class:
    repeated instance words substitute at ALL positions; seed-concept and
    pronoun nouns are skipped; empty/no-noun inputs fall back."""
    from aser_spark.pipeline.concepts import probase_rows
    from aser_spark.pipeline.concepts_exact import (build_probase_index,
                                                    exact_concept_rows)

    index = build_probase_index(probase_rows())
    ref = _load_reference_conceptualizer(index)

    cases = [
        # "dog ... dog": word2indices has two positions for one key
        ("the dog chase the dog", "DT NN VB DT NN", "O O O O O"),
        # pronoun noun ("it") skipped by the PRONOUNS guard
        ("it break", "NN VB", "O O"),
        # no NN at all -> empty beam -> seed fallback at 1.0
        ("he sleep", "PRP VB", "O O"),
        # OOV noun -> no concepts -> fallback
        ("the zzz hum", "DT NN VB", "O O O"),
    ]
    for words, tags, ners in cases:
        toks, tg, nr = words.split(" "), tags.split(" "), ners.split(" ")
        ev = SimpleNamespace(skeleton_phrases=toks, skeleton_phrases_ners=nr,
                             skeleton_pos_tags=tg)
        got = [(c, s) for _r, c, s in exact_concept_rows(toks, tg, nr, index)]
        want = [(str(c), s) for c, s in ref.conceptualize(ev)]
        assert got == want, (words, got, want)
    # the double-dog case must substitute both occurrences together
    double = [c for _r, c, _s in exact_concept_rows(
        "the dog chase the dog".split(), "DT NN VB DT NN".split(),
        ["O"] * 5, index)]
    assert all(c.split(" ")[1] == c.split(" ")[4] for c in double)
