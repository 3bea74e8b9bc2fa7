"""Discourse path (P4/P5/D1-D6): golden parity vs frozen reference outputs
+ unit semantics for SyntaxTree, clause splitting, and the connective scan.

fixtures/golden_discourse_{eventualities,relations}.jsonl were frozen by
scripts/validate_discourse_e2e.py running the ACTUAL reference code
end-to-end — DiscourseEventualityExtractor + DiscourseRelationExtractor
with the reference's OWN pickled LR classifiers (loaded through functional
numpy stand-ins) — over 310 documents (synthetic conversations + hand
cases).  Eventuality AND relation P/R were 1.0000 (weights bit-equal) at
freeze time; this suite re-checks our kernel against the frozen outputs
without importing the reference.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

FIXTURE = Path(__file__).parent.parent / "fixtures" / "golden_discourse_eventualities.jsonl"
REL_FIXTURE = Path(__file__).parent.parent / "fixtures" / "golden_discourse_relations.jsonl"
HELDOUT = Path(__file__).parent.parent / "fixtures" / "heldout_prose.jsonl"


def heldout_paragraphs(n=30):
    """The first ``n`` held-out paragraphs, each one text."""
    with open(HELDOUT) as f:
        return [" ".join(json.loads(line)["doc_texts"])
                for line, _ in zip(f, range(n))]


def _parse_doc(texts):
    from aser_spark.nlp import parse_text
    from aser_spark.nlp.syntax import SyntaxTree

    parsed = []
    for t in texts:
        parsed.extend(parse_text(t))
    return parsed, [SyntaxTree(p["parse"]) for p in parsed]


def _our_doc(texts):
    from aser_spark.kernel.discourse import (
        extract_document_eventualities_discourse,
        extract_paragraph_relations_discourse)

    parsed, trees = _parse_doc(texts)
    para_evs = extract_document_eventualities_discourse(parsed, trees)
    rows = extract_paragraph_relations_discourse(parsed, para_evs, trees)
    triples = {}
    for h, t, s, w in rows:
        triples[(h, t, s)] = triples.get((h, t, s), 0.0) + w
    return para_evs, triples


def _our_extract(sentence):
    from aser_spark.kernel.discourse import extract_sentence_eventualities_discourse
    from aser_spark.nlp import parse_sentence
    from aser_spark.nlp.syntax import SyntaxTree

    p = parse_sentence(sentence)
    return extract_sentence_eventualities_discourse(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"],
        syntax_tree=SyntaxTree(p["parse"]))


def test_golden_discourse_parity():
    assert FIXTURE.exists(), "run scripts/validate_discourse_e2e.py --freeze"
    n_docs = n_sents = tp = fp = fn = 0
    with FIXTURE.open() as f:
        for line in f:
            row = json.loads(line)
            para_evs, _ = _our_doc(row["doc_texts"])
            assert len(para_evs) == len(row["eventualities"])
            for want_sent, got_sent in zip(row["eventualities"], para_evs):
                want = {(eid, tuple(raw)) for eid, raw in want_sent}
                got = {(e["eid"], tuple(e["raw_indices"])) for e in got_sent}
                tp += len(want & got)
                fp += len(got - want)
                fn += len(want - got)
                n_sents += 1
            n_docs += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    assert n_docs >= 300 and n_sents >= 3000
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # at freeze time parity was exact; regressions should be investigated
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_golden_discourse_relation_parity():
    """End-to-end relation triples (hid, tid, sense) AND their accumulated
    weights vs the reference discourse relation extractor running its own
    classifier weights."""
    assert REL_FIXTURE.exists(), "run scripts/validate_discourse_e2e.py --freeze"
    n_docs = tp = fp = fn = 0
    with REL_FIXTURE.open() as f:
        for line in f:
            row = json.loads(line)
            _, got = _our_doc(row["doc_texts"])
            want = {(h, t, s): w for h, t, s, w in row["triples"]}
            tp += len(want.keys() & got.keys())
            fp += len(got.keys() - want.keys())
            fn += len(want.keys() - got.keys())
            for k in want.keys() & got.keys():
                assert abs(want[k] - got[k]) <= 1e-9, (k, want[k], got[k])
            n_docs += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    assert n_docs >= 300
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_discourse_beats_seed_on_skip_word_sentences():
    """The seed path (F3) drops any sentence containing a clause word like
    'when' wholesale; the discourse path extracts per clause."""
    from aser_spark.kernel import extract_sentence_eventualities
    from aser_spark.nlp import parse_sentence

    sent = "i was happy when the test passed."
    p = parse_sentence(sent)
    seed = extract_sentence_eventualities(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"])
    disc = _our_extract(sent)
    assert seed == []                      # blunt sentence-level drop
    words = {" ".join(e["words"]) for e in disc}
    assert "i be happy" in words and "the test pass" in words


def test_connective_candidate_scan_longest_match():
    from aser_spark.kernel.discourse import extract_connective_candidates

    # "as a result" must win over "as"; overlapping spans suppressed
    toks = "as a result the test passed".split()
    cands = extract_connective_candidates(toks)
    assert {c["connective"] for c in cands} == {"as a result"}
    assert cands[0]["indices"] == [0, 1, 2]

    # paired connective either..or
    toks = "either the dog barked or the cat slept".split()
    cands = extract_connective_candidates(toks)
    conns = {c["connective"]: c["indices"] for c in cands}
    assert conns.get("either..or") == [0, 4]


def test_syntax_tree_ops():
    from aser_spark.nlp.syntax import SyntaxTree

    t = SyntaxTree("(ROOT (S (NP (PRP i)) (VP (VBP like) (NP (DT the) (NN dog)))))")
    assert [l.name for l in t.leaves] == ["i", "like", "the", "dog"]
    assert [l.index for l in t.leaves] == [0, 1, 2, 3]
    # self category of single token = its preterminal's parent
    assert t.get_self_category_node_by_token_indices([0]).name == "PRP"
    assert t.get_common_ancestor_by_token_indices([2, 3]).name == "NP"
    assert t.get_common_ancestor_by_token_indices([0, 3]).name == "S"
    # subtree keeps ORIGINAL leaf indices
    sub = t.get_subtree_by_token_indices([2, 3])
    assert [l.index for l in sub.tree.get_leaves()] == [2, 3]
    # sibling ops
    vp = t.get_common_ancestor_by_token_indices([1, 2, 3])
    assert vp.name == "VP"
    left = t.get_left_sibling_category_node_by_token_indices([1, 2, 3])
    assert left.name == "NP"
    # None-tree contract
    assert SyntaxTree("()").tree is None
    assert SyntaxTree("").tree is None


def test_get_clauses_sbar_split_without_connective():
    """SBAR sub-splitting fires when no separator token marks the boundary
    (e.g. a complement clause) — the constituency-only path."""
    from aser_spark.kernel.clauses import get_clauses
    from aser_spark.nlp.syntax import SyntaxTree

    toks = "he said that she left".split()
    tree = SyntaxTree(
        "(ROOT (S (NP (PRP he)) (VP (VBD said) "
        "(SBAR (IN that) (S (NP (PRP she)) (VP (VBD left)))))))")
    clauses = get_clauses(toks, tree, sep_indices=None)
    # parts ordered by first token: main "he said" then SBAR "that she left"
    assert clauses == [(0, 1), (2, 3, 4)]

    # separator-based split: connective index excluded entirely
    toks2 = "i slept because he worked".split()
    clauses2 = get_clauses(toks2, None, sep_indices={2})
    assert clauses2 == [(0, 1), (3, 4)]


def test_get_clauses_strips_punct_and_separators():
    from aser_spark.kernel.clauses import get_clauses

    toks = ["i", "slept", ",", "he", "worked", "."]
    assert get_clauses(toks, None, None) == [(0, 1), (3, 4)]


def test_theta_join_simpson_jaccard():
    from aser_spark.kernel.discourse import match_argument_eventuality

    ev = {"raw_indices": [0, 1, 2, 3]}
    # Simpson: |{1,2,3}∩E|/min(3,4) = 1.0;  Jaccard: 3/4
    assert match_argument_eventuality([1, 2, 3], ev, "Simpson", 0.8)
    assert not match_argument_eventuality([1, 2, 3], ev, "Jaccard", 0.8)
    assert match_argument_eventuality([1, 2, 3], ev, "Jaccard", 0.75)
    assert not match_argument_eventuality([], ev, "Simpson", 0.1)
    assert not match_argument_eventuality([9], ev, "Simpson", 0.1)


def test_ss_discourse_relations_fan_normalization():
    """'a because b': the real D2 classifier accepts 'because', the D4
    constituent model assigns Arg1/Arg2, D6 labels it Reason, weighted
    1/(|E1|*|E2|) = 1.0."""
    from aser_spark.kernel.discourse import extract_paragraph_relations_discourse

    para_evs, _ = (None, None)
    parsed, trees = _parse_doc(["the dog barked because the cat slept."])
    from aser_spark.kernel.discourse import extract_document_eventualities_discourse

    para_evs = extract_document_eventualities_discourse(parsed, trees)
    by_words = {" ".join(e["words"]): e for e in para_evs[0]}
    assert "the dog bark" in by_words and "the cat sleep" in by_words
    rels = extract_paragraph_relations_discourse(parsed, para_evs, trees)
    assert (by_words["the dog bark"]["eid"], by_words["the cat sleep"]["eid"],
            "Reason", 1.0) in rels


def test_paragraph_relations_discourse_cooccurrence():
    from aser_spark.kernel.discourse import (
        extract_paragraph_relations_discourse,
        extract_sentence_eventualities_discourse)
    from aser_spark.nlp import parse_sentence
    from aser_spark.nlp.syntax import SyntaxTree

    p = parse_sentence("the dog barked because the cat slept.")
    tree = SyntaxTree(p["parse"])
    evs = extract_sentence_eventualities_discourse(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"], tree)
    rows = extract_paragraph_relations_discourse([p], [evs], [tree])
    senses = {(h, t, s) for h, t, s, w in rows}
    eids = [e["eid"] for e in sorted(evs, key=lambda e: e["position"])]
    assert (eids[0], eids[1], "Co_Occurrence") in senses
    assert (eids[0], eids[1], "Reason") in senses


def test_golden_connective_features():
    """D2 featurizer parity: the 29 feature families reproduce the
    reference's _generate_connective_features bit-for-bit (verified as
    merged sparse vectors over the reference's real vocab files at freeze
    time, 1706 connectives, 0 mismatches); this re-checks the raw feature
    STRINGS against the frozen fixtures without importing the reference."""
    import json
    from pathlib import Path

    from aser_spark.kernel.discourse import (
        argument_position_feature_strings, connective_feature_strings,
        explicit_sense_feature_strings)
    from aser_spark.nlp import parse_text
    from aser_spark.nlp.syntax import SyntaxTree

    fixture = Path(__file__).parent.parent / "fixtures" / "golden_connective_features.jsonl"
    assert fixture.exists(), "run scripts/freeze_connective_features.py --freeze"
    doc_cache = {}
    n = 0
    with fixture.open() as f:
        for line in f:
            row = json.loads(line)
            key = "".join(row["doc_texts"])
            if key not in doc_cache:
                parsed = []
                for t in row["doc_texts"]:
                    parsed.extend(parse_text(t))
                doc_cache[key] = (parsed,
                                  [SyntaxTree(p["parse"]) for p in parsed])
            parsed, trees = doc_cache[key]
            got = connective_feature_strings(
                parsed, row["sent_idx"], row["indices"], trees[row["sent_idx"]])
            assert got == row["strings"], (row["sent_idx"], row["indices"])
            got_ap = argument_position_feature_strings(
                parsed, row["sent_idx"], row["indices"], trees[row["sent_idx"]])
            assert got_ap == row["argpos_strings"]
            got_ex = explicit_sense_feature_strings(
                parsed, row["sent_idx"], row["indices"], trees[row["sent_idx"]])
            assert got_ex == row["explicit_strings"]
            n += 1
    assert n >= 1500


def test_parallel_connective_args_either_or():
    """D4 parallel path: discontinuous connectives get span-based args
    (parity-verified vs SSArgumentExtractor._get_parallel_clauses at dev
    time); extract_ss_arguments routes discontinuous spans through it."""
    from aser_spark.kernel.discourse import (extract_ss_arguments,
                                             parallel_connective_args)
    from aser_spark.kernel.discourse_models import load_discourse_models

    toks = "either the dog barked or the cat slept .".split()
    assert parallel_connective_args(toks, [0, 4]) == [[1, 2, 3], [5, 6, 7]]

    parsed, trees = _parse_doc(["either the dog barked or the cat slept."])
    conn = {"connective": "either..or", "indices": [0, 4], "sent_idx": 0}
    extract_ss_arguments(parsed, [conn], trees, load_discourse_models())
    assert conn["arg1"] == {"sent_idx": 0, "indices": [1, 2, 3]}
    assert conn["arg2"] == {"sent_idx": 0, "indices": [5, 6, 7]}


def test_ss_argument_constituent_features():
    """D4 constituent-candidate featurizer (parity-verified bit-exact vs
    the reference's _generate_constituent_argument_features at dev time):
    candidates = conn node's ancestors' siblings, with tree-path features."""
    from aser_spark.kernel.discourse import (extract_connective_candidates,
                                             ss_argument_feature_strings)
    from aser_spark.nlp import parse_text
    from aser_spark.nlp.syntax import SyntaxTree

    parsed = parse_text("the dog barked because the cat slept.")
    tree = SyntaxTree(parsed[0]["parse"])
    conn = extract_connective_candidates(parsed[0]["tokens"])[0]
    rows = ss_argument_feature_strings(parsed, 0, conn["indices"], tree)
    by_idx = {tuple(r["indices"]): r for r in rows}
    assert set(by_idx) == {(0, 1, 2), (4, 5, 6), (7,)}
    main = by_idx[(0, 1, 2)]
    assert main["conn"] == "because"
    assert main["conn_category"] == "subordinator"
    assert main["nt_ctx"] == "S-S-NULL-SBAR"
    assert main["conn_nt_path"] == "IN>SBAR>S<S"
    assert main["conn_nt_position"] == "middle"   # reference quirk: always


def test_argument_feature_strings_digest():
    """D4/D5 featurizer and separator pin: the ss rows of every contiguous
    connective candidate, the ps1/ps2 rows of every candidate past the
    first sentence, and every sentence's separators with its one-token
    neighbour contexts, over the connective-feature fixture documents, the
    four held-out corpora and the out-of-generator corpus, hash to the
    recorded sha256."""
    import hashlib

    from aser_spark.kernel.discourse import (extract_connective_candidates,
                                             ps_argument1_feature_strings,
                                             ps_argument2_feature_strings,
                                             sentence_connective_separators,
                                             ss_argument_feature_strings)

    fixtures = Path(__file__).parent.parent / "fixtures"
    docs, seen = [], set()
    for name in ("golden_connective_features", "heldout_prose",
                 "heldout_prose2", "heldout_prose3", "heldout_prose4",
                 "oog_docs"):
        with open(fixtures / f"{name}.jsonl") as f:
            for line in f:
                texts = json.loads(line)["doc_texts"]
                key = json.dumps(texts)
                if key not in seen:
                    seen.add(key)
                    docs.append(texts)

    digest = hashlib.sha256()
    n_sents = n_cands = 0
    for texts in docs:
        parsed, trees = _parse_doc(texts)
        for i, sp in enumerate(parsed):
            prev_ctx = next_ctx = None
            if i > 0 and parsed[i - 1]["tokens"]:
                prev_ctx = (parsed[i - 1]["tokens"][-1],
                            parsed[i - 1]["pos_tags"][-1])
            if i + 1 < len(parsed) and parsed[i + 1]["tokens"]:
                next_ctx = (parsed[i + 1]["tokens"][0],
                            parsed[i + 1]["pos_tags"][0])
            record = {
                "prev_ctx": prev_ctx, "next_ctx": next_ctx,
                "separators": sentence_connective_separators(
                    sp["tokens"], sp["pos_tags"], trees[i], prev_ctx,
                    next_ctx),
                "candidates": [],
            }
            for c in extract_connective_candidates(sp["tokens"]):
                idx = c["indices"]
                cand = {"connective": c["connective"], "indices": idx}
                if all(a + 1 == b for a, b in zip(idx, idx[1:])):
                    cand["ss"] = ss_argument_feature_strings(
                        parsed, i, idx, trees[i])
                if i > 0:
                    cand["ps1"] = ps_argument1_feature_strings(
                        parsed, i, idx, trees[i - 1])
                    cand["ps2"] = ps_argument2_feature_strings(
                        parsed, i, idx, trees[i])
                record["candidates"].append(cand)
                n_cands += 1
            digest.update(json.dumps(record, sort_keys=True).encode())
            n_sents += 1
    assert (len(docs), n_sents, n_cands) == (1683, 5616, 3042)
    assert digest.hexdigest() == (
        "270d2f75567eb9331a9dbd098e59552ec5aa8317ce20167c261aa461b1362b85")


def test_memoized_pipeline_path_equals_document_level():
    """The SHIPPED discourse path (pipeline/extract.py's two-level
    per-sentence memo with one-token boundary context) must reproduce
    document-level extraction exactly — this is the independent witness
    for the memoization-validity claim (only D2's prev/next token leaks
    across sentence boundaries).  Compares full node/edge instance
    multisets over real multi-sentence conversations."""
    from collections import Counter

    from aser_spark.datagen.transcripts import gen_conversation_rows
    from aser_spark.kernel.discourse import (
        extract_document_eventualities_discourse,
        extract_paragraph_relations_discourse)
    from aser_spark.nlp import parse_text
    from aser_spark.nlp.syntax import SyntaxTree
    from aser_spark.pipeline.extract import (_sentence_cache,
                                             conversation_instance_rows)

    memo = _sentence_cache("discourse")
    for ci in range(25):
        conv = gen_conversation_rows(42, ci)
        rows = conversation_instance_rows(
            conv[0][0], [(r[1], r[3]) for r in conv], memo, "discourse")
        got_nodes = Counter(r[4] for r in rows if r[0] == "node")
        got_edges = Counter((r[12], r[13], r[14], round(r[15], 9))
                            for r in rows if r[0] == "edge")

        parsed = []
        for r in conv:
            parsed.extend(parse_text(r[3]))
        trees = [SyntaxTree(p["parse"]) for p in parsed]
        doc_evs = extract_document_eventualities_discourse(parsed, trees)
        want_nodes = Counter(e["eid"] for es in doc_evs for e in es)
        want_edges = Counter(
            (h, t, s, round(w, 9))
            for h, t, s, w in extract_paragraph_relations_discourse(
                parsed, doc_evs, trees))

        assert got_nodes == want_nodes, ci
        assert got_edges == want_edges, ci


def test_compiled_model_rejects_coefficients_of_another_width():
    import numpy as np

    from aser_spark.kernel.discourse_models import _CompiledModel

    families = [("conn", "feat"), ("n_tokens", "raw")]
    vocab = {"conn": {"because": 0, "so": 1}}
    model = _CompiledModel(np.array([[0.5, -0.5, 2.0]]), np.array([0.25]),
                           np.array([0, 1]), families, vocab)
    assert model.n_classes == 1
    with pytest.raises(ValueError, match="span 3 columns, coefficients have 4"):
        _CompiledModel(np.zeros((1, 4)), np.zeros(1), np.array([0, 1]),
                       families, vocab)


def test_kernel_keeps_no_state_between_calls():
    """The relation pass and the separator decision compute every time:
    running them twice over held-out paragraphs leaves every dict, list
    and set of the kernel module at the size it had before."""
    from aser_spark.kernel import discourse
    from aser_spark.kernel.discourse_models import load_discourse_models
    from aser_spark.nlp import split_sentences
    from aser_spark.pipeline.extract import _sentence_cache

    load_discourse_models()

    def sizes():
        return {k: len(v) for k, v in vars(discourse).items()
                if isinstance(v, (dict, list, set))}

    before = sizes()
    memo = _sentence_cache("discourse")
    paras = [[memo(s) for s in split_sentences(p)]
             for p in heldout_paragraphs()]
    for _ in range(2):
        for para in paras:
            sents, evs, trees = (list(x) for x in zip(*para))
            discourse.extract_paragraph_relations_discourse(sents, evs, trees)
            for p, _, tree in para:
                discourse.sentence_connective_separators(
                    p["tokens"], p["pos_tags"], tree)
    assert sizes() == before
