"""Held-out prose corpus: robustness invariants + coverage floor.

fixtures/heldout_prose.jsonl is 110 hand-composed paragraphs across twelve
registers, frozen and committed BEFORE the first coverage measurement
(scripts/gen_heldout_corpus.py) — unscreened by construction.  No golden
exists for it (the parity claim is checked directly against the reference
implementation by scripts/validate_heldout.py, which is DEV-ONLY because
it imports /root/reference).  These tests assert what must hold on ANY
input: the pipeline never crashes, emitted rows are structurally sound,
and the measured coverage floor of the committed grammar doesn't regress.
"""
import json
from pathlib import Path

import pytest

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"


# strict-coverage / parse-rate / min-in-policy floors established per
# corpus by scripts/validate_heldout.py (reference-on-our-parse);
# ratchet-only.  heldout_prose4 is the r7 ADVERSARIAL corpus
# (disfluent dialogue, headline fragments, question-heavy text, long
# multi-clause sentences): its measured strict coverage is 0.6441 with
# parity 1.0 and coverage-excluding-reference-agreed-zeros 1.0 — i.e.
# every zero is a sentence the reference itself extracts nothing from
# on the identical parse (70 no-subject fragments/imperatives, 9 rule
# vetoes), so the lower strict floor reflects the REFERENCE's ceiling
# on adversarial registers, not a grammar gap; its parse_rate floor is
# likewise lower because headline fragments contain no verbal clause.
_FLOORS = {"heldout_prose": (0.82, 0.99, 390),
           "heldout_prose2": (0.85, 0.99, 390),
           "heldout_prose3": (0.85, 0.99, 390),
           "heldout_prose4": (0.64, 0.72, 200)}


@pytest.fixture(scope="module", params=sorted(_FLOORS))
def corpus(request):
    return request.param


@pytest.fixture(scope="module")
def paragraphs(corpus):
    prefix = {"heldout_prose": "heldout", "heldout_prose2": "heldout2",
              "heldout_prose3": "heldout3", "heldout_prose4": "heldout4"}[corpus]
    out = []
    with open(FIXTURES / f"{corpus}.jsonl") as f:
        for i, line in enumerate(f):
            out.append((f"{prefix}-{i}", json.loads(line)["doc_texts"]))
    assert len(out) >= 100
    return out


def _all_rows(paragraphs, mode):
    from aser_spark.pipeline.extract import conversation_instance_rows
    rows = []
    for conv_id, texts in paragraphs:
        turns = [(ti, t) for ti, t in enumerate(texts)]
        rows.extend(conversation_instance_rows(conv_id, turns, mode=mode))
    return rows


@pytest.mark.parametrize("mode", ["seed", "discourse"])
def test_heldout_no_crash_and_row_invariants(paragraphs, mode):
    rows = _all_rows(paragraphs, mode)
    nodes = [r for r in rows if r[0] == "node"]
    edges = [r for r in rows if r[0] == "edge"]
    assert nodes, "held-out corpus produced zero eventualities"
    eids = set()
    for r in nodes:
        kind, conv_id, turn_idx, sent_idx, eid, pattern, words = r[:7]
        assert conv_id.startswith("heldout")
        assert turn_idx >= 0 and sent_idx >= 0
        assert len(eid) == 40 and all(c in "0123456789abcdef" for c in eid)
        assert pattern and words
        pos = r[7].split()
        assert len(pos) == len(words.split())
        eids.add(eid)
    for r in edges:
        hid, tid, sense, wt = r[12], r[13], r[14], r[15]
        # relation endpoints must reference eventualities from this corpus
        assert hid in eids and tid in eids
        assert sense
        assert 0.0 < wt <= 1.0 + 1e-9


def test_heldout_discourse_weight_groups(paragraphs):
    """Discourse relation weights are 1/(|E1|*|E2|) within an argument-pair
    group, so per-(conv, sense) sums over one connective's pair-grid are
    integral multiples of 1 only when summed across the full grid; assert
    the weaker invariant that every weight is a unit fraction."""
    rows = _all_rows(paragraphs, "discourse")
    for r in rows:
        if r[0] != "edge":
            continue
        wt = r[15]
        inv = round(1.0 / wt)
        assert abs(wt * inv - 1.0) < 1e-6, f"non-unit-fraction weight {wt}"


def test_heldout_coverage_floor(corpus, paragraphs):
    """Strict eventuality coverage over in-policy sentences; the taxonomy
    of the zeros (imperative no-subject vs reference rule-veto) is
    established by scripts/validate_heldout.py with the reference itself
    — here we pin the committed grammar's floor so it only ratchets up."""
    from aser_spark.kernel.patterns import CLAUSE_SKIP_WORDS
    from aser_spark.nlp import split_sentences
    from aser_spark.nlp.parser import tokenize
    from aser_spark.pipeline.extract import _sentence_cache

    memo = _sentence_cache("seed")
    n_in_policy = n_cov = n_parse_ok = 0
    for _, texts in paragraphs:
        for text in texts:
            for sent in split_sentences(text):
                if any(t in CLAUSE_SKIP_WORDS for t in tokenize(sent)):
                    continue
                n_in_policy += 1
                p, evs, _ = memo(sent)
                if evs:
                    n_cov += 1
                if any(p["pos_tags"][g].startswith("VB") or lab == "cop"
                       for g, lab, _ in p["dependencies"]):
                    n_parse_ok += 1
    cov_floor, parse_floor, min_in_policy = _FLOORS[corpus]
    assert n_in_policy > min_in_policy
    assert n_cov / n_in_policy >= cov_floor, (n_cov, n_in_policy)
    assert n_parse_ok / n_in_policy >= parse_floor, (n_parse_ok, n_in_policy)
