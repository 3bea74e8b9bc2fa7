"""DEV-ONLY: build the out-of-generator (OOG) parity corpus.

The synthetic transcript generator's closed lexicon means most discourse
classifier features fall OUTSIDE the reference's vocabularies (decisions
ride on intercepts).  This script harvests REAL vocabulary from the
reference's own featurizer corpora — the PDTB-derived verb lemmas
(ps_arg1_feats/verb_lemma.txt) and clause-boundary words — and composes
~600 sentences in templates the generator never emits (negation, passives
with agents, said-that complements, multi-sentence documents opening with
every explicit connective).  On these sentences the frozen LR models see
populated feature vectors, so end-to-end parity (validate_discourse_e2e)
exercises real classifier decisions, not OOV fallbacks.

Output: fixtures/oog_docs.jsonl — one {"doc_texts": [...]} per line.
Deterministic (fixed seed); reads /root/reference only at build time.

Usage: python scripts/gen_oog_corpus.py
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

REF = Path("/root/reference/aser/extract/discourse")


def _load(path):
    return [l.rstrip() for l in path.read_text().splitlines() if l.rstrip()]


def main():
    from aser_spark.nlp.lexicon import fallback, lookup

    # verbs whose regular past tense is "<lemma>ed" in correct English AND
    # round-trips through the parser's suffix lemmatizer: excludes e-final
    # ("hate"->"hated"), consonant-doubling CVC ("stun"->"stunned"), and
    # y-after-consonant ("bury"->"buried") lemmas
    vowels = set("aeiou")
    irregular = set("""say send spend lend bend deal mean keep sleep feel
        lead read meet hold stand understand withstand find bind grind wind
        pay lay make take know grow throw blow fly buy bring think teach
        catch fight seek sell tell swim begin run come become get forget
        give drive rise write ride choose speak break steal freeze wear
        tear bear swear draw withdraw fall feed flee cling swing sting
        strike stick spin dig hang shoot lose shake see hear sit set put
        cut shut hit quit split spread cast cost burst hurt let bet light
        overcome undergo overtake undertake mistake foresee oversee forgo
        outgrow rebuild resell rethink retell unwind upset sink shrink
        spring sweep weep creep leap kneel dream learn spell smell spill
        spoil burn dwell mow sow show sew saw hew prove shave slay weave
        plead leave have say do go be eat drink sing ring win fling
        forbid forgive behold beset befall mislead misread oversleep
        outdo redo undo overdo outrun overrun rerun overhear overthrow
        override overwrite underwrite rewrite partake forsake awake wake
        arise bid breed bleed build burst buy cling cost creep cut deal
        dig dive draw dream drive dwell eat fall feed feel fight find
        flee fling fly forbid forget forgive freeze""".split())
    verbs = []
    for lemma in _load(REF / "ps_arg1_feats" / "verb_lemma.txt"):
        if not (lemma.isalpha() and lemma.islower() and len(lemma) >= 3):
            continue
        if lemma in irregular:
            continue
        if lemma.endswith(("ing", "ed")):
            continue  # mis-listed participial "lemmas" double-inflect
        if lemma[-1] in "e":
            continue
        if lemma[-1] == "y" and lemma[-2] not in vowels:
            continue
        if (lemma[-1] not in vowels and lemma[-1] not in "wxy"
                and lemma[-2] in vowels and lemma[-3] not in vowels):
            continue  # CVC doubling
        ved = lemma + "ed"
        if lookup(ved) is None and fallback(ved) == ("VBD", lemma):
            verbs.append(lemma)
    verbs = sorted(set(verbs))

    # nouns: clause-boundary words the parser's fallback reads as NN
    # (minus obvious function words the small lexicon doesn't cover)
    stop = set("""under over about above along across both each either
        neither own same other than then once only even still yet per via
        amid upon toward towards whose which whom what where why how into
        onto within without during despite between among behind beyond
        against around besides unlike versus aboard"""
               .split())
    nouns = []
    for w in (_load(REF / "ps_arg2_feats" / "clause_first.txt")
              + _load(REF / "ps_arg1_feats" / "clause_last.txt")):
        if not (w.isalpha() and w.islower() and 3 <= len(w) <= 12):
            continue
        if w in stop:
            continue
        if lookup(w) is None and fallback(w) == ("NN", w):
            nouns.append(w)
    nouns = sorted(set(nouns))

    conns = _load(REF / "conn_feats" / "exp_conn.txt")
    single_conns = [c for c in conns if ".." not in c]

    print(f"vocab: {len(verbs)} verbs, {len(nouns)} nouns, "
          f"{len(single_conns)} connectives")

    # round-trip-filtered inflection subsets for the r4 template families
    ing_verbs = [v for v in verbs if fallback(v + "ing") == ("VBG", v)]
    pl_nouns = [w for w in nouns if fallback(w + "s") == ("NNS", w)]

    rng = random.Random(20260816)

    def n():
        return f"the {rng.choice(nouns)}"

    def vb():
        return rng.choice(verbs)

    def vi():
        return vb() + "ed"

    def ving():
        return rng.choice(ing_verbs) + "ing"

    def clause():
        k = rng.randrange(6)
        if k == 0:
            return f"{n()} {vi()}"
        if k == 1:
            return f"{n()} {vi()} {n()}"
        if k == 2:
            return f"{n()} did not {vb()}"
        if k == 3:
            return f"{n()} was {vi()} by {n()}"
        if k == 4:
            return f"{n()} said that {n()} {vi()}"
        return f"{n()} {vi()} {n()} in the {rng.choice(nouns)}"

    # r4 breadth: constructions screened for parse support + e2e parity
    # (modals, progressives, existentials, pronouns, plurals, datives,
    # fronted PPs, infinitival complements, copulas, extraposition,
    # VP coordination, gerund adjuncts, questions, imperatives, relatives)
    def sentence():
        k = rng.randrange(24)
        if k == 0:
            return f"{n()} could {vb()} {n()}."
        if k == 1:
            return f"{n()} should not {vb()}."
        if k == 2:
            return f"{n()} will {vb()} {n()}."
        if k == 3:
            return f"{n()} was {ving()} {n()}."
        if k == 4:
            return f"there was a {rng.choice(nouns)} in {n()}."
        if k == 5:
            return f"{rng.choice(['he', 'she'])} {vi()} {n()}."
        if k == 6:
            return f"{rng.choice(['they', 'we'])} {vi()} in {n()}."
        if k == 7:
            return f"the {rng.choice(pl_nouns)}s {vi()}."
        if k == 8:
            return f"{n()} handed {n()} to {n()}."
        if k == 9:
            return f"because of {n()} , {n()} {vi()}."
        if k == 10:
            return f"{n()} wanted to {vb()} {n()}."
        if k == 11:
            return f"{n()} tried to {vb()}."
        if k == 12:
            return f"{n()} was in {n()}."
        if k == 13:
            return f"{n()} was {rng.choice(['quiet', 'calm', 'angry', 'happy'])}."
        if k == 14:
            return f"it was clear that {n()} {vi()}."
        if k == 15:
            return f"it seems that {n()} {vi()} {n()}."
        if k == 16:
            return f"{n()} {vi()} {n()} quickly."
        if k == 17:
            return f"{n()} {vi()} {n()} and {vi()} {n()}."
        if k == 18:
            return f"{n()} said that {n()} must {vb()}."
        if k == 19:
            return f"while {ving()} , {n()} {vi()} {n()}."
        if k == 20:
            return f"after {n()} {vi()} , {n()} {vi()}."
        if k == 21:
            return f"why did {n()} {vb()} {n()} ?"
        if k == 22:
            return f"{n()} that {vi()} {n()} was quiet."   # no-ev (honest OOG)
        return f"{vb()} {n()} now."                        # imperative, no-ev

    from aser_spark.kernel.discourse_models import load_discourse_models

    categories = load_discourse_models().conn_category

    def category(c):
        return categories.get(c.replace("..", " "), "adverbial")

    # medial run-ons only read naturally for subordinators/coordinators;
    # adverbial connectives open their own sentence (real-text placement)
    medial_conns = [c for c in single_conns
                    if category(c) in ("subordinator", "coordinator")]

    docs = []
    # (a) every subordinator/coordinator sentence-MEDIALLY once
    for c in medial_conns:
        docs.append([f"{clause()} {c} {clause()}."])
    # (b) every connective opening sentence 2 of a 2-sentence doc (the PS
    # path): adverbials/coordinators take "conn , clause", subordinators
    # their natural "conn clause , clause" inversion
    for c in single_conns:
        if category(c) == "subordinator":
            docs.append([f"{clause()}.", f"{c} {clause()} , {clause()}."])
        else:
            docs.append([f"{clause()}.", f"{c} , {clause()}."])
    # (c) paired connectives
    for c in [x for x in conns if ".." in x]:
        a, b = c.split("..")[:2]
        docs.append([f"{a} {clause()} {b} {clause()}."])
    # (d) random 2-3 sentence documents mixing shapes, r4: breadth
    # sentences join the mix so classifier contexts see the new
    # constructions adjacent to connective-bearing sentences
    for _ in range(420):
        n_sents = 2 + rng.randrange(2)
        doc = []
        for _ in range(n_sents):
            r = rng.random()
            if r < 0.35:
                doc.append(f"{clause()} {rng.choice(medial_conns)} {clause()}.")
            elif r < 0.55:
                doc.append(f"{rng.choice(single_conns)} {clause()} , {clause()}.")
            elif r < 0.80:
                doc.append(sentence())
            else:
                doc.append(f"{clause()}.")
        docs.append(doc)
    # r4b: a second screened pool — numerals, times, comparatives,
    # correlative pairs, quotes, punctuation-heavy shapes
    def sentence2():
        k = rng.randrange(18)
        if k == 0:
            return f"{n()} counted {10 + rng.randrange(90)} {rng.choice(pl_nouns)}s."
        if k == 1:
            return f"the meeting started at {1 + rng.randrange(11)} pm."
        if k == 2:
            return (f"{n()} arrived on "
                    f"{rng.choice(['monday', 'friday', 'sunday'])}.")
        if k == 3:
            return f"{n()} was better than {n()}."
        if k == 4:
            return f"{n()} was the best {rng.choice(nouns)}."
        if k == 5:
            return f"{n()} was quiet and calm."
        if k == 6:
            return f"not only {n()} {vi()} but also {n()} {vi()}."
        if k == 7:
            return f'"{vb()} now," he said.'
        if k == 8:
            return f"neither {n()} nor {n()} {vi()}."
        if k == 9:
            return f"both {n()} and {n()} {vi()}."
        if k == 10:
            return f"{n()} was as quiet as {n()}."
        if k == 11:
            return f"{n()} was too quiet to {vb()}."
        if k == 12:
            return f"prices rose {1 + rng.randrange(20)} percent."
        if k == 13:
            return f"{n()} cost {2 + rng.randrange(98)} dollars."  # no-ev
        if k == 14:
            return f"{n()} finished the first {rng.choice(nouns)}."
        if k == 15:
            return f"{n()} ( the old one ) {vi()}."
        if k == 16:
            return f"{n()} {vi()} ; {n()} {vi()}."
        return f"{n()} needed one thing : the {rng.choice(nouns)}."  # no-ev

    # (e) every breadth construction repeatedly as a standalone document
    for _ in range(12):
        for _k in range(24):
            docs.append([sentence()])
    # (e2) the second pool, standalone and in 2-sentence mixes
    for _ in range(10):
        for _k in range(18):
            docs.append([sentence2()])
    for _ in range(100):
        docs.append([sentence2(), rng.choice([sentence(), f"{clause()}."])])
    # (f) curated REAL-ENGLISH documents: the reference's own docstring
    # examples (aser_extractor.py:728-738, eventuality_extractor.py:184-193)
    # plus natural constructions with contractions, possessives, and
    # adverbial sentence openers — none built from templates
    docs.extend([[s] if isinstance(s, str) else s for s in [
        ["My army will find your boat. In the meantime, I'm sure we could "
         "find you suitable accommodations."],
        ["I am hungry.", "I am in the kitchen."],
        ["The dog barks loudly.", "He doesn't like the rain."],
        ["It's cold outside, so she wears a coat."],
        ["They can't find the keys because the drawer is locked."],
        ["We will win. However, the match won't be easy."],
        ["She didn't answer the phone.", "As a result, he left a message."],
        ["I'm sure the plan works.", "For example, the tests passed."],
        ["You shouldn't open the window when the storm comes."],
        ["He is tired, but he keeps walking."],
        ["The teacher explained the lesson.",
         "On the other hand, the students looked confused."],
        ["We couldn't sleep because the neighbors played music."],
        ["It isn't easy, although everyone tries."],
        ["I won't forget what you said."],
        ["The engine stopped. Meanwhile, the driver stayed calm."],
        ["She wasn't happy until the results arrived."],
        ["Don't touch the stove when it's hot."],
        ["The team didn't give up even though the score was bad."],
        ["He's the manager, and she's the engineer."],
        ["If you don't hurry, we'll miss the train."],
    ]])

    n_sents = sum(len(d) for d in docs)
    print(f"{len(docs)} docs, {n_sents} sentences")

    # parse-coverage report: how many sentences yield >= 1 eventuality?
    from aser_spark.kernel.discourse import extract_document_eventualities_discourse
    from aser_spark.nlp import parse_text
    from aser_spark.nlp.syntax import SyntaxTree

    total = with_ev = 0
    for doc in docs:
        parsed = []
        for t in doc:
            parsed.extend(parse_text(t))
        trees = [SyntaxTree(p["parse"]) for p in parsed]
        for evs in extract_document_eventualities_discourse(parsed, trees):
            total += 1
            with_ev += bool(evs)
    print(f"parse coverage (full corpus): {with_ev}/{total} sentences "
          f"({with_ev / max(total, 1):.3f}) produce eventualities")

    out = REPO / "fixtures" / "oog_docs.jsonl"
    with out.open("w") as f:
        for doc in docs:
            f.write(json.dumps({"doc_texts": doc}) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
