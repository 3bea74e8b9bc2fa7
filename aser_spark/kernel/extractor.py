"""Batch eventuality matcher + canonical eventuality construction.

Re-implements, from scratch, the greedy seed-rule matching semantics of
/root/reference/aser/extract/eventuality_extractor.py:406-590 and the
eventuality canonicalization of /root/reference/aser/eventuality.py:296-359,
producing plain dict records (Arrow-friendly) instead of class instances.

Semantics that MUST hold for P/R parity with the reference (each validated
against frozen reference goldens in tests/):

* dependencies are scanned in their stored order — the parser pre-sorts by
  (governor, dependent) (utils.py:244-245) — and positive ops take the FIRST
  matching edge (eventuality_extractor.py:423-434).
* possible ops select EVERY matching edge and rebind their variable each
  time (':436-440'); singleton-label ops bind only while unbound.
* negative LEFTOVER ops reject the candidate if any *unselected* outgoing
  edge of the anchor carries a label outside the allowed set (':442-450' +
  ':467-477' — the '-' list enumerates labels allowed to dangle).
* a leading 'IN' token is dropped with all its edges (eventuality.py:298-308).
* words use lowercased lemmas (eventuality.py:310-313); positions are
  re-indexed to 0..n sorted order (eventuality.py:553-594).
* eid = sha1(json.dumps([rendered_deps, words, pos_tags])) with the rendered
  form ((idx, word, tag), label, (idx, word, tag)) (eventuality.py:45-55,
  :425-433) — bit-for-bit reproducible.
* POS-based relabeling: s-v-v -> s-v-a (JJ xcomp), s-be-a -> s-be-o (NN cop
  governor), s-v-be-a -> s-v-be-o, s-v-o-be-a -> s-v-o-be-o, and the s-v
  word-order guard (eventuality_extractor.py:511-590).
"""

from __future__ import annotations

import hashlib
import json

from .patterns import BIND, LEFTOVER, PATTERN_PROGRAMS, RBIND, RVETO, CLAUSE_SKIP_WORDS

__all__ = ["extract_sentence_eventualities", "build_eventuality", "eid_of"]


def _compile_prefilters(programs):
    """Per-program necessary-condition filters, compiled once at import.

    Every positive op in every program carries a SINGLETON label set (the
    rule table's core binds: nsubj/dobj/iobj/xcomp/cop/expl/nsubjpass), and
    a program can only succeed if each positive op selects an edge with its
    label.  Two sound skips follow:

    * sentence level — the union of positive labels must be a subset of the
      labels present in the sentence (skips e.g. every iobj/xcomp program
      on a plain s-v-o sentence in ONE frozenset check);
    * verb level — the first positive op is always anchored on V1, so the
      anchor verb must have an outgoing (BIND) / incoming (RBIND) edge with
      that label before ``_run_program`` is worth calling.

    Both checks reject only candidates ``_run_program`` would itself reject
    (hit=False on a positive op -> None), so match results are identical —
    the tottime just stops being dominated by trivially failing programs.
    A program that breaks either invariant the skips rest on raises
    ValueError here (also under ``python -O``) instead of silently losing
    matches."""
    pf = {}
    for name, prog in programs.items():
        labels: set = set()
        for op in prog.positive:
            if len(op.labels) != 1:
                raise ValueError(f"pattern {name!r}: positive op {op} must "
                                 "carry exactly one label to be prefiltered")
            labels |= op.labels
        first = prog.positive[0]
        if first.anchor != "V1":
            raise ValueError(f"pattern {name!r}: first positive op {first} "
                             "must be anchored on V1 to be prefiltered")
        pf[name] = (frozenset(labels), first.kind,
                    next(iter(first.labels)))
    return pf


_PREFILTERS = _compile_prefilters(PATTERN_PROGRAMS)
_EMPTY_SET: frozenset = frozenset()
# the first-op labels across all programs (nsubj/nsubjpass for BIND, cop
# for RBIND) — the verb-level check needs only these few anchor sets, so
# they are collected in ONE pass over the edges instead of building full
# per-verb label-set dicts (which measured as the most expensive part of
# the prefilter bookkeeping)
_FIRST_BIND_LABELS = frozenset(
    lab for _, kind, lab in _PREFILTERS.values() if kind == BIND)
_FIRST_RBIND_LABELS = frozenset(
    lab for _, kind, lab in _PREFILTERS.values() if kind != BIND)


def _index_edges(deps):
    """(by_governor, by_dependent): token index -> [(edge_idx, gov, label,
    dep), ...] preserving the global (gov, dep) scan order.  Every matcher
    op is anchored on a bound variable, so filtering candidate edges by that
    anchor is order-equivalent to the reference's full scan — only ~E/|V|
    edges are touched per op instead of E."""
    by_gov: dict = {}
    by_dep: dict = {}
    for ei, e in enumerate(deps):
        rec = (ei, e[0], e[1], e[2])
        by_gov.setdefault(e[0], []).append(rec)
        by_dep.setdefault(e[2], []).append(rec)
    return by_gov, by_dep


def _run_program(prog, by_gov, by_dep, bound):
    """Run one pattern program with V1 pre-bound; return (selected_idx_list,
    skeleton_count) or None.  Ops are NamedTuples and iterate as plain
    tuples — the hot loops unpack them once instead of paying five
    attribute lookups per op."""
    selected: list[int] = []
    bound_get = bound.get

    for kind, op_anchor, labels, var, exact in prog.positive:
        anchor = bound_get(op_anchor)
        if anchor is None:
            return None
        hit = False
        if kind == BIND:
            for ei, g, lab, d in by_gov.get(anchor, ()):
                if lab not in labels:
                    continue
                if exact and var in bound:
                    continue
                bound[var] = d
                selected.append(ei)
                hit = True
                break
        else:  # RBIND: edge points AT the anchor; bind the governor
            for ei, g, lab, d in by_dep.get(anchor, ()):
                if lab not in labels:
                    continue
                if var in bound:
                    continue
                bound[var] = g
                selected.append(ei)
                hit = True
                break
        if not hit:
            return None
    n_skeleton = len(selected)

    for _, op_anchor, labels, var, exact in prog.possible:
        anchor = bound_get(op_anchor)
        if anchor is None:
            continue
        for ei, g, lab, d in by_gov.get(anchor, ()):
            if lab not in labels:
                continue
            if exact and var in bound:
                continue
            bound[var] = d
            selected.append(ei)
            # within one op the anchor stays fixed (the reference snapshots
            # current_dict per edge test); rebinding affects later ops only

    selected_set = set(selected)
    for kind, op_anchor, labels, _, _ in prog.negative:
        anchor = bound_get(op_anchor)
        if anchor is None:
            continue
        if kind == LEFTOVER:
            for ei, g, lab, d in by_gov.get(anchor, ()):
                if ei not in selected_set and lab not in labels:
                    return None
        else:  # RVETO
            label = next(iter(labels))
            for ei, g, lab, d in by_dep.get(anchor, ()):
                if ei not in selected_set and lab == label:
                    return None

    return selected, n_skeleton


def eid_of(rendered_deps, words, pos_tags) -> str:
    """sha1 over the reference's exact JSON rendering (eventuality.py:45-55).

    json.dumps turns tuples into JSON arrays with ", "/": " separators —
    identical output to the reference, so eids are bit-compatible.
    (A hand-assembled escape-free fast path was tried during the r8
    optimization round and measured NEUTRAL in real time — the C encoder
    already dominates — so the simple form stays; the byte-identity
    contract is pinned by tests/test_kernel_semantics.py.)"""
    msg = json.dumps([rendered_deps, words, pos_tags])
    return hashlib.sha1(msg.encode("utf-8")).hexdigest()


def project_mentions(mentions, indices):
    """F8: project sentence-level NER mention spans onto an eventuality's
    kept token positions — a mention survives only if BOTH its boundary
    tokens are kept, and its span is remapped to eventuality-local
    coordinates (eventuality.py:317-334 bisect semantics)."""
    import bisect

    out = []
    n = len(indices)
    for m in mentions or ():
        s = bisect.bisect_left(indices, m["start"])
        if not (s < n and indices[s] == m["start"]):
            continue
        e = bisect.bisect_left(indices, m["end"] - 1)
        if not (e < n and indices[e] == m["end"] - 1):
            continue
        out.append(dict(m, start=s, end=e + 1))
    return out


def build_eventuality(pattern, sel_deps, n_skeleton, lemmas, tokens, pos_tags,
                      use_lemma=True, ners=None, mentions=None):
    """Canonicalize one matched candidate into a plain record.

    ``sel_deps``: selected raw edges in selection order (positive first —
    the first ``n_skeleton`` are the skeleton). Mirrors Eventuality._construct
    (eventuality.py:296-359); ``ners`` (optional per-token NER tags, F8)
    projects onto the kept word positions like the reference's ``_ners``
    (eventuality.py:315-316) — downstream the per-position tags merge into
    frequency-weighted counters (aggregate.node_ner_profiles)."""
    deps = list(sel_deps)
    skel = list(sel_deps[:n_skeleton])

    indices = sorted({i for g, _, d in deps for i in (g, d)})
    dropped = bool(indices) and pos_tags[indices[0]] == "IN"
    if dropped:
        drop = indices[0]
        deps = [e for e in deps if e[0] != drop and e[2] != drop]
        skel = [e for e in skel if e[0] != drop and e[2] != drop]
        indices = indices[1:]

    src = lemmas if use_lemma else tokens
    words = [src[i].lower() for i in indices]
    tags = [pos_tags[i] for i in indices]

    # reset raw positions to dense 0..n ranks, dedupe, sort by (gov, dep)
    rank = {raw: r for r, raw in enumerate(indices)}
    reset = sorted({(rank[g], lab, rank[d]) for g, lab, d in deps},
                   key=lambda e: (e[0], e[2]))
    if len(skel) == len(deps) and not dropped:
        # every selected edge is skeleton (no possible-op extras) and no
        # leading-IN drop: the skeleton projections are the full sets
        # (without a drop every index in ``indices`` appears in some edge)
        skel_edge_idx = list(range(len(reset)))
        skel_word_idx = list(range(len(indices)))
    else:
        reset_skel = sorted({(rank[g], lab, rank[d]) for g, lab, d in skel},
                            key=lambda e: (e[0], e[2]))
        skel_edge_idx = []
        ptr = 0
        for i, e in enumerate(reset):
            if ptr >= len(reset_skel):
                break
            if e == reset_skel[ptr]:
                skel_edge_idx.append(i)
                ptr += 1
        skel_word_idx = sorted({rank[i] for g, _, d in skel for i in (g, d)})

    rendered = [
        [[g, words[g], tags[g]], lab, [d, words[d], tags[d]]]
        for g, lab, d in reset
    ]
    verb_idx = [i for i, t in enumerate(tags) if t.startswith("VB")]

    return {
        "eid": eid_of(rendered, words, tags),
        "pattern": pattern,
        "words": words,
        "pos_tags": tags,
        "ners": [ners[i] for i in indices] if ners else ["O"] * len(indices),
        "mentions": project_mentions(mentions, indices),
        "dependencies": [[g, lab, d] for g, lab, d in reset],
        "skeleton_word_indices": skel_word_idx,
        "skeleton_dep_indices": skel_edge_idx,
        "verb_indices": verb_idx,
        "raw_indices": indices,          # token positions in the sentence
        "position": (sum(indices) / len(indices)) if indices else 0.0,
        "frequency": 1.0,
    }


def _xcomp_dependent_tag(ev):
    """Tag of the first xcomp edge's dependent, in reset coordinates
    (the relabeling filter reads rendered dependencies in order)."""
    for g, lab, d in ev["dependencies"]:
        if lab == "xcomp":
            return ev["pos_tags"][d]
    return None


def _cop_governor_tag(ev):
    for g, lab, d in ev["dependencies"]:
        if lab == "cop":
            return ev["pos_tags"][g]
    return None


def relabel_by_pos(by_pattern):
    """Post-hoc POS relabeling/filtering across pattern buckets
    (eventuality_extractor.py:511-590).  Mutates and returns ``by_pattern``
    (a dict pattern -> list of records, insertion-ordered like the rule
    table).  Note eids are already fixed and do NOT change with the label."""
    for k, evs in by_pattern.items():
        by_pattern[k] = [e for e in evs if "|" not in e["words"]]

    by_pattern["s-v-a"] = []
    by_pattern["s-be-o"] = []
    by_pattern["s-v-be-o"] = []
    by_pattern["s-v-o-be-o"] = []

    def split_on(src_key, dst_key, tag_fn, keep_mark, move_mark):
        keep, move = [], []
        for e in by_pattern[src_key]:
            tag = tag_fn(e)
            if tag is None:
                continue
            if keep_mark in tag:
                keep.append(e)
            if move_mark in tag:
                e = dict(e, pattern=dst_key)
                move.append(e)
        by_pattern[src_key] = keep
        by_pattern[dst_key] = move

    if by_pattern["s-v-v"]:
        split_on("s-v-v", "s-v-a", _xcomp_dependent_tag, "VB", "JJ")
    if by_pattern["s-v-be-a"]:
        split_on("s-v-be-a", "s-v-be-o", _xcomp_dependent_tag, "JJ", "NN")
    if by_pattern["s-be-a"]:
        split_on("s-be-a", "s-be-o", _cop_governor_tag, "JJ", "NN")
    if by_pattern["s-v-o-be-a"]:
        split_on("s-v-o-be-a", "s-v-o-be-o", _xcomp_dependent_tag, "JJ", "NN")

    if by_pattern["s-v"]:
        kept = []
        for e in by_pattern["s-v"]:
            for g, lab, d in e["dependencies"]:
                if lab == "nsubj" and (g > d or e["words"][g] == "be"):
                    kept.append(e)
        by_pattern["s-v"] = kept

    return by_pattern


def extract_sentence_eventualities(tokens, lemmas, pos_tags, dependencies,
                                   use_lemma=True, skip_words=CLAUSE_SKIP_WORDS,
                                   ners=None, mentions=None):
    """Extract all eventualities from one parsed sentence, sorted by
    mean-token position (the reference's in_order mode,
    eventuality_extractor.py:343-388).

    ``dependencies``: iterable of (gov:int, label:str, dep:int), 0-based,
    sorted by (gov, dep).  Returns a list of record dicts."""
    if skip_words and not skip_words.isdisjoint(tokens):
        return []

    deps = [tuple(e) for e in dependencies]
    verb_positions = [i for i, t in enumerate(pos_tags) if t.startswith("VB")]
    by_gov, by_dep = _index_edges(deps)
    sent_labels = set()
    first_anchors = {lab: set() for lab in _FIRST_BIND_LABELS}
    rbind_anchors = {lab: set() for lab in _FIRST_RBIND_LABELS}
    for g, lab, d in deps:
        sent_labels.add(lab)
        if lab in first_anchors:
            first_anchors[lab].add(g)
        elif lab in rbind_anchors:
            rbind_anchors[lab].add(d)
    by_pattern: dict[str, list] = {}
    for name, prog in PATTERN_PROGRAMS.items():
        required, first_kind, first_label = _PREFILTERS[name]
        if not required <= sent_labels:
            by_pattern[name] = []
            continue
        anchor_ok = (first_anchors[first_label] if first_kind == BIND
                     else rbind_anchors[first_label])
        bucket = []
        for vp in verb_positions:
            if vp not in anchor_ok:
                continue
            res = _run_program(prog, by_gov, by_dep, {"V1": vp})
            if res is None:
                continue
            sel_idx, n_skel = res
            if not sel_idx:
                continue
            bucket.append(build_eventuality(
                name, [deps[i] for i in sel_idx], n_skel,
                lemmas, tokens, pos_tags, use_lemma, ners, mentions,
            ))
        by_pattern[name] = bucket

    by_pattern = relabel_by_pos(by_pattern)
    out = [e for bucket in by_pattern.values() for e in bucket]
    out.sort(key=lambda e: e["position"])
    return out
