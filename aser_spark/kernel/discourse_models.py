"""Numpy-free inference for the reference's six discourse LR classifiers
(D2 ConnectiveExtractor, D3 ArgumentPositionClassifier, D4 ss_arg,
D5 ps_arg1/ps_arg2, D6 ExplicitSenseClassifier).

The weights are frozen repo resources (scripts/freeze_discourse_models.py
extracts coef_/intercept_/classes_ from the reference's sklearn-0.22.2
pickles, aser/extract/discourse/*.pkl, with a stub unpickler — no sklearn
at runtime).  Decision semantics replicate sklearn LogisticRegression
exactly:

* 1-row coef, 2 classes (conn, argpos): ``predict = classes[score > 0]``
  with ``score = x . coef[0] + intercept[0]``.
* k-row coef (ss 3x, ps1/ps2 2x, explicit 14x):
  ``predict = classes[argmax(x . coef.T + intercept)]``; the reference's
  ``argmax(predict_proba)`` on the explicit model equals argmax of the
  decision because softmax (multinomial) and normalized sigmoids (ovr) are
  both monotone per-row transforms of the decision scores
  (discourse_parser.py:2080-2088).

Hot-path layout: at load time each model is compiled into a per-family
``{feature string: weight row}`` program, so scoring a featurized
candidate is a handful of dict lookups + float adds — no sparse vector is
materialized and no numpy call happens per row.  Accumulation order is
family order then first-occurrence order within a family, identical to
the reference's ``Feature.merge_features`` dict insertion order and hence
to scipy's CSR stored-order dot — sums are bit-equal (duplicate strings
inside a 'list' family collapse to one hit, exactly like the reference's
``feat_dict[idx] = 1`` overwrite).  The featurizers themselves live in
``kernel.discourse`` and are bit-exact vs the reference
(fixtures/golden_connective_features.jsonl).

One process-wide singleton: the worker loads ~3 MB of weights + ~175k
vocab strings once (Spark python workers are reused across tasks), so at
cluster scale this is a per-executor constant, not per-row work.
"""

from __future__ import annotations

import gzip
import json
import threading

# reference predict_label_dict (discourse_parser.py:1802-1818)
SENSE_LABELS = {
    0: "None", 1: "Precedence", 2: "Succession", 3: "Synchronous",
    4: "Reason", 5: "Result", 6: "Condition", 7: "Contrast",
    8: "Concession", 9: "Conjunction", 10: "Instantiation",
    11: "Restatement", 12: "Alternative", 13: "ChosenAlternative",
    14: "Exception",
}

# built-in (non-file) vocab families (discourse_parser.py:777, 962-963)
_CONN_PART = {"start": 0, "middle": 1, "end": 2}
_CONN_CATEGORY = {"subordinator": 0, "coordinator": 1, "adverbial": 2}
_CONN_NT_POSITION = {"right": 0, "left": 1}


class _CompiledModel:
    """families + per-family {string: weight row} + intercept/classes.

    ``prog`` entries: (family, kind, lut) with kind 'feat' | 'list'
    (lut: string -> tuple of per-class weights) or 'raw' (lut: the weight
    row itself, multiplied by the raw numeric value)."""

    __slots__ = ("prog", "prog1", "intercept", "classes", "n_classes")

    def __init__(self, coef, intercept, classes, families, vocab):
        coef_t = coef.T.tolist()  # [n_features][n_classes]
        self.intercept = tuple(float(b) for b in intercept)
        self.classes = [int(c) for c in classes]
        self.n_classes = coef.shape[0]
        prog = []
        offset = 0
        for family, kind in families:
            if kind == "raw":
                prog.append((family, "raw", tuple(coef_t[offset])))
                offset += 1
                continue
            fam_vocab = vocab[family]
            lut = {s: tuple(coef_t[offset + i]) for s, i in fam_vocab.items()}
            prog.append((family, kind, lut))
            offset += len(fam_vocab)
        if offset != coef.shape[1]:
            raise ValueError(f"feature families span {offset} columns, "
                             f"coefficients have {coef.shape[1]}")
        self.prog = prog
        if self.n_classes == 1:
            # scalar-weight program for the binary models (the bulk of
            # calls: D2/D3/D4/D5 are all binary) — same accumulation
            # order and arithmetic, minus the per-feature 1-iteration
            # loop and tuple indexing, so scores stay bit-identical
            self.prog1 = [
                (family, kind,
                 lut[0] if kind == "raw"
                 else {s: w[0] for s, w in lut.items()})
                for family, kind, lut in prog
            ]

    def _decision1(self, strings):
        out = self.intercept[0]
        for family, kind, lut in self.prog1:
            if kind == "feat":
                w = lut.get(strings[family])
                if w is not None:
                    out += w
            elif kind == "list":
                seen = set()
                for s in strings[family]:
                    if s in seen:
                        continue
                    seen.add(s)
                    w = lut.get(s)
                    if w is not None:
                        out += w
            else:
                v = strings[family]
                out += lut if v == 1 else lut * v
        return out

    def decision(self, strings):
        if self.n_classes == 1:
            return [self._decision1(strings)]
        out = list(self.intercept)
        n = self.n_classes
        for family, kind, lut in self.prog:
            if kind == "feat":
                w = lut.get(strings[family])
                if w is not None:
                    for c in range(n):
                        out[c] += w[c]
            elif kind == "list":
                seen = set()
                for s in strings[family]:
                    if s in seen:
                        continue
                    seen.add(s)
                    w = lut.get(s)
                    if w is not None:
                        for c in range(n):
                            out[c] += w[c]
            else:  # raw numeric passthrough (value 1 -> plain add, exactly
                # like the reference's binary-hit path; w*1.0 == w bitwise)
                v = strings[family]
                if v == 1:
                    for c in range(n):
                        out[c] += lut[c]
                else:
                    for c in range(n):
                        out[c] += lut[c] * v
        return out

    def predict(self, strings) -> int:
        scores = self.decision(strings)
        if self.n_classes == 1:
            return self.classes[1] if scores[0] > 0 else self.classes[0]
        # first maximal index, like np.argmax
        best = max(range(len(scores)), key=scores.__getitem__)
        return self.classes[best]


class DiscourseModels:
    """The six compiled models + the conn_category mapping, with decision
    helpers keyed the way the relation pipeline consumes them."""

    def __init__(self, npz, vocab_json):
        from .discourse import (ARGPOS_FEATURE_FAMILIES,
                                CONNECTIVE_FEATURE_FAMILIES,
                                EXPLICIT_FEATURE_FAMILIES,
                                PS_ARG1_FEATURE_FAMILIES,
                                PS_ARG2_FEATURE_FAMILIES,
                                SS_ARG_FEATURE_FAMILIES)

        def index(fam_lists, **builtin):
            v = {fam: {s: i for i, s in enumerate(strings)}
                 for fam, strings in fam_lists.items()}
            v.update(builtin)
            return v

        def model(group, families, vocab):
            return _CompiledModel(npz[f"{group}_coef"],
                                  npz[f"{group}_intercept"],
                                  npz[f"{group}_classes"], families, vocab)

        self.conn_model = model(
            "conn", CONNECTIVE_FEATURE_FAMILIES, index(vocab_json["conn"]))
        self.argpos_model = model(
            "argpos", ARGPOS_FEATURE_FAMILIES,
            index(vocab_json["argpos"], conn_part=dict(_CONN_PART)))
        self.ss_model = model(
            "ss", SS_ARG_FEATURE_FAMILIES,
            index(vocab_json["ss"], conn_category=dict(_CONN_CATEGORY),
                  conn_nt_position=dict(_CONN_NT_POSITION)))
        self.ps1_model = model(
            "ps1", PS_ARG1_FEATURE_FAMILIES,
            index(vocab_json["ps1"], conn_category=dict(_CONN_CATEGORY)))
        self.ps2_model = model(
            "ps2", PS_ARG2_FEATURE_FAMILIES,
            index(vocab_json["ps2"], conn_category=dict(_CONN_CATEGORY)))
        self.explicit_model = model(
            "explicit", EXPLICIT_FEATURE_FAMILIES,
            index(vocab_json["explicit"]))
        self.conn_category = vocab_json["conn_category"]

    # --- decisions over feature-STRING dicts (featurizers in discourse.py) ---

    def is_connective(self, strings) -> bool:
        return self.conn_model.predict(strings) == 1

    def is_ps(self, strings) -> bool:
        return self.argpos_model.predict(strings) == 1

    def ss_label(self, strings) -> int:
        """0 = neither, 1 = part of Arg1, 2 = part of Arg2."""
        return self.ss_model.predict(strings)

    def ps1_label(self, strings) -> int:
        """0 = remove clause from implicit Arg1, 1 = keep."""
        return self.ps1_model.predict(strings)

    def ps2_label(self, strings) -> int:
        return self.ps2_model.predict(strings)

    def sense(self, strings) -> str:
        return SENSE_LABELS[self.explicit_model.predict(strings)]


_SINGLETON = None
_LOCK = threading.Lock()


def load_discourse_models() -> DiscourseModels:
    """Process-wide lazy singleton (zip-safe resource loading)."""
    global _SINGLETON
    if _SINGLETON is None:
        with _LOCK:
            if _SINGLETON is None:
                import io
                from importlib import resources

                import numpy as np

                pkg = resources.files("aser_spark.resources")
                npz = np.load(io.BytesIO(
                    (pkg / "discourse_models.npz").read_bytes()))
                vocab = json.loads(gzip.decompress(
                    (pkg / "discourse_vocab.json.gz").read_bytes()))
                _SINGLETON = DiscourseModels(npz, vocab)
    return _SINGLETON
