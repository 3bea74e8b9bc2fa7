"""Shared DEV-ONLY loader: import the reference package with heavy deps
stubbed (stanza/ete3/scipy/sklearn are never touched on the deterministic
code paths we diff against)."""

from __future__ import annotations

import sys
import types
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# the reference ASER checkout every loader below reads; parity tests skip
# when it is absent
REFERENCE_ROOT = Path("/root/reference")


def _stub_module(name, **attrs):
    if name in sys.modules:  # don't clobber functional stubs installed first
        return sys.modules[name]
    mod = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(mod, k, v)
    sys.modules[name] = mod
    return mod


def install_functional_ml_stubs():
    """Install WORKING scipy.sparse / sklearn stand-ins (before any
    reference import binds the dummy ones): a minimal CSR + vstack and a
    LogisticRegression shell whose predict/predict_proba replicate
    sklearn-0.22 decision semantics in numpy — enough to run the
    reference's pickled discourse classifiers end-to-end in-sandbox."""
    import numpy as np

    if not hasattr(np, "float"):  # removed in numpy>=1.24; Feature.to_csr uses it
        np.float = float

    class FunctionalCSR:
        def __init__(self, arg=None, shape=None, dtype=None, rows=None):
            if rows is not None:
                self.rows = rows
            else:
                data, indices, indptr = arg
                self.rows = [(list(indices), [float(v) for v in data])]
            self.shape = shape

    def vstack(mats):
        mats = list(mats)
        rows = [r for m in mats for r in m.rows]
        return FunctionalCSR(rows=rows, shape=(len(rows), mats[0].shape[1]))

    class FunctionalLogisticRegression:
        """Attribute shell filled by pickle; decision math mirrors
        sklearn-0.22 LogisticRegression.predict / predict_proba-argmax."""

        def _decision(self, X):
            coef = np.asarray(self.coef_, dtype=np.float64)
            b = np.asarray(self.intercept_, dtype=np.float64)
            out = np.tile(b, (len(X.rows), 1))
            for r, (idx, val) in enumerate(X.rows):
                for i, v in zip(idx, val):
                    out[r] += coef[:, i] * v
            return out

        def predict(self, X):
            d = self._decision(X)
            if d.shape[1] == 1:
                return np.asarray([
                    self.classes_[1] if s > 0 else self.classes_[0]
                    for s in d[:, 0]])
            return np.asarray(
                [self.classes_[int(np.argmax(row))] for row in d])

        def predict_proba(self, X):
            # only ever consumed through argmax (discourse_parser.py:2086);
            # raw decisions are argmax-equivalent to softmax/ovr probas
            return self._decision(X)

    class _Dummy:
        def __init__(self, *a, **kw):
            raise RuntimeError("stubbed dependency used at runtime")

    _stub_module("stanza")
    _stub_module("stanza.server", CoreNLPClient=_Dummy, TimeoutException=Exception)
    _stub_module("ete3", Tree=_Dummy)
    scipy = _stub_module("scipy")
    sp = _stub_module("scipy.sparse", csr_matrix=FunctionalCSR, vstack=vstack,
                      hstack=_Dummy)
    scipy.sparse = sp
    _stub_module("sklearn")
    _stub_module("sklearn.preprocessing", MultiLabelBinarizer=_Dummy)
    _stub_module("sklearn.linear_model",
                 LogisticRegression=FunctionalLogisticRegression,
                 LogisticRegressionCV=FunctionalLogisticRegression)
    _stub_module("sklearn.linear_model._logistic",
                 LogisticRegression=FunctionalLogisticRegression)
    _stub_module("sklearn.multiclass", OneVsRestClassifier=_Dummy)


def load_reference_modules():
    """-> dict with ev_ext (SeedRuleEventualityExtractor), conn_scan
    (reference candidate scan closure), get_clauses (reference utils fn)."""
    class _Dummy:
        def __init__(self, *a, **kw):
            raise RuntimeError("stubbed dependency used at runtime")

    _stub_module("stanza")
    _stub_module("stanza.server", CoreNLPClient=_Dummy, TimeoutException=Exception)
    _stub_module("ete3", Tree=_Dummy)
    _stub_module("scipy", sparse=None)
    _stub_module("scipy.sparse", csr_matrix=_Dummy, hstack=_Dummy, vstack=_Dummy)
    sys.modules["scipy"].sparse = sys.modules["scipy.sparse"]
    _stub_module("sklearn")
    _stub_module("sklearn.preprocessing", MultiLabelBinarizer=_Dummy)
    _stub_module("sklearn.linear_model", LogisticRegression=_Dummy,
                 LogisticRegressionCV=_Dummy)
    _stub_module("sklearn.multiclass", OneVsRestClassifier=_Dummy)

    if str(REFERENCE_ROOT) not in sys.path:
        sys.path.insert(0, str(REFERENCE_ROOT))
    from aser.extract.discourse_parser import ConnectiveExtractor
    from aser.extract.eventuality_extractor import SeedRuleEventualityExtractor
    from aser.extract.rule import CLAUSE_WORDS
    from aser.extract.utils import get_clauses

    ev_ext = SeedRuleEventualityExtractor.__new__(SeedRuleEventualityExtractor)
    ev_ext.skip_words = set(CLAUSE_WORDS)
    ev_ext.is_externel_corenlp = True  # silence __del__ on the __new__ instance

    ce = ConnectiveExtractor.__new__(ConnectiveExtractor)
    conn_path = REFERENCE_ROOT / "aser/extract/discourse/conn_feats/exp_conn.txt"
    ce.sorted_conn = sorted(
        line.rstrip() for line in conn_path.read_text().splitlines() if line.rstrip())

    return {
        "ev_ext": ev_ext,
        "conn_scan": ce._extract_connectives_by_tokens,
        "get_clauses": get_clauses,
    }


_CONN_FEAT_FAMILIES = [
    "cpos", "prev_conn", "prevpos", "prevpos_cpos", "conn_next", "nextpos",
    "cpos_nextpos", "cparent_to_root_path", "compressed_cparent_to_root_path",
    "self_category", "parent_category", "left_category", "right_category",
    "conn_self_category", "conn_parent_category", "conn_left_category",
    "conn_right_category", "self_category_parent_category",
    "self_category_right_category", "self_category_left_category",
    "parent_category_left_category", "parent_category_right_category",
    "left_category_right_category", "conn_lower", "conn",
    "cparent_to_root_path_node_name", "conn_right_ctx", "conn_parent_ctx",
]


def load_reference_connective_extractor():
    """ConnectiveExtractor via __new__ with sorted_conn + all 28 per-family
    vocab dicts loaded from the reference's conn_feats files — everything
    _generate_connective_features needs, no pickles."""
    load_reference_modules()  # installs stubs + sys.path
    from aser.extract.discourse_parser import ConnectiveExtractor

    base = REFERENCE_ROOT / "aser/extract/discourse/conn_feats"
    ce = ConnectiveExtractor.__new__(ConnectiveExtractor)
    ce.sorted_conn = sorted(
        line.rstrip() for line in (base / "exp_conn.txt").read_text().splitlines()
        if line.rstrip())
    for feat in _CONN_FEAT_FAMILIES:
        d = {}
        for idx, line in enumerate((base / f"{feat}.txt").read_text().splitlines()):
            line = line.rstrip()
            if line:
                d[line] = idx
        setattr(ce, feat + "_dict", d)
    return ce


def load_reference_explicit_classifier():
    """ExplicitSenseClassifier via __new__ with its vocab dicts +
    sorted_conn loaded (no pickle) — enough for
    _generate_explicit_features."""
    load_reference_modules()
    from aser.extract.discourse_parser import ExplicitSenseClassifier

    base = REFERENCE_ROOT / "aser/extract/discourse/explicit_feats"
    ec = ExplicitSenseClassifier.__new__(ExplicitSenseClassifier)
    ec.sorted_conn = sorted(
        line.rstrip() for line in (base / "exp_conn.txt").read_text().splitlines()
        if line.rstrip())
    for feat in ("conn", "cpos", "prev_conn", "conn_lower", "self_category",
                 "parent_category", "left_category", "right_category",
                 "conn_lower_self_category", "conn_lower_parent_category",
                 "conn_lower_left_category", "conn_lower_right_category",
                 "self_category_parent_category", "self_category_right_category",
                 "self_category_left_category", "parent_category_left_category",
                 "parent_category_right_category", "left_category_right_category",
                 "conn_parent_ctx", "as_prev_conn", "as_prev_cpos",
                 "when_prev_conn", "when_prev_cpos"):
        d = {}
        for idx, line in enumerate((base / f"{feat}.txt").read_text().splitlines()):
            line = line.rstrip()
            if line:
                d[line] = idx
        setattr(ec, feat + "_dict", d)
    return ec


def load_reference_ss_arg_extractor():
    """SSArgumentExtractor via __new__ with vocab dicts + the
    conn_category mapping loaded (no pickle) — enough for
    _generate_constituent_argument_features and _get_parallel_clauses."""
    load_reference_modules()
    from aser.extract.discourse_parser import SSArgumentExtractor

    base = REFERENCE_ROOT / "aser/extract/discourse"
    ss = SSArgumentExtractor.__new__(SSArgumentExtractor)
    ss.conn_category_dict = {"subordinator": 0, "coordinator": 1, "adverbial": 2}
    ss.conn_nt_position_dict = {"right": 0, "left": 1}
    ss.conn_category_mapping = {}
    for line in (base / "feats" / "conn_category.txt").read_text().splitlines():
        if line.strip():
            a, b = line.split("#")
            ss.conn_category_mapping[a.strip()] = b.strip()
    for feat in ("conn", "conn_lower", "nt_ctx", "conn_nt_path",
                 "conn_nt_path_left_number"):
        d = {}
        for idx, line in enumerate(
                (base / "ss_arg_feats" / f"{feat}.txt").read_text().splitlines()):
            line = line.rstrip()
            if line:
                d[line] = idx
        setattr(ss, feat + "_dict", d)
    return ss


def load_reference_ps_arg_extractor():
    """PSArgumentExtractor via __new__ with vocab dicts + category mapping
    (no pickles) — enough for _generate_argument{1,2}_features."""
    load_reference_modules()
    from aser.extract.discourse_parser import PSArgumentExtractor

    base = REFERENCE_ROOT / "aser/extract/discourse"
    ps = PSArgumentExtractor.__new__(PSArgumentExtractor)
    ps.verb_pos = set(["VB", "VBD", "VBG", "VBN", "VBP", "VBZ"])
    ps.conn_category_dict = {"subordinator": 0, "coordinator": 1, "adverbial": 2}
    ps.conn_category_mapping = {}
    for line in (base / "feats" / "conn_category.txt").read_text().splitlines():
        if line.strip():
            a, b = line.split("#")
            ps.conn_category_mapping[a.strip()] = b.strip()

    def _load(subdir, feat):
        d = {}
        for idx, line in enumerate(
                (base / subdir / f"{feat}.txt").read_text().splitlines()):
            line = line.rstrip()
            if line:
                d[line] = idx
        return d

    for feat in ("verb_lemma", "clause_first", "clause_last",
                 "prev_clause_first", "conn_lower"):
        setattr(ps, feat + "_dict1", _load("ps_arg1_feats", feat))
    for feat in ("clause_production_rule", "clause_first",
                 "clause_first_prev_last_parse_path", "next",
                 "conn_to_root_path", "conn", "prev", "clause_last_next",
                 "conn_lower", "conn_conn_ctx",
                 "compressed_cparent_to_root_path", "cpos",
                 "cparent_to_root_path_node_name"):
        setattr(ps, feat + "_dict2", _load("ps_arg2_feats", feat))
    return ps


def load_reference_argpos_classifier():
    """ArgumentPositionClassifier via __new__ with its vocab dicts loaded
    (no pickle) — enough to run _generate_argument_position_features."""
    load_reference_modules()
    from aser.extract.discourse_parser import ArgumentPositionClassifier

    base = REFERENCE_ROOT / "aser/extract/discourse/argpos_feats"
    ac = ArgumentPositionClassifier.__new__(ArgumentPositionClassifier)
    ac.conn_part_dict = {"start": 0, "middle": 1, "end": 2}
    for feat in ("conn", "cpos", "prev1", "prev1pos", "prev1_conn",
                 "prev1pos_cpos", "prev2", "prev2pos", "prev2_conn",
                 "prev2pos_cpos", "next1pos_cpos", "next2",
                 "conn_to_root_path"):
        d = {}
        for idx, line in enumerate((base / f"{feat}.txt").read_text().splitlines()):
            line = line.rstrip()
            if line:
                d[line] = idx
        setattr(ac, feat + "_dict", d)
    return ac


def load_reference_entity_linker():
    """-> dict with the reference entity_linker's pure string functions
    (acronym, str_contain), loaded WITHOUT wiki data or nltk.

    The module can't be imported as-is: it references ``corpus`` (nltk)
    at line 10 without importing it (NameError on a plain import), and
    word_tokenize needs nltk data.  We exec the source with a seeded
    namespace instead: ``corpus.stopwords.words('english')`` returns []
    (every caller of acronym() passes an explicit stopword set — the
    module-level stop_words global is irrelevant to the functions under
    test), and word_tokenize = str.split, which is the identity on our
    mention universe (kernel mentions are PTB tokens joined by ' ')."""
    import types

    src_path = REFERENCE_ROOT / "aser/extract/entity_linker.py"

    class _Stopwords:
        @staticmethod
        def words(lang):
            return []

    corpus = types.SimpleNamespace(stopwords=_Stopwords())
    _stub_module("nltk")
    _stub_module("nltk.tokenize", word_tokenize=lambda s: s.split())
    g = {"corpus": corpus, "__name__": "reference_entity_linker",
         "__file__": str(src_path)}
    exec(compile(src_path.read_text(), str(src_path), "exec"), g)
    return {"acronym": g["acronym"], "str_contain": g["str_contain"],
            "Mention": g.get("Mention"), "Entity": g.get("Entity"),
            "DisjointSet": g.get("DisjointSet")}
