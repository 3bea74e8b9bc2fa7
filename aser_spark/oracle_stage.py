"""Pure-Python staging of the KG-pipeline oracle inputs.

The driver's correctness gate runs each Spark query side-by-side with a
DuckDB oracle SQL string.  The KG family (nodes/edges/core/concepts/
entities/lineage/...) consumes EXTRACTED instance rows, which SQL cannot
produce — but every stage downstream of extraction is plain relational
algebra.  So we stage the instances table (plus the small probase / KB
dimensions and the deterministic media-feature fixture) to parquet from
PLAIN PYTHON — driving the exact same per-conversation kernel
(pipeline/extract.py:conversation_instance_rows) the Spark ``mapInPandas``
stage runs, itself golden-parity-gated against the reference extractor —
and the oracle SQL reads them with ``read_parquet``.  The DuckDB gate then
hash-verifies every aggregation / join / filter / window stage of the
pipeline against an input the Spark runtime never touched.

Everything here is a pure function of (n_convs, seed): no RNG state, no
timestamps, no Spark.  Staging is idempotent (marker file) and atomic
(tmp + rename), so ``oracle_sql()`` can call it unconditionally.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

STAGE_DIR = os.environ.get("ASER_ORACLE_STAGE_DIR", "/tmp/aser_spark_oracle")
# bump when the staged layout or the generator/kernel semantics change
STAGE_VERSION = 17  # r6: corpus-#3 growth (last-resort verb promotion, MD/VB demotions)

_INSTANCE_COLS = [
    ("kind", "string"), ("conv_id", "string"), ("turn_idx", "int32"),
    ("sent_idx", "int32"), ("eid", "string"), ("pattern", "string"),
    ("words", "string"), ("pos_tags", "string"), ("skeleton_words", "string"),
    ("verbs", "string"), ("position", "float64"), ("frequency", "float64"),
    ("hid", "string"), ("tid", "string"), ("sense", "string"),
    ("weight", "float64"), ("ners", "string"),
]


def _write_parquet(path: Path, rows: list, cols: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays, names = [], []
    for i, (name, typ) in enumerate(cols):
        names.append(name)
        vals = [r[i] for r in rows]
        arrays.append(pa.array(vals, type=getattr(pa, typ)()))
    tmp = path.with_suffix(".tmp.parquet")
    pq.write_table(pa.table(dict(zip(names, arrays))), tmp)
    os.replace(tmp, path)


def _instances_rows(n_convs: int, seed: int, mode: str = "seed") -> list:
    from .datagen.transcripts import gen_conversation_rows
    from .pipeline.extract import _sentence_cache, conversation_instance_rows

    # the pipeline's own memo factory — the oracle drives byte-identical
    # kernel code to the Spark mapInArrow stage, with one memo for the
    # whole corpus where Spark builds one per task (a pure-function cache,
    # so the scope cannot change a row)
    memo = _sentence_cache(mode)
    out = []
    for ci in range(n_convs):
        conv = gen_conversation_rows(seed, ci)
        turns = [(r[1], r[3]) for r in conv]  # (turn_idx, text)
        out.extend(conversation_instance_rows(conv[0][0], turns, memo, mode))
    return out


def _concepts_exact_rows(instance_rows: list) -> list:
    """Reference-exact heap-beam conceptualization per distinct node
    (words, pos_tags, ners) key — the same pure functions the Spark
    mapInPandas operator runs (pipeline/concepts_exact.py, themselves
    bit-parity-tested against the reference class).  Keyed by
    (words, pos_tags): the gazetteer NER is a pure function of
    (token, tag), so ners is determined by that key."""
    from .pipeline.concepts import probase_rows
    from .pipeline.concepts_exact import build_probase_index, exact_concept_rows

    index = build_probase_index(probase_rows())
    seen, out = set(), []
    for r in instance_rows:
        if r[0] != "node":
            continue
        words, pos_tags, ners = r[6], r[7], r[16]
        if (words, pos_tags) in seen:
            continue
        seen.add((words, pos_tags))
        toks = words.split(" ")
        ner_list = ners.split(" ") if ners else ["O"] * len(toks)
        for rank, cstr, score in exact_concept_rows(
                toks, pos_tags.split(" "), ner_list, index):
            out.append((words, pos_tags, rank, cstr, score))
    return out


def _coverage_rows(n_convs: int, seed: int) -> list:
    """Per-sentence parse-coverage rows over the generated corpus — the
    SAME pure turn_coverage_rows kernel the Spark mapInPandas operator
    runs (pipeline/extract.py), including the token/POS-only fallback row
    for out-of-grammar sentences."""
    from .datagen.transcripts import gen_conversation_rows
    from .pipeline.extract import _sentence_cache, turn_coverage_rows

    memo = _sentence_cache("seed")
    out = []
    for ci in range(n_convs):
        for r in gen_conversation_rows(seed, ci):
            conv_id, turn_idx, text = r[0], r[1], r[3]
            out.extend(turn_coverage_rows(conv_id, turn_idx, text, memo))
    return out


def heldout_paragraph_rows(corpus: str = "heldout_prose") -> list:
    """(conv_id, turn_idx, text) rows from a frozen held-out prose corpus
    (fixtures/<corpus>.jsonl, committed before any coverage measurement) —
    the shared input for both the Spark ``parse_coverage_heldout*``
    queries and their staged oracles.  ``heldout_prose`` is the r5 corpus
    (110 paragraphs, 12 registers); ``heldout_prose2`` and
    ``heldout_prose3`` the r6 ones (104 paragraphs each, 8 further unseen
    registers apiece); ``heldout_prose4`` the r7 ADVERSARIAL corpus (104
    paragraphs: disfluent dialogue, headlines/fragments, question-heavy
    text, long multi-clause sentences)."""
    fixture = Path(__file__).resolve().parent.parent / "fixtures" / f"{corpus}.jsonl"
    prefix = {"heldout_prose": "heldout", "heldout_prose2": "heldout2",
              "heldout_prose3": "heldout3", "heldout_prose4": "heldout4"}[corpus]
    rows = []
    with open(fixture) as f:
        for i, line in enumerate(f):
            for t, text in enumerate(json.loads(line)["doc_texts"]):
                rows.append((f"{prefix}-{i:04d}", t, text))
    return rows


def _coverage_rows_heldout(corpus: str = "heldout_prose") -> list:
    from .pipeline.extract import _sentence_cache, turn_coverage_rows

    memo = _sentence_cache("seed")
    out = []
    for conv_id, turn_idx, text in heldout_paragraph_rows(corpus):
        out.extend(turn_coverage_rows(conv_id, turn_idx, text, memo))
    return out


def _media_rows(n: int) -> list:
    """Expected output of textops.multimodal.extract_media_features over
    synthesize_media(n): the SAME pure-python payload generator the Spark
    synthesizer uses (real BMP/WAV/RAWV bytes), digested here without
    Spark."""
    from .textops.multimodal import media_payload_rows

    return [(i, kind, hashlib.sha1(payload).hexdigest(), len(payload))
            for i, kind, payload, _meta in media_payload_rows(n)]


def stage_kg_oracle_inputs(n_convs: int = 400, seed: int = 42,
                           n_media: int = 48, outdir: str = STAGE_DIR) -> dict:
    """Idempotently materialize the oracle parquet inputs; returns
    {"instances": path, "probase": path, "kb": path, "media": path}."""
    base = Path(outdir)
    base.mkdir(parents=True, exist_ok=True)
    paths = {k: base / f"{k}.parquet"
             for k in ("instances", "instances_discourse", "probase", "kb",
                       "media", "concepts_exact", "parse_coverage",
                       "parse_coverage_heldout", "parse_coverage_heldout2",
                       "parse_coverage_heldout3", "parse_coverage_heldout4")}
    marker = base / "MARKER.json"
    want = {"version": STAGE_VERSION, "n_convs": n_convs, "seed": seed,
            "n_media": n_media}
    if marker.exists() and all(p.exists() for p in paths.values()):
        try:
            if json.loads(marker.read_text()) == want:
                return {k: str(v) for k, v in paths.items()}
        except (ValueError, OSError):
            pass

    from .pipeline.concepts import probase_rows
    from .pipeline.entities import kb_rows

    seed_rows = _instances_rows(n_convs, seed)
    _write_parquet(paths["instances"], seed_rows, _INSTANCE_COLS)
    _write_parquet(paths["concepts_exact"], _concepts_exact_rows(seed_rows),
                   [("words", "string"), ("pos_tags", "string"),
                    ("rank", "int32"), ("concept_words", "string"),
                    ("score", "float64")])
    _write_parquet(paths["instances_discourse"],
                   _instances_rows(n_convs, seed, mode="discourse"),
                   _INSTANCE_COLS)
    _write_parquet(paths["probase"], probase_rows(),
                   [("instance", "string"), ("concept", "string"),
                    ("likelihood", "float64")])
    _write_parquet(paths["kb"], kb_rows(),
                   [("alias", "string"), ("entity_id", "string"),
                    ("prior", "float64")])
    _write_parquet(paths["parse_coverage"], _coverage_rows(n_convs, seed),
                   [("conv_id", "string"), ("turn_idx", "int32"),
                    ("sent_idx", "int32"), ("n_tokens", "int32"),
                    ("pos_tags", "string"), ("n_eventualities", "int32"),
                    ("covered", "bool_")])
    _write_parquet(paths["parse_coverage_heldout"], _coverage_rows_heldout(),
                   [("conv_id", "string"), ("turn_idx", "int32"),
                    ("sent_idx", "int32"), ("n_tokens", "int32"),
                    ("pos_tags", "string"), ("n_eventualities", "int32"),
                    ("covered", "bool_")])
    _write_parquet(paths["parse_coverage_heldout2"],
                   _coverage_rows_heldout("heldout_prose2"),
                   [("conv_id", "string"), ("turn_idx", "int32"),
                    ("sent_idx", "int32"), ("n_tokens", "int32"),
                    ("pos_tags", "string"), ("n_eventualities", "int32"),
                    ("covered", "bool_")])
    _write_parquet(paths["parse_coverage_heldout3"],
                   _coverage_rows_heldout("heldout_prose3"),
                   [("conv_id", "string"), ("turn_idx", "int32"),
                    ("sent_idx", "int32"), ("n_tokens", "int32"),
                    ("pos_tags", "string"), ("n_eventualities", "int32"),
                    ("covered", "bool_")])
    _write_parquet(paths["parse_coverage_heldout4"],
                   _coverage_rows_heldout("heldout_prose4"),
                   [("conv_id", "string"), ("turn_idx", "int32"),
                    ("sent_idx", "int32"), ("n_tokens", "int32"),
                    ("pos_tags", "string"), ("n_eventualities", "int32"),
                    ("covered", "bool_")])
    _write_parquet(paths["media"], _media_rows(n_media),
                   [("media_id", "int64"), ("kind", "string"),
                    ("payload_sha1", "string"), ("n_bytes", "int32")])
    tmp_marker = marker.with_suffix(".tmp")
    tmp_marker.write_text(json.dumps(want))
    os.replace(tmp_marker, marker)
    return {k: str(v) for k, v in paths.items()}
