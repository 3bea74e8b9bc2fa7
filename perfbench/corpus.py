"""Seeded inputs, their staging as parquet, and the pure-Python oracle.

The oracle drives the same per-conversation kernel the Spark stage runs
(``conversation_instance_rows``) over ``gen_conversation_rows`` for the
run's seed, then sums the instance rows in dicts.  The written graph tables
are read back with pyarrow and compared as order-independent digests.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from aser_spark.datagen.transcripts import TRANSCRIPT_SCHEMA, gen_conversation_rows
from aser_spark.kernel.relations import rid_of
from aser_spark.nlp import split_sentences
from aser_spark.pipeline.extract import conversation_instance_rows
from aser_spark.pipeline.graph import (DEFAULT_MAX_LINEAGE_SIDS,
                                       EVENTUALITY_FREQ_THRESHOLD,
                                       RELATION_WEIGHT_THRESHOLD)
from aser_spark.schemas import INSTANCE_SCHEMA

# every HELD_OUT_EVERY-th conversation is the batch kg_merge folds in
HELD_OUT_EVERY = 10


def conversations(seed: int, n_convs: int) -> list:
    """The run's corpus: one row list per conversation, a pure function of
    (seed, n_convs)."""
    return [gen_conversation_rows(seed, i) for i in range(n_convs)]


def split_held_out(convs: list) -> tuple[list, list]:
    """(base ~90%, held-out ~10%) by conversation index."""
    base = [c for i, c in enumerate(convs) if i % HELD_OUT_EVERY != HELD_OUT_EVERY - 1]
    held = [c for i, c in enumerate(convs) if i % HELD_OUT_EVERY == HELD_OUT_EVERY - 1]
    return base, held


def input_stats(convs: list) -> dict:
    sentences = [s for conv in convs for row in conv for s in split_sentences(row[3])]
    return {
        "input.convs": len(convs),
        "input.turns": sum(len(conv) for conv in convs),
        "input.sentences": len(sentences),
        "input.distinct_sentence_share": len(set(sentences)) / max(len(sentences), 1),
    }


def _write(rows: list, schema, path: str) -> None:
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
    table = pa.table([pa.array(c, type=f.type) for f, c in zip(arrow_schema, cols)],
                     schema=arrow_schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def stage_transcripts(convs: list, path: str) -> None:
    """The transcript table a build scans (stands in for the Iceberg table)."""
    _write([row for conv in convs for row in conv], TRANSCRIPT_SCHEMA, path)


def stage_instances(rows: list, path: str) -> None:
    _write(rows, INSTANCE_SCHEMA, path)


def instance_rows(convs: list, mode: str) -> list:
    out = []
    for conv in convs:
        out.extend(conversation_instance_rows(
            conv[0][0], [(r[1], r[3]) for r in conv], mode=mode))
    return out


def prepare(seed: int, n_convs: int, mode: str, merge: bool) -> dict:
    """What one run checks against, recomputed from the seed; runs in a
    child process so the kernel's memos never count in the measured tree.
    Returns {"expected": {output dir: {table: rows}}} and, for kg_merge,
    the stored instance batches {"instances": {"base": rows, "held_out": rows}}."""
    convs = conversations(seed, n_convs)
    if not merge:
        oracle = Oracle(instance_rows(convs, mode))
        return {"expected": {"kg": oracle.tables(), "core": oracle.core()}}
    base, held = split_held_out(convs)
    rows = {"base": instance_rows(base, mode), "held_out": instance_rows(held, mode)}
    oracle = Oracle(rows["base"])
    expected = {"base": oracle.tables()}
    oracle.add(rows["held_out"])
    expected["kg"] = oracle.tables()
    return {"instances": rows, "expected": expected}


def _num(x) -> str:
    # sums of the same addends in another order may differ in the last bits
    return f"{float(x):.12g}"


class Oracle:
    """Graph tables of the instance rows, summed in plain dicts."""

    def __init__(self, rows: list):
        self.nodes: dict = {}
        self.edges: dict = defaultdict(float)
        self.sids: dict = defaultdict(set)
        self.mentions: dict = defaultdict(int)
        self.add(rows)

    def add(self, rows: list) -> None:
        for r in rows:
            if r[0] == "node":
                conv_id, turn_idx, sent_idx, eid = r[1], r[2], r[3], r[4]
                node = self.nodes.setdefault(eid, [r[5], r[6], r[7], r[8], r[9], 0.0])
                node[5] += r[11]
                self.sids[eid].add(f"{conv_id}|{turn_idx}|{sent_idx}")
                self.mentions[eid] += 1
            else:
                self.edges[(r[12], r[13], r[14])] += r[15]

    def tables(self) -> dict:
        nodes = {(eid, *p[:5], _num(p[5])) for eid, p in self.nodes.items()}
        edges = {(rid_of(h, t), h, t, s, _num(w)) for (h, t, s), w in self.edges.items()}
        lineage = {(eid, tuple(sorted(sids)[:DEFAULT_MAX_LINEAGE_SIDS]), self.mentions[eid])
                   for eid, sids in self.sids.items()}
        return {"nodes": nodes, "edges": edges, "lineage": lineage}

    def core(self) -> dict:
        kept = {eid for eid, p in self.nodes.items() if p[5] >= EVENTUALITY_FREQ_THRESHOLD}
        pairs = defaultdict(float)
        for (h, t, _), w in self.edges.items():
            pairs[(h, t)] += w
        nodes = {(eid, *p[:5], _num(p[5])) for eid, p in self.nodes.items() if eid in kept}
        edges = {(rid_of(h, t), h, t, s, _num(w)) for (h, t, s), w in self.edges.items()
                 if h in kept and t in kept
                 and (RELATION_WEIGHT_THRESHOLD <= 0
                      or pairs[(h, t)] >= RELATION_WEIGHT_THRESHOLD)}
        return {"nodes": nodes, "edges": edges}


_COLUMNS = {
    "nodes": ["eid", "pattern", "words", "pos_tags", "skeleton_words", "verbs", "frequency"],
    "edges": ["rid", "hid", "tid", "sense", "weight"],
    "lineage": ["eid", "sids", "n_mentions"],
}
_NUMERIC = {"frequency", "weight"}


def read_written(path: str, table: str) -> list:
    """Rows of a written table (bucket partition column dropped), in the
    oracle's canonical form."""
    cols = _COLUMNS[table]
    data = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    columns = []
    for name in cols:
        values = data.column(name).to_pylist()
        if name in _NUMERIC:
            values = [_num(v) for v in values]
        elif name == "sids":
            values = [tuple(v) for v in values]
        columns.append(values)
    return list(zip(*columns))


def digest(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check(expected: dict, written_dir: str) -> dict:
    """{table: (expected digest, written digest, rows)} for every expected table."""
    out = {}
    for table, rows in expected.items():
        got = read_written(os.path.join(written_dir, table), table)
        out[table] = (digest(rows), digest(got), len(rows))
    return out
