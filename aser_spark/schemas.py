"""Explicit StructType schemas for the tables the extraction UDFs emit.

The reference keeps row dicts with conventional keys
(aser/extract/utils.py:234-277 for parsed sentences); we pin real
columnar schemas so Parquet/Iceberg scans prune columns and Catalyst sees
types.  A StructType needs no JVM to build, so the workers derive their
Arrow output schema from the same object the driver passes to
``mapInArrow``.
"""

from pyspark.sql import types as T

# unified single-pass extraction output: node rows carry eventuality fields,
# edge rows carry (hid, tid, sense); `kind` discriminates.  One schema lets
# the fused conv-grouped UDF parse each turn exactly once.  All payloads are
# FLAT scalars (word lists space-joined — the reference's own cache-key
# rendering, kg_connection.py:117-118): Arrow transfer of flat string
# columns is ~10x cheaper than list<struct> columns, and nothing downstream
# of the fused path needs per-token structure (the eid already hashes it).
INSTANCE_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),  # 'node' | 'edge'
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("sent_idx", T.IntegerType(), True),
    T.StructField("eid", T.StringType(), True),
    T.StructField("pattern", T.StringType(), True),
    T.StructField("words", T.StringType(), True),           # "i be hungry"
    T.StructField("pos_tags", T.StringType(), True),        # "PRP VBP JJ"
    T.StructField("skeleton_words", T.StringType(), True),
    T.StructField("verbs", T.StringType(), True),
    T.StructField("position", T.DoubleType(), True),
    T.StructField("frequency", T.DoubleType(), True),
    T.StructField("hid", T.StringType(), True),
    T.StructField("tid", T.StringType(), True),
    T.StructField("sense", T.StringType(), True),
    T.StructField("weight", T.DoubleType(), True),
    # F8: per-word NER tags ("O O PERSON"), parallel to words/pos_tags;
    # merged into frequency-weighted counters by aggregate.node_ner_profiles
    T.StructField("ners", T.StringType(), True),
])

# per-sentence grammar coverage (pipeline.extract.parse_coverage): one row
# per sentence, covered or not
COVERAGE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("pos_tags", T.StringType()),
    T.StructField("n_eventualities", T.IntegerType()),
    T.StructField("covered", T.BooleanType()),
])
