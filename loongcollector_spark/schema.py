"""Canonical schemas.

Input (per BASELINE.json ``input_hint``): one row per pre-tokenized sequence.
The reference's row model is a dynamic string→string event
(``core/models/LogEvent.h:64`` ordered key/value contents); here the open-ended
parsed fields live in a ``map<string,string>`` column while anything downstream
filters / joins / groups on is promoted to a real column so Catalyst can prune
and push it (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- raw input table (Iceberg / parquet) ----------------------------------
SEQUENCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)
