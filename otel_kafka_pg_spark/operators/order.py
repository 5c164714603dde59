"""Stable turn ordering.

The reference processes Kafka messages in partition order and relies on
upsert-by-key to resolve replays (reference: consumer.go:162-225,
trace/repository/repository.go:80-87). Our batch analog must make per-turn
output a pure function of the input regardless of task scheduling:
``with_stable_order`` numbers every turn with ``row_number`` over
(conv_id, turn_idx), a dense per-conversation sequence, so per-turn text
equality holds row-for-row.

This window is the pipeline's one data shuffle (hash-partitioned by
conv_id). Conversation lengths are Zipf-skewed, so the longest
conversation's turns are sorted in one task; the conversation-length cap
bounds that task, and a cap violation degrades to a slow task, not wrong
rows (tests/test_pipeline_parity.py pins the 25k-turn case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_stable_order(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_seq", F.row_number().over(w))
