"""Sharded sinks (SURVEY.md O33).

The reference writes records round-robin across N open writers
(``images_to_tfrecord.py:228-231,252``: shard = idx % num_shards, 256
train / 32 val). ``roundrobin_shards`` keeps those faithful semantics —
a global row index modulo N — with the index from the parallel
two-phase ``global_row_number``. The TFRecord sink itself shards by a
content-hash ``repartition`` (sinks/tfrecord.py): shard membership is
not idx-deterministic there, but shard balance and count are, which is
all the sink contract requires (SURVEY.md: exact shard-assignment
parity is a non-goal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import global_row_number


def roundrobin_shards(df: DataFrame, order_col: str, num_shards: int) -> DataFrame:
    """Faithful O33: shard = (rank in global order) % num_shards.
    Rank comes from the parallel two-phase ``global_row_number`` — no
    single-partition WindowExec."""
    ranked = global_row_number(df, order_col, "_rn")
    return ranked.withColumn(
        "shard", F.pmod(F.col("_rn") - 1, F.lit(num_shards)).cast("int")
    ).drop("_rn")


