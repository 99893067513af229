"""Training-sequence packing: assign documents (in id order) to
fixed-token-budget sequences.

The assignment rule is the streaming-pack approximation used by large
pretraining pipelines: documents are laid out in id order and a new
sequence starts every `budget` tokens of the running total — i.e.
seq_id = floor(exclusive_prefix_sum(tokens) / budget). Deterministic,
order-defined, and (unlike first-fit bin packing) expressible as a
prefix sum, which is what makes it tractable at corpus scale.

Scale design: a naive `Window.orderBy(id)` cumulative sum collapses to
ONE partition (Spark warns — the whole corpus through a single task).
Instead this is ``ops.sort.chunked_running_sum`` with no group columns:
a two-level distributed prefix sum, parallel across id-range chunks,
with the chunk offsets prefix-summed over the n_chunks summary rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_fcfs_spark.ops.sort import chunked_running_sum


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int = 2048,
    chunk: int = 100_000,
) -> DataFrame:
    """Per-doc sequence assignment: (id, tokens, seq_id) with
    seq_id = floor(exclusive-prefix-sum(tokens) in id order / budget),
    the exclusive sum being the inclusive chunked running sum minus the
    doc's own tokens (NULL tokens count as 0).
    `chunk` is the id-range width of the parallel scan unit — size it
    so one chunk's rows fit a task comfortably (ids need not be dense).

    Guards: budget/chunk must be >= 1 (a budget of 0 would emit NULL
    seq_ids), and the id column must be numeric — a string id silently
    casting to NULL would collapse every row into one __chunk, i.e. the
    exact single-task scan the two-level design exists to avoid."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if chunk < 1:
        raise ValueError(f"chunk must be >= 1, got {chunk}")
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in {"byte", "short", "integer", "long", "decimal"}:
        raise TypeError(
            f"id column {id_col!r} must be an integral type for chunked "
            f"prefix-sum ordering, got {id_type}"
        )
    tokens = F.col(token_col).cast("long")
    lid = F.col(id_col).cast("long")
    docs = df.select(
        F.col(id_col), tokens.alias("tokens"), F.coalesce(tokens, F.lit(0)).alias("__tok")
    )
    return chunked_running_sum(
        docs, [], lid - lid % chunk, [id_col], "__tok", "__incl"
    ).select(
        F.col(id_col),
        "tokens",
        F.expr(f"CAST((__incl - __tok) DIV {int(budget)} AS BIGINT)").alias("seq_id"),
    )


def packing_manifest(packed: DataFrame) -> DataFrame:
    """Roll a pack_sequences() output up to one row per training
    sequence: (seq_id, n_docs, sum_tokens)."""
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"), F.sum("tokens").alias("sum_tokens")
    )
