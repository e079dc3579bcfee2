"""Streaming CDC-merge sink: maintain a keyed parquet table from a
change stream — ``foreachBatch`` + the batch MERGE operator
(operators/merge.py) + versioned write-audit-publish.

Each microbatch merges its change rows onto the current table version
and publishes the result as a NEW versioned directory (``v{epoch}``);
readers always resolve the highest published version, so they never see
a half-written table.  Batch retries are safe twice over: the epoch's
directory is overwritten in place, and ``merge_upsert`` is idempotent
for a replayed change set (highest version per key wins either way).
The published table carries each key's winning ``version`` and feeds
it back as the next batch's base, so highest-version-wins holds ACROSS
microbatch boundaries too — change streams need not arrive per-key
version-ordered.

This is the file-system rendition of what a lakehouse table format does
with a transaction log — the merge plan itself (one hash exchange on
the key, bucketing makes it exchange-free) is identical.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import merge_upsert
from ..session import literal_frame, normalize_parquet_confs


def latest_version(table_root: str) -> int | None:
    """Highest published ``v{N}`` under ``table_root`` (None if empty)."""
    if not os.path.isdir(table_root):
        return None
    versions = [
        int(m.group(1))
        for d in os.listdir(table_root)
        if (m := re.fullmatch(r"v(\d+)", d))
    ]
    return max(versions) if versions else None


def streaming_merge_sink(
    spark: SparkSession,
    changes_dir: str,
    table_root: str,
    key: str,
    version_col: str = "version",
    op_col: str = "op",
    query_name: str = "merge_sink",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the CDC backlog (parquet rows: table columns + ``version``
    + ``op`` in {'I','U','D'}) into a keyed table at ``table_root``;
    returns the final merged table."""
    normalize_parquet_confs(spark)
    os.makedirs(table_root, exist_ok=True)
    # changes_dir is always a directory in this sink's contract; the
    # shared stage_stream_source would also work but its reader is
    # rebuilt below to thread max_files_per_trigger into foreachBatch
    batch_schema = spark.read.parquet(changes_dir).schema
    table_cols = [
        f.name for f in batch_schema if f.name not in (version_col, op_col)
    ]

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cur = latest_version(table_root)
        if cur is None:
            # an empty LocalRelation: createDataFrame over an empty
            # list would parallelize into defaultParallelism EMPTY
            # slices, so the first microbatch's merge scans 32 empty tasks
            base = literal_frame(
                spark, [], batch_df.select(*table_cols).schema
            )
        else:
            base = spark.read.parquet(f"{table_root}/v{cur}")
        # keep_version: the published table carries each key's winning
        # version, and the next batch's base feeds it back — so a late
        # LOWER-version change arriving in a later microbatch can no
        # longer beat a higher-version value applied earlier (the r02
        # ADVICE defect: the base was reset to version 0 every batch)
        merged = merge_upsert(
            base, batch_df, key, version_col, op_col, keep_version=True
        )
        merged.write.mode("overwrite").parquet(
            f"{table_root}/v{epoch_id + 1}"
        )

    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    checkpoint = tempfile.mkdtemp(prefix="clearmap_merge_ckpt_")
    q = (
        reader.parquet(changes_dir)
        .writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(checkpoint, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = latest_version(table_root)
    if final is None:
        return literal_frame(spark, [], batch_schema)
    return spark.read.parquet(f"{table_root}/v{final}")
