"""Sinks.

Replaces reference S4/S5 (SURVEY.md §2.1): the reference writes every
dataset as a single-file CSV via ``coalesce(1)``
(``Scripts/1_cs_777_cleaning_data.py:61,102``) — a one-task,
single-threaded write that is an anti-pattern at any scale. Here:

- Data outputs → partitioned Parquet (optionally partitioned by a column,
  e.g. Year, so the reference's temporal train/test filter becomes static
  partition pruning).
- Tiny report artifacts (metric tables, selected-feature lists — the S5
  pandas sinks) → single CSV is acceptable and kept, but implemented as
  a driver-side write of an already-small DataFrame: the report tables
  are built by ``readers.local_frame`` as ``LocalRelation``s, so the
  write scans driver memory in one task and starts no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    *,
    sort_cols: tuple[str, ...] | list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a range-partitioned, file-sorted Parquet layout.

    ``repartitionByRange`` gives each output file a disjoint range of
    the sort key and ``sortWithinPartitions`` orders rows inside it, so
    every parquet row group carries tight min/max statistics on the
    key. A later filtered read (e.g. a time-range scan over an events
    table) then skips whole files/row groups instead of scanning 100 TB
    — the layout does at write time what no amount of predicate
    pushdown can recover from a randomly-ordered table.
    """
    cols = list(sort_cols)
    parted = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    # INT96 timestamps (Spark's default parquet encoding) carry no
    # min/max statistics — the whole point of this layout. Force INT64
    # micros for the write even on a session that didn't come from
    # session.get_session; restore afterwards.
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "TIMESTAMP_MICROS")
        parted.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def write_report_csv(df: DataFrame, path: str, *, max_rows: int = 100_000) -> None:
    """Small report table → one headered CSV file.

    Guarded: refuses tables above ``max_rows`` so the reference's
    coalesce(1)-everything habit can't reappear on a big table.
    """
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"write_report_csv is for small report artifacts (≤{max_rows} rows); "
            f"got >{max_rows}. Use write_parquet for data outputs."
        )
    df.coalesce(1).write.mode("overwrite").options(header=True).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | list[str] | None = None,
) -> None:
    """Columnar ORC sink — same contract as ``write_parquet``.

    Engine surface beyond the reference (which only ever writes CSV,
    Scripts/1:61,102): warehouses standardized on ORC (Hive-lineage)
    read/write it natively in Spark, with the same predicate-pushdown
    and partition-discovery behavior as parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines sink (one JSON object per row, the interchange
    format of every LLM data pipeline). Doubles serialize via Java's
    shortest round-trippable repr, so a schema-explicit read-back
    reproduces them bit-for-bit; readers must supply the schema (JSONL
    carries none — inferSchema on 100 TB is the same anti-pattern the
    CSV reader kills, SURVEY §2.1 S1)."""
    df.write.mode(mode).json(path)
