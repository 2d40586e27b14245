"""Data layout for scan efficiency: partitioned+sorted writes and
small-file compaction (SURVEY.md §2.11 / §4 posture).

Two layout problems dominate 100 TB scan cost:

- **Partition pruning**: a query filtering on ingest date must read
  only that date's files. ``write_partitioned_sorted`` lays data out as
  hive-style ``col=value`` directories (Catalyst turns date predicates
  into PartitionFilters — directories never listed, let alone read) and
  sorts rows within files so min/max row-group statistics prune inside
  the files that do get read.
- **Small files**: streaming sinks and per-chapter jobs (the
  reference's one-JSON-per-chapter output tree,
  `hebrew_alignment_tool.py:417-464`) accumulate thousands of tiny
  files; scans then pay one task + one open per file. ``compact``
  rewrites a directory into ceil(bytes/target)-sized files with one
  coalesce — no shuffle, since coalesce only merges read splits.

``plan_rows`` is the one row statistic the scale choices read (SimHash
and SRP bits, SemDeDup k, the MinHash semi-join and pagerank pin gates,
stream state partitions): the rows of the files a frame's plan reads,
taken from parquet footers.
"""

from __future__ import annotations

import math
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_sorted(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | str,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write hive-partitioned parquet, one shuffle on the partition
    columns first so each output directory is produced by few tasks
    (otherwise every task writes a sliver into every partition —
    #tasks × #partitions small files), then sorted within partitions
    for row-group min/max pruning on the sort key."""
    pcols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    out = df.repartition(*[df[c] for c in pcols])
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        out = out.sortWithinPartitions(*scols)
    out.write.partitionBy(*pcols).mode(mode).parquet(path)


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into files near ``target_mb``.
    Returns the number of output files. Uses ``coalesce`` (split merge,
    no shuffle); row order within merged files is preserved per split,
    so sorted inputs keep their row-group pruning value."""
    df = spark.read.parquet(src)
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(src).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = sum(
        fs.getFileStatus(jpath(f)).getLen() for f in df.inputFiles()
    ) or 1
    n = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df.coalesce(n).write.mode("overwrite").parquet(dst)
    return len(spark.read.parquet(dst).inputFiles())


def plan_nodes(df: DataFrame) -> list:
    """Every node of ``df``'s analyzed plan (JVM handles), root first."""
    nodes = [df._jdf.queryExecution().analyzed()]
    for node in nodes:  # grows while iterated: walks the whole tree
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def plan_rows(df: DataFrame) -> int | None:
    """Rows of the files ``df`` reads: parquet footer ``num_rows`` summed
    over the DISTINCT files of the file leaves of its analyzed plan — zero
    Spark jobs, and a self-join or two views of one table count it once.

    The analyzed plan, not ``DataFrame.inputFiles()``: the optimized plan
    of a frame derived from a persisted one swaps in the cache, so
    ``inputFiles()`` is empty there, while the analyzed plan still names
    the table. A leaf counts when it is of the frame's own kind: a batch
    frame counts its ``LogicalRelation`` file leaves (the files of their
    ``location()``), a stream counts its parquet file-source leaves (the
    files under ``path`` matching ``pathGlobFilter``, names starting with
    ``_`` or ``.`` skipped, as Spark skips them), not the static side of
    a stream-static join. A batch leaf that footers cannot serve (not
    parquet, not a local path) is counted with one job per leaf.

    None when the plan has no such leaf (``createDataFrame``, a Python
    data source or rate stream) or a stream leaf is not a local
    directory."""
    import pyarrow.parquet as pq

    streaming = df.isStreaming
    files: set[str] = set()
    counted: dict[frozenset[str], int] = {}
    for node in (n for n in plan_nodes(df) if n.isStreaming() == streaming):
        name = node.getClass().getSimpleName()
        if name == "StreamingRelation" and node.dataSource().className() == "parquet":
            opts = node.dataSource().options()
            root = Path(opts.apply("path"))
            if not root.is_dir():
                return None
            glob = opts.apply("pathGlobFilter") if opts.contains("pathGlobFilter") else "*"
            files.update(
                str(f) for f in root.glob(glob)
                if f.is_file() and not f.name.startswith(("_", "."))
            )
        elif name == "LogicalRelation" and (
            (relation := node.relation()).getClass().getSimpleName() == "HadoopFsRelation"
        ):
            uris = frozenset(relation.location().inputFiles())
            local = {unquote(u.path) for u in map(urlparse, uris) if u.scheme == "file"}
            if relation.fileFormat().getClass().getSimpleName() == "ParquetFileFormat" and (
                len(local) == len(uris)
            ):
                files |= local
            elif uris not in counted:  # the one count job: footers cannot serve it
                counted[uris] = df.sparkSession._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    df.sparkSession._jsparkSession, node
                ).count()
    if not files and not counted:
        return None
    return sum(counted.values()) + sum(pq.ParquetFile(f).metadata.num_rows for f in files)
