"""Source readers (SURVEY.md §2.1).

The reference loads a nested bible JSON eagerly into dicts
(`hebrew_alignment_tool.py:137-150`), globs MP3 directories
(`scripts/hebrew_audio_trimmer.py:270-297`), and derives per-file keys
from filenames (`fixed_hebrew_aligner.py:194-203`). Here every source is
a lazy DataFrame scan so Catalyst can push filters and prune columns
into the file format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from ..scope import set_conf

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader cannot decode natively: with spark.sql.legacy.parquet.nanosAsLong
# they arrive as LongType nanos and are converted here to microsecond
# timestamps (truncation — identical to DuckDB's ns→us narrowing).
NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one synthetic table. Plain ``spark.read.parquet``
    keeps predicate pushdown / column pruning / partition splitting in
    Catalyst's hands (S1-analog for the columnar path)."""
    if name in NANO_TS_COLS:
        # Must hold for any caller-supplied session (e.g. the driver's),
        # not only ones built by session.get_spark(); runtime-settable.
        set_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in NANO_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # Parquet written with tz-naive timestamps reads as TIMESTAMP_NTZ,
    # on which cast("double")/unix_micros() are illegal. The session tz
    # is pinned UTC (session.py), so NTZ→LTZ is lossless and matches how
    # the DuckDB oracle interprets the identical bytes. Normalizing at
    # the source keeps every downstream operator in one time domain; the
    # cast is a projection, so pushdown/pruning on other columns is
    # unaffected. (Operators stay NTZ-safe themselves via
    # functions.timeops for frames that don't come through here.)
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a scan whose input-split count is below
    the cluster's parallelism, so a compute-bound downstream stage (per-
    char hashing, vector scoring) uses every core.

    Small-SF parquet arrives as ONE split (a single file under
    maxPartitionBytes), which would serialize expression-heavy per-row
    work onto one task. The shuffle moved is just the raw rows —
    negligible against the interpreted higher-order-function work it
    parallelizes. At 100 TB inputs arrive with thousands of natural
    splits, the guard is false, and this is a no-op — so it is safe to
    leave in the operator path at any scale.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a pure metadata probe of the plan's FileIndex —
    # unlike df.rdd.getNumPartitions() it never builds the RDD lineage
    # (which costs ~2 s of driver time on first use). File count is a
    # conservative lower bound on split count: many files ⇒ already
    # parallel; one small file ⇒ one split ⇒ repartition.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = target
    if n_files >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TPCH_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_nested_json_corpus(spark: SparkSession, path: str, drop_keys: tuple[str, ...] = ("Aramaic",)) -> DataFrame:
    """S1: nested multi-line JSON corpus scan with key-filter.

    Reference: `hebrew_alignment_tool.py:137-150` loads
    ``Dict[book, [[chapter [verse [word]]]]]`` and deletes the 'Aramaic'
    key. Spark-first: read multiLine JSON, melt the map-of-books into
    rows with a stack of the top-level fields, filter declaratively.
    """
    raw = spark.read.option("multiLine", "true").json(path)
    cols = [c for c in raw.columns if c not in drop_keys]
    stacked = raw.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(*[F.col(c) for c in cols]),
            )
        ).alias("book", "chapters")
    )
    return stacked


def read_binary_files(spark: SparkSession, directory: str, glob: str = "*.mp3") -> DataFrame:
    """S2: directory/glob binary-file scan.

    Reference: `scripts/hebrew_audio_trimmer.py:270-297` builds glob
    patterns and os.walks the tree. Spark's binaryFile source gives the
    same inventory as a DataFrame (path, modificationTime, length,
    content) with partition-parallel listing.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(directory)
    )


def local_first_scan(
    spark: SparkSession,
    local_dir: str,
    remote_dir: str,
    glob: str = "*.mp3",
    with_content: bool = False,
) -> DataFrame:
    """S4: local-preferred, else-remote source coalesce.

    Reference: `hebrew_alignment_tool.py:152-175` `_get_audio_filename`
    — return the local path if it exists, otherwise download the blob
    with the same name, otherwise FileNotFoundError. Spark-first: scan
    BOTH trees lazily (the "remote" side is any Hadoop-FS-compatible
    URI — file://, s3a://, abfss:// — so no download step exists; the
    scan IS the fetch, and only for files that survive pruning), union
    with a source priority, keep the best-priority row per filename
    with one max_by aggregation. Files present in neither tree simply
    produce no row — the set-difference against an expected grid
    (``expected_grid``/J9) is the declarative FileNotFoundError.

    ``with_content`` False keeps the scan metadata-only (binaryFile
    prunes the ``content`` column when unreferenced) — resolving 1M
    files reads bytes from neither tree.
    """
    import os as _os

    cols = ["path", "length", "modificationTime"] + (["content"] if with_content else [])

    def root_uri(d: str) -> str:
        # the rendered `path` column is the fully-qualified Hadoop URI
        # (`file:/abs/...` for local FS, scheme://authority/... for
        # remote stores); normalize the scan root to that form so the
        # relkey is an exact prefix strip, never a pattern match.
        # `file:` roots are re-rendered through the same single-slash
        # spelling Hadoop emits: a caller passing `file:///abs/dir`
        # previously kept its spelling verbatim, the prefix never
        # matched, and EVERY row silently fell back to basename-only
        # identity — collapsing distinct same-basename files (ADVICE
        # r10). Authority-full `file://host/path` is not a local-FS
        # form this reader supports: rejected UPFRONT at call time
        # (ADVICE r11) rather than silently folding the host into the
        # path, which would surface later as a confusing whole-scan
        # raise_error (or a wrong-root prefix).
        if d.startswith("file://") and not d.startswith("file:///"):
            authority = d[len("file://"):].split("/", 1)[0]
            if authority:
                raise ValueError(
                    "local_first_scan: authority-full file URI "
                    f"'file://{authority}/...' is not a supported local-FS "
                    "form; use 'file:/abs/path', 'file:///abs/path', or a "
                    "plain path"
                )
        if d.startswith("file:"):
            return "file:/" + d[len("file:"):].lstrip("/").rstrip("/")
        if "://" in d:
            return d.rstrip("/")
        return "file:" + _os.path.abspath(d).rstrip("/")

    def scan(d: str, pri: int, src: str) -> DataFrame:
        # identity = path RELATIVE to this scan's root: the recursive
        # scan can surface the same basename at different depths within
        # one tree (two real files), and file identity across the
        # local/remote pair is "same place in the tree", not "same leaf
        # name anywhere". Strip the RESOLVED root prefix by length — a
        # regex keyed on the root's basename mis-keys when an ancestor
        # directory inside one tree happens to equal the other root's
        # basename (r9 advisor catch).
        prefix = root_uri(d) + "/"
        return (
            read_binary_files(spark, d, glob)
            .select(*cols)
            .withColumn("_pri", F.lit(pri))
            .withColumn("source", F.lit(src))
            .withColumn("filename", F.regexp_extract("path", r"([^/]+)$", 1))
            .withColumn(
                "_relkey",
                # a rendered path outside the resolved root prefix means
                # the normalization above missed a URI spelling — fail
                # LOUDLY rather than degrade to basename-only identity,
                # which merges distinct same-basename files at different
                # depths into one logical file (ADVICE r10)
                F.when(
                    F.col("path").startswith(F.lit(prefix)),
                    F.col("path").substr(F.lit(len(prefix) + 1), F.length("path")),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"local_first_scan: scanned path outside resolved root '{prefix}': "
                            ),
                            F.col("path"),
                        )
                    )
                ),
            )
        )

    both = scan(local_dir, 0, "local").unionByName(scan(remote_dir, 1, "remote"))
    # min_by over a struct keyed on priority: one shuffle on the relative
    # key, no join — at scale this is a plain aggregate over the listing
    picked = both.groupBy("_relkey").agg(
        F.min_by(F.struct("filename", *cols, "source"), F.col("_pri")).alias("best")
    )
    return picked.select("best.*")


def expected_grid(df: DataFrame, key_col: str, n_col: str, out_col: str = "chapter") -> DataFrame:
    """J9 helper: expected (key, 1..n) grid via sequence+explode.

    Reference: `fixed_hebrew_aligner.py:692` iterates
    ``range(1, len(chapters)+1)`` per book to probe for missing audio.

    ``sequence(1, n)`` DESCENDS when n < 1 (sequence(1, 0) = [1, 0]), so
    a zero-count key would emit two phantom grid rows instead of none —
    guard with an empty array, matching Python's empty ``range(1, 1)``.
    """
    return df.select(
        F.col(key_col),
        F.explode(
            F.when(
                F.col(n_col) >= 1,
                F.sequence(F.lit(1).cast("long"), F.col(n_col).cast("long")),
            ).otherwise(F.array().cast("array<long>"))
        ).alias(out_col),
    )


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: "StructType | str",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON scan that QUARANTINES malformed rows instead of failing the
    job or silently dropping them: PERMISSIVE mode routes any unparsable
    line's raw text into ``corrupt_col`` (good rows have it NULL), so a
    100 TB ingest keeps running and the bad rows stay queryable for
    audit — the distributed version of the reference's per-chapter
    try/except-and-log ingest (`fixed_hebrew_aligner.py` corpus load; it
    skips bad chapters but keeps no record of what it skipped).

    Spark requires the corrupt column to be part of the declared schema;
    this helper appends it. Callers split with
    ``df.filter(col(corrupt_col).isNull())`` / ``.isNotNull()``. Caveat
    (enforced by Spark): a query whose pruned columns are ONLY the
    corrupt column is rejected — select at least one data column with
    it, or cache the parsed frame first.
    """
    from pyspark.sql.types import StringType, StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    # copy before add(): StructType.add mutates in place, and corrupting
    # the CALLER's schema object (or double-appending on reuse) is a
    # silent action-at-a-distance bug
    schema = StructType(list(schema.fields)).add(corrupt_col, StringType())
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def conform_schema(df: DataFrame, target, on_extra: str = "drop") -> DataFrame:
    """Project a frame onto a target schema — the ingest-time guard for
    schema drift across crawl/snapshot generations (a field added in
    gen N+1, dropped in gen N+2, or re-typed must not break the
    standing pipeline).

    Reference counterpart: the reference tolerates shape drift with
    per-record defensive ``.get(...)`` chains
    (`fixed_hebrew_aligner.py:397-420` on drifting service-response
    JSON); at corpus scale conformance must be a declared projection,
    not per-record code.

    - columns missing from ``df`` materialize as typed NULLs;
    - present columns cast to the target type (cast semantics follow
      the session's ``spark.sql.ansi.enabled`` — run ingest with ANSI
      on so a narrowing that cannot represent a value FAILS the job;
      with ANSI off Spark's cast yields NULLs, as everywhere else);
    - extra columns are dropped (``on_extra='drop'``) or rejected
      (``on_extra='error'``).

    Name matching is CASE-INSENSITIVE (Spark's own default resolution —
    a generation delivering ``Doc_ID`` must conform onto ``doc_id``,
    not silently null it out) and dotted/special column names are
    addressed positionally, never parsed as struct paths.

    ``target`` is a ``StructType`` or a DDL string ("a long, b string").
    Column order and spelling follow the target, so downstream
    positional consumers (unions, writers) are stable across
    generations. Map-only — no shuffle, no data movement beyond the
    projection.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if on_extra not in ("drop", "error"):
        raise ValueError(f"on_extra must be 'drop' or 'error', got {on_extra!r}")
    if isinstance(target, str):
        target = StructType.fromDDL(target)
    want = {f.name.lower() for f in target.fields}
    # Source columns differing only by case are an AMBIGUOUS match for a
    # target field — dict last-wins would pick one arbitrarily and the
    # loser would vanish unreported. Mirror Spark's own
    # ambiguous-reference error instead of guessing.
    by_lower: dict[str, list[str]] = {}
    for name in df.columns:
        by_lower.setdefault(name.lower(), []).append(name)
    ambiguous = {k: v for k, v in by_lower.items() if len(v) > 1 and k in want}
    if ambiguous:
        raise ValueError(
            "ambiguous case-insensitive match for target column(s): "
            + "; ".join(f"{k!r} <- {v}" for k, v in sorted(ambiguous.items()))
        )
    have = {name.lower(): name for name in df.columns}
    extras = [c for c in df.columns if c.lower() not in want]
    if extras and on_extra == "error":
        raise ValueError(f"unexpected columns for target schema: {extras}")
    cols = []
    for f in target.fields:
        src = have.get(f.name.lower())
        if src is not None:
            cols.append(df[src].cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
