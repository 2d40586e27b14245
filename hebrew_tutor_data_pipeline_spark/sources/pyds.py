"""Custom connector on Spark 4's Python DataSource API (S3's
computed-path lookup as a REAL pluggable source).

The reference derives chapter audio paths from (book number, book code,
chapter) with an irregular-width branch and probes the filesystem for
each candidate (`scripts/hebrew_alignment_corrected.py:124-131`,
`fixed_hebrew_aligner.py:335-342`). Rounds 1-6 expressed that as a
DataFrame plan over a binaryFile scan; this module lifts it to the
engine-native connector surface: ``spark.read.format("hebrew_chapters")``
with options, schema, and one input partition PER BOOK directory so the
existence probing parallelizes across executors like any other scan.

Why this shape scales: partitions() returns lightweight partition
objects (one per book — thousands of books ⇒ thousands of independent
tasks); each task lists ONLY its own directory and computes its own
candidate grid, so no driver-side listing of a 100 TB tree ever
happens. A cloud-blob deployment swaps the ``os`` calls for its SDK
inside ``read()`` — the plan, schema, and partitioning are unchanged
(the same activation-slot discipline as the abfss connector,
sources/readers.py).
"""

from __future__ import annotations

import os
import re
from typing import Iterator

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..scope import set_conf

#: (book string, chapter int, ...) — the computed-candidate grid with
#: the probe result. `filename` is the COMPUTED candidate (2-digit form
#: unless the 3-digit probe hit — the Psalms-analog irregular branch).
CHAPTER_SCHEMA = (
    "book_num int, book string, abbr string, chapter int, "
    "filename string, exists boolean, size bigint"
)


def register_chapter_source(spark) -> None:
    """Register the connector on a session AND enable Python-source
    filter pushdown (`spark.sql.python.filterPushdown.enabled` — a
    runtime SQL conf, set here so a PLAIN driver session works: a
    reader that implements ``pushFilters`` hard-fails at planning when
    the flag is off). Idempotent."""
    set_conf(spark, "spark.sql.python.filterPushdown.enabled", "true")
    for source in (ChapterAudioDataSource, AlignmentJsonDataSource):
        try:
            spark.dataSource.register(source)
        except Exception:  # noqa: BLE001 — already registered this session
            pass


class _BookPartition(InputPartition):
    def __init__(self, dirname: str) -> None:
        self.dirname = dirname


class ChapterAudioDataSource(DataSource):
    """``format("hebrew_chapters")`` — options:

    - ``root``: directory holding ``NN_BookName/`` book directories
    - ``max_chapter``: candidate chapters probed per book (default 5)
    """

    @classmethod
    def name(cls) -> str:
        return "hebrew_chapters"

    def schema(self) -> str:
        return CHAPTER_SCHEMA

    def reader(self, schema) -> "ChapterAudioReader":
        return ChapterAudioReader(self.options)

    def streamReader(self, schema) -> "ChapterAudioStreamReader":
        return ChapterAudioStreamReader(self.options)


def _scan_book(root: str, dirname: str, max_chapter: int):
    """The per-partition probe, shared verbatim by the executor-side
    ``read()`` and the oracle builder (same function, same bytes —
    the digest-oracle discipline)."""
    m = re.match(r"^(\d+)_(.+)$", dirname)
    if not m:
        return
    book_num, book = int(m.group(1)), m.group(2)
    book_dir = os.path.join(root, dirname)
    present = {f for f in os.listdir(book_dir) if f.endswith(".mp3")}
    # the book code is connector metadata discovered from the partition's
    # own listing (first candidate match), not a driver-side table
    abbrs = sorted(
        {
            am.group(1)
            for f in present
            if (am := re.match(r"^\d+-([A-Za-z]+)_\d+\.mp3$", f))
        }
    )
    abbr = abbrs[0] if abbrs else book[:3]
    for ch in range(1, max_chapter + 1):
        two = f"{book_num:02d}-{abbr}_{ch:02d}.mp3"
        three = f"{book_num:02d}-{abbr}_{ch:03d}.mp3"  # Psalms-analog width
        name = three if three in present else two
        exists = name in present
        size = os.path.getsize(os.path.join(book_dir, name)) if exists else 0
        yield (book_num, book, abbr, ch, name, exists, size)


class ChapterAudioReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.root = options.get("root")
        if not self.root:
            raise ValueError("hebrew_chapters: the 'root' option is required")
        self.max_chapter = int(options.get("max_chapter", 5))
        #: accepted pushed predicates (None = unconstrained)
        self._book_num_eq: set[int] | None = None
        self._book_eq: set[str] | None = None

    def pushFilters(self, filters):
        """Predicate pushdown INTO the connector (Spark 4.1 Python
        DataSource API): equality on the partition-defining columns
        (``book_num`` / ``book``) prunes whole book directories before
        any task launches — the custom-source analog of parquet
        partition pruning, and the property that makes a
        1000-book-directory tree readable for a one-book query without
        1000 probe tasks. Everything else stays with Spark (yielded
        back); consumed filters are FULLY satisfied by pruning, since
        each partition carries exactly one (book_num, book)."""
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("book_num",):
                v = {int(f.value)}
                self._book_num_eq = v if self._book_num_eq is None else self._book_num_eq & v
            elif isinstance(f, EqualTo) and tuple(f.attribute) == ("book",):
                v = {str(f.value)}
                self._book_eq = v if self._book_eq is None else self._book_eq & v
            else:
                yield f

    def _keep(self, dirname: str) -> bool:
        m = re.match(r"^(\d+)_(.+)$", dirname)
        if not m:
            return False
        if self._book_num_eq is not None and int(m.group(1)) not in self._book_num_eq:
            return False
        if self._book_eq is not None and m.group(2) not in self._book_eq:
            return False
        return True

    def partitions(self) -> list[_BookPartition]:
        # driver lists only the TOP level (one entry per book), never
        # the files — the file probes run inside each task; pushed
        # book filters prune partitions right here
        return [
            _BookPartition(d)
            for d in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, d)) and self._keep(d)
        ]

    def read(self, partition: _BookPartition | None) -> Iterator[tuple]:
        # When every partition is pruned away, Spark still runs one task
        # with partition=None — an empty scan, not an error.
        if partition is None:
            return
        yield from _scan_book(self.root, partition.dirname, self.max_chapter)


class ChapterAudioStreamReader(DataSourceStreamReader):
    """The chapter tree as a MICRO-BATCH STREAM (T1 on the connector
    surface): book directories are consumed in listing order, the offset
    is simply "how many books have been ingested" — the Structured-
    Streaming analog of the reference's sequential book loop
    (`fixed_hebrew_aligner.py:724-731`), with replay and exactly-once
    bookkeeping for free from the checkpoint.

    Pacing: ``books_per_batch`` > 0 caps how far ``latestOffset``
    advances per trigger (a real incremental ingest — new crawl
    directories appearing over time); 0 (default) exposes everything at
    once, which is also what a ``Trigger.AvailableNow`` run sees: Spark
    wraps Python stream sources (no SupportsTriggerAvailableNow) in the
    snapshot-at-start wrapper, so the first ``latestOffset`` answer IS
    the run's end offset.

    Scale posture matches the batch reader: the driver holds one entry
    per book (the offset log is two ints per batch), each planned batch
    fans out one partition PER BOOK, and every file probe runs inside
    its task — no driver-side listing of the tree's files, ever."""

    def __init__(self, options: dict) -> None:
        self.root = options.get("root")
        if not self.root:
            raise ValueError("hebrew_chapters: the 'root' option is required")
        self.max_chapter = int(options.get("max_chapter", 5))
        self.books_per_batch = int(options.get("books_per_batch", 0))
        #: driver-side snapshot of the book list at stream start; a live
        #: deployment would re-list in latestOffset() to pick up new
        #: books (append-only ingest — the offset stays a prefix length)
        self._books = [
            d
            for d in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, d))
        ]
        self._cursor = 0

    def _trace(self, msg: str) -> None:
        # The stream reader lives in a separate Python worker process —
        # driver-side monkeypatching can't see it. HTDP_PYDS_TRACE=<path>
        # appends the reader's call sequence there for protocol debugging.
        path = os.environ.get("HTDP_PYDS_TRACE")
        if path:
            with open(path, "a") as f:
                f.write(f"{msg} (cursor={self._cursor})\n")

    def initialOffset(self) -> dict:
        self._trace("initialOffset()")
        return {"i": 0}

    def latestOffset(self) -> dict:
        # Monotone once the checkpoint position is known: a fresh
        # reader's first call has no committed-offset input (API limit),
        # but Spark's restart flow invokes partitions() on the logged
        # offsets BEFORE asking for a new batch (measured trace), so the
        # cursor is ratcheted past the checkpoint by the time this runs.
        step = self.books_per_batch or len(self._books)
        self._cursor = min(len(self._books), self._cursor + step)
        self._trace(f"latestOffset() -> {self._cursor}")
        return {"i": self._cursor}

    def partitions(self, start: dict, end: dict) -> list[_BookPartition]:
        # NO floor/clamp on the slice: Spark's restart flow probes
        # partitions(loggedEnd, loggedEnd) BEFORE replaying an
        # uncommitted batch (measured trace in tests — see
        # test_checkpoint_restart_exactly_once), so any "never slice
        # below a previously seen start" guard would suppress the replay
        # and LOSE data. Exactly-once across restarts is Spark's offset
        # log's job; ours is to honor every (start, end) verbatim and
        # keep the cursor ratcheted so latestOffset never regresses.
        self._cursor = max(self._cursor, start["i"], end["i"])
        self._trace(f"partitions({start}, {end})")
        return [_BookPartition(d) for d in self._books[start["i"] : end["i"]]]

    def read(self, partition: _BookPartition | None) -> Iterator[tuple]:
        if partition is None:
            return
        yield from _scan_book(self.root, partition.dirname, self.max_chapter)

    def commit(self, end: dict) -> None:
        # the source is a static fixture tree, so there is nothing to
        # release; a live ingest would GC acknowledged upstream resources
        # here — but the committed position still ratchets the cursor
        self._cursor = max(self._cursor, end["i"])
        self._trace(f"commit({end})")


@dataclass
class _StagedChapters(WriterCommitMessage):
    """Per-task commit message: where this task staged its chapter
    files, and which ones. Picklable (executor → driver)."""

    staging_dir: str = ""
    files: list = field(default_factory=list)


class AlignmentJsonDataSource(DataSource):
    """``df.write.format("hebrew_alignment_json")`` — the reference's
    per-chapter alignment JSON output (S7/S8,
    `scripts/hebrew_alignment_tool_gpu.py:589-609`) as an engine-native
    SINK with a real two-phase commit. Options:

    - ``path``: destination directory (one ``Book_CCC.json`` per chapter)

    Input schema contract: ``book string, chapter int, verse_num int,
    text string``; the caller repartitions by (book, chapter) so each
    task owns whole chapters.
    """

    @classmethod
    def name(cls) -> str:
        return "hebrew_alignment_json"

    def writer(self, schema, overwrite: bool) -> "AlignmentJsonWriter":
        return AlignmentJsonWriter(self.options, overwrite)


class AlignmentJsonWriter(DataSourceWriter):
    """Two-phase commit, the property that makes a 1000-task write safe:

    1. ``write`` (executor, per task): group the task's rows by
       (book, chapter), serialize each chapter to UTF-8 JSON (F15 —
       ``ensure_ascii=False``, the reference's ``ensure_ascii=False``
       at `hebrew_alignment_tool.py:468`) under a task-private
       ``_staging_<uuid>`` directory, return the manifest.
    2. ``commit`` (driver, only if EVERY task succeeded): rename each
       staged file into place (os.replace — atomic on a POSIX dir),
       then sweep ALL leftover staging dirs — including those of LOSING
       speculative duplicates, whose manifests never reach commit, so
       their output is discarded unseen (exactly-once per partition).
    3. ``abort``: remove staged output; the destination is untouched —
       a failed job leaves the previous contents fully intact, unlike
       the reference's in-place writes.

    The destination must be shared storage (NFS/cloud mount) on a real
    cluster — same contract as every file-based Spark sink."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hebrew_alignment_json: the 'path' option is required")
        self.overwrite = bool(overwrite)

    def write(self, iterator) -> _StagedChapters:
        import json
        import uuid

        chapters: dict[tuple, list] = {}
        for row in iterator:
            key = (row["book"], int(row["chapter"]))
            chapters.setdefault(key, []).append((int(row["verse_num"]), row["text"]))
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        files = []
        if chapters:
            os.makedirs(staging, exist_ok=True)
        for (book, ch), verses in sorted(chapters.items()):
            name = f"{book}_{ch:03d}.json"
            payload = {
                "book": book,
                "chapter": ch,
                "verses": [
                    {"verse": v, "text": t} for v, t in sorted(verses)
                ],
            }
            with open(os.path.join(staging, name), "w", encoding="utf-8") as f:
                json.dump(payload, f, ensure_ascii=False, sort_keys=True)
            files.append(name)
        return _StagedChapters(staging_dir=staging, files=files)

    def commit(self, messages) -> None:
        import glob
        import shutil

        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            for f in glob.glob(os.path.join(self.path, "*.json")):
                os.remove(f)
        for m in messages:
            if m is None or not m.files:
                continue
            for name in m.files:
                os.replace(
                    os.path.join(m.staging_dir, name), os.path.join(self.path, name)
                )
        # sweep every staging dir: committed ones (now empty) AND losing
        # speculative twins / empty-partition dirs never committed
        for d in glob.glob(os.path.join(self.path, "_staging_*")):
            shutil.rmtree(d, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8") as f:
            f.write("")

    def abort(self, messages) -> None:
        import glob
        import shutil

        for d in glob.glob(os.path.join(self.path, "_staging_*")):
            shutil.rmtree(d, ignore_errors=True)
