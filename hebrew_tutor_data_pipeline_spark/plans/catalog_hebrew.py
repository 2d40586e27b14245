"""Catalog part 3 — the Hebrew-corpus domain pipeline and remaining
scalar-function coverage (SURVEY.md §2 tags S1 P1 P2 P4 P6 J2 J6 W6
F4 F8–F12 F17).

The corpus queries run over the committed deterministic fixture
``tests/fixtures/bible_corpus.json`` (same nested
``Dict[book, [[chapter [verse [word]]]]]`` shape as the reference's
``hebrew_bible_with_nikkud.json``, including an 'Aramaic' key the P2
filter must drop) — they take ``sf_dir`` like every query but read the
fixture, since the corpus is a fixed-size dimension, not a fact table.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity
from ..operators import alignment, intervals
from ..scope import pin, scratch
from ..sources.readers import read_nested_json_corpus
from .catalog import CATALOG, T, _register
from .catalog_ml import (
    HASH_BASE,
    HASH_BASE2,
    HASH_MOD,
    HASH_MOD2,
    _sql_token_hash,
    _sql_token_hash2,
)

FIXTURE_CORPUS = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "bible_corpus.json"
)
FIXTURE_AUDIO_TREE = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "audio_tree"
)
FIXTURE_REMOTE_TREE = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "audio_remote_tree"
)

# Shared oracle CTE: nested JSON -> (book, chapter, verse_num, words)
_CORPUS_SQL = f"""
raw AS (SELECT json(content) AS j FROM read_text('{FIXTURE_CORPUS}')),
books AS (SELECT unnest(json_keys(j)) AS book, j FROM raw),
parsed AS (
  SELECT book,
         from_json(json_extract(j, '$."' || book || '"'), '[[["VARCHAR"]]]') AS chapters
  FROM books WHERE book <> 'Aramaic'),
chaps AS (
  SELECT book, unnest(chapters) AS verses,
         generate_subscripts(chapters, 1) AS chapter
  FROM parsed),
vs AS (
  SELECT book, chapter, unnest(verses) AS words,
         generate_subscripts(verses, 1) AS verse_num
  FROM chaps)
"""


def _corpus_translit_map() -> tuple[str, str]:
    """Injective map of every code point in the committed corpus fixture
    to a single-byte ASCII char. DuckDB's ``levenshtein`` is BYTE-based
    (multi-byte Hebrew inflates distances ~2× vs Python's code-point
    DP), but ``translate`` + this map preserves equality/inequality
    exactly, so edit distance over the transliterated strings equals the
    code-point distance the engine's ``_ratio`` computes. Computed at
    import from the fixture (committed, deterministic — same status as
    the inlined MinHash/LSH constants)."""
    import json

    with open(FIXTURE_CORPUS, encoding="utf-8") as f:
        corpus = json.load(f)
    chars: set[str] = set()
    for book, chapters in corpus.items():
        if book == "Aramaic":
            continue
        for ch in chapters:
            for verse in ch:
                for w in verse:
                    chars.update(w)
    src = "".join(sorted(chars))
    if len(src) > 90:  # ASCII pool bound; corpus fixture uses ~27
        raise ValueError(f"corpus alphabet too large to transliterate: {len(src)}")
    dst = "".join(chr(ord("!") + i) for i in range(len(src))).replace("'", "~").replace("\\", "|")
    return src, dst


# Import must survive a missing fixture tree (installed wheel, sparse
# checkout): the relational catalog has nothing to do with fixtures, so
# a FileNotFoundError here must degrade the fixture-derived oracles to
# rows-only (oracle=None) rather than break `import plans` wholesale.
try:
    _TR_SRC, _TR_DST = _corpus_translit_map()
    _FIXTURES_OK = True
except OSError:
    _TR_SRC = _TR_DST = ""
    _FIXTURES_OK = False


def _lev_sim_sql(a: str, b: str) -> str:
    """The engine's ``_ratio`` in DuckDB: 1 - lev/max(len), with both
    words transliterated to single-byte chars first (see
    ``_corpus_translit_map``); ``len`` is code-point on both engines.
    The src alphabet is SQL-escaped — a regenerated fixture containing
    an ASCII apostrophe/backslash (geresh is often transcribed ``'``)
    must not break the quoted literal."""
    src_sql = _TR_SRC.replace("'", "''")
    tr_a = f"translate({a}, '{src_sql}', '{_TR_DST}')"
    tr_b = f"translate({b}, '{src_sql}', '{_TR_DST}')"
    return (
        f"1.0 - levenshtein({tr_a}, {tr_b})::DOUBLE"
        f" / greatest(len({a}), len({b}))"
    )


def corpus_verses_df(spark: SparkSession) -> DataFrame:
    """S1+P1+P2: nested corpus scan → one row per verse, 1-indexed
    (`hebrew_alignment_tool.py:137-206`). Keeps the words array for
    downstream W3 spreading."""
    stacked = read_nested_json_corpus(spark, FIXTURE_CORPUS)
    return (
        stacked.select("book", F.posexplode("chapters").alias("c0", "verses"))
        .select(
            "book",
            (F.col("c0") + 1).alias("chapter"),
            F.posexplode("verses").alias("v0", "words"),
        )
        .select(
            "book",
            "chapter",
            (F.col("v0") + 1).alias("verse_num"),
            F.col("words"),
        )
    )


@_register(
    "corpus_verses",
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT book, chapter, verse_num,
       array_to_string(words, ' ') AS text,
       len(words) AS word_count
FROM vs
""",
    tags=("S1", "P1", "P2", "F4", "A3"),
)
def corpus_verses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 nested JSON corpus scan + P1 double posexplode with 1-indexing
    + P2 'Aramaic' key filter + F4 array join — the reference's
    `_extract_chapter_text` as one declarative plan."""
    return corpus_verses_df(spark).select(
        "book",
        "chapter",
        "verse_num",
        F.concat_ws(" ", "words").alias("text"),
        F.size("words").alias("word_count"),
    )


@_register(
    "corpus_first_chapters_sample",
    oracle=f"""
WITH {_CORPUS_SQL},
first_books AS (
    SELECT book FROM (SELECT DISTINCT book FROM vs ORDER BY book LIMIT 5)
)
SELECT book, chapter, verse_num,
       array_to_string(words, ' ') AS text,
       len(words) AS word_count
FROM vs
WHERE chapter <= 2 AND book IN (SELECT book FROM first_books)
""",
    tags=("P7", "O2", "S1"),
)
def corpus_first_chapters_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 first-N sampling predicate — the reference's smoke-run scoping
    (`fixed_hebrew_aligner.py:180-184,803`): first 2 chapters per book,
    first 5 books only. The book cut is a LIMIT over the tiny distinct
    book list semi-joined back (broadcast at any corpus size — the
    sampled key set is bounded by N, never by the data), the chapter cut
    a plain pushed-down predicate."""
    # the book cut comes from the UNFILTERED corpus (matching the
    # oracle's DISTINCT over vs): a book whose verses all sit in
    # chapters >2 still occupies one of the 5 slots, as the reference's
    # "first 5 books" file cut would
    vs_all = corpus_verses_df(spark)
    first_books = (
        vs_all.select("book").distinct().orderBy("book").limit(5)
    )
    return (
        vs_all.filter(F.col("chapter") <= 2)
        .join(F.broadcast(first_books), "book", "semi")
        .select(
            "book",
            "chapter",
            "verse_num",
            F.concat_ws(" ", "words").alias("text"),
            F.size("words").alias("word_count"),
        )
    )


@_register(
    "corpus_grand_summary",
    # A11 grand corpus summaries (`hebrew_alignment_optimized.py:205`:
    # total_chapters = sum(len(chapters))): one row of corpus-wide
    # totals. Integer sums are CAST — bare DuckDB sum() is HUGEINT.
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT CAST(count(DISTINCT book) AS BIGINT) AS n_books,
       CAST(count(DISTINCT book || '/' || chapter) AS BIGINT) AS n_chapters,
       CAST(count(*) AS BIGINT) AS n_verses,
       CAST(sum(len(words)) AS BIGINT) AS n_words
FROM vs
""",
    tags=("A11", "A3", "A4"),
)
def corpus_grand_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 grand summaries of the corpus: books / chapters / verses /
    words in one partial-aggregated pass (map-side combine; the
    distinct counts shuffle only the tiny key sets)."""
    return corpus_verses_df(spark).agg(
        F.countDistinct("book").alias("n_books"),
        F.countDistinct("book", "chapter").alias("n_chapters"),
        F.count(F.lit(1)).alias("n_verses"),
        F.sum(F.size("words")).alias("n_words"),
    )


@_register(
    "corpus_word_spread",
    oracle=f"""
WITH {_CORPUS_SQL},
wc AS (
  SELECT book, chapter, verse_num, words, len(words) AS word_count
  FROM vs WHERE chapter <= 3),
dur AS (SELECT *, 60.0 + 10.0 * chapter AS total_duration FROM wc),
alloc AS (
  SELECT book, chapter, verse_num, words, word_count,
         word_count / sum(word_count) OVER (PARTITION BY book, chapter)
             * total_duration AS dur
  FROM dur),
bounds AS (
  SELECT book, chapter, verse_num, words, word_count, dur,
         round(coalesce(sum(dur) OVER (PARTITION BY book, chapter
                        ORDER BY verse_num
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + 0.0000001, 2) AS start
  FROM alloc),
bounds2 AS (
  SELECT *, round(sum(dur) OVER (PARTITION BY book, chapter
                  ORDER BY verse_num
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            + 0.0000001, 2) AS "end" FROM bounds)
SELECT book, chapter, verse_num,
       unnest(words) AS word,
       generate_subscripts(words, 1) AS word_pos,
       round(start + (generate_subscripts(words, 1) - 1)
             * (("end" - start) / word_count) + 0.0000001, 2) AS word_start,
       round(start + generate_subscripts(words, 1)
             * (("end" - start) / word_count) + 0.0000001, 2) AS word_end
FROM bounds2
""",
    tags=("W2", "W3", "P4", "P6", "J1"),
    bench=True,
)
def corpus_word_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full estimation-only alignment pipeline (the reference's only
    929/929 path, `scripts/hebrew_alignment_clean_fixed.py`): verses →
    P4 chapter range filter → word-density W2 allocation against a
    per-chapter duration dim → W3 uniform word spread. Entirely
    declarative SQL — no UDFs, the Catalyst-native rewrite of
    `hebrew_alignment_optimized.py:494-554`."""
    wc = (
        corpus_verses_df(spark)
        .filter(F.col("chapter") <= 3)  # P4 range predicate
        .withColumn("word_count", F.size("words"))
        .withColumn("total_duration", F.lit(60.0) + F.lit(10.0) * F.col("chapter"))
    )
    alloc = alignment.allocate_proportional(
        wc,
        group_cols=["book", "chapter"],
        order_col="verse_num",
        weight_col="word_count",
        total_col="total_duration",
    )
    spread = alignment.spread_uniform(
        alloc.select("book", "chapter", "verse_num", "words", "word_count", "start", "end"),
        "words",
        "start",
        "end",
    )
    return spread.select(
        "book", "chapter", "verse_num", "word", "word_pos", "word_start", "word_end"
    )


@_register(
    "verse_at_time",
    # The consumer-facing viewer query (`standalone_hebrew_tester.html:
    # 458-492`): playback time → FIRST verse/word whose [start, end]
    # contains it (inclusive bounds, array order = (verse_num, word_pos)
    # ascending). Probe times derive in integer centiseconds
    # ((dur_centi·k) // 10, k ∈ {1,3,5,7,9} — 10%..90% of each track) so
    # both engines build bit-identical probe doubles; the word bounds
    # are the already-hash-matched corpus_word_spread doubles, composed
    # verbatim.
    oracle="""
WITH wsp AS ({}),
dur AS (
  SELECT book, chapter,
         CAST(floor(max(word_end) * 100 + 0.5) AS BIGINT) AS dur_centi
  FROM wsp GROUP BY book, chapter),
probes AS (
  SELECT book, chapter, (dur_centi * k.k // 10) / 100.0 AS t
  FROM dur CROSS JOIN (SELECT unnest([1, 3, 5, 7, 9]) AS k) k),
hits AS (
  SELECT p.book, p.chapter, p.t, w.verse_num, w.word_pos, w.word,
         row_number() OVER (PARTITION BY p.book, p.chapter, p.t
                            ORDER BY w.verse_num, w.word_pos) AS rn
  FROM probes p
  LEFT JOIN wsp w ON w.book = p.book AND w.chapter = p.chapter
                 AND p.t >= w.word_start AND p.t <= w.word_end)
SELECT book, chapter, t, verse_num, word_pos, word
FROM hits WHERE rn = 1
""".format(CATALOG["corpus_word_spread"].oracle),
    tags=("J7", "viewer", "point-lookup"),
)
def verse_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup form of J7 — the HTML viewer's time→verse/word query
    as a prepared plan over the alignment output: bin the probe time,
    equi-join (book, chapter, bin) against the binned word intervals,
    re-check containment, keep the first match in verse order. With a
    literal probe the bin folds to a constant and prunes the interval
    scan — the sub-second serving path (bench_runs/r08_point_lookup.json
    measured it against a partitioned serving layout; perfbench's traced
    chapter_align run measures it as ``lookup.*``)."""
    words = corpus_word_spread(spark, sf_dir)
    dur = words.groupBy("book", "chapter").agg(
        F.floor(F.max("word_end") * 100 + F.lit(0.5)).cast("long").alias("dur_centi")
    )
    probes = dur.select(
        "book",
        "chapter",
        F.explode(F.array(*[F.lit(k) for k in (1, 3, 5, 7, 9)])).alias("k"),
        "dur_centi",
    ).select(
        "book",
        "chapter",
        (F.expr("(dur_centi * k) div 10") / F.lit(100.0)).alias("t"),
    )
    hits = intervals.point_in_interval_join(
        probes,
        words,
        "t",
        "word_start",
        "word_end",
        bin_width=5.0,
        how="left",
        keys=("book", "chapter"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("book", "chapter", "t").orderBy("verse_num", "word_pos")
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("book", "chapter", "t", "verse_num", "word_pos", "word")
    )


@_register(
    "transcribe_chapter",
    oracle=f"""
WITH {_CORPUS_SQL},
tok AS (
  SELECT book, chapter, verse_num,
         unnest(words) AS word,
         generate_subscripts(words, 1) AS wpos
  FROM vs),
seq AS (
  SELECT book, chapter, word,
         row_number() OVER (PARTITION BY book, chapter
                            ORDER BY verse_num, wpos) - 1 AS word_idx,
         count(*) OVER (PARTITION BY book, chapter) AS n,
         60000 + 10000 * chapter AS d
  FROM tok),
kept AS (
  SELECT *, ((word_idx * d) // n) // 20000 AS chunk_idx
  FROM seq WHERE word_idx % 7 <> 6)
SELECT book, chapter,
       CAST(word_idx AS INTEGER) AS word_idx, word,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       chunk_idx * 20000 AS start_ms,
       least((chunk_idx + 1) * 20000, d) AS end_ms,
       (ascii(substr(md5(word), 1, 1)) % 50 + 50) / 100.0 AS confidence
FROM kept
""",
    tags=("U1", "U2", "U3"),
    bench=True,
)
def transcribe_chapter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1–U3 mock ASR over whole chapters: verse rows are rolled up to
    one ordered chapter text (array_sort on verse_num keeps
    collect_list deterministic), joined with a per-chapter duration
    dim, then transcribed by the executor-singleton fake model in
    ``operators/transcribe.py`` — chunked 20 s word timestamps exactly
    as `hebrew_alignment_tool.py:216-251`, every 7th token dropped to
    simulate ASR misses. The fake's integer-ms arithmetic is mirrored
    exactly by the DuckDB oracle, so this runs the full value-hash gate
    despite being a mapInPandas operator."""
    from ..operators import transcribe

    ch = chapter_texts(spark).withColumn(
        "duration_ms",
        (F.lit(60000) + F.lit(10000) * F.col("chapter")).cast("long"),
    )
    return transcribe.transcribe_words(ch, id_cols=["book", "chapter"], drop_every=7)


def chapter_texts(spark: SparkSession) -> DataFrame:
    """Roll verse rows up to one ordered full-text row per chapter
    (`hebrew_alignment_tool.py:177-206` `_extract_chapter_text`).
    array_sort on the (verse_num, words) structs makes collect_list
    deterministic regardless of partition arrival order."""
    return (
        corpus_verses_df(spark)
        .groupBy("book", "chapter")
        .agg(F.array_sort(F.collect_list(F.struct("verse_num", "words"))).alias("vs"))
        .select(
            "book",
            "chapter",
            F.concat_ws(" ", F.flatten("vs.words")).alias("text"),
        )
    )


@_register(
    "audio_inventory",
    oracle=f"""
SELECT regexp_extract(filename, '(\\d+)-([A-Za-z]+)_(\\d+)\\.mp3$', 2) AS abbr,
       CAST(regexp_extract(filename, '(\\d+)-([A-Za-z]+)_(\\d+)\\.mp3$', 3) AS INTEGER)
           AS chapter,
       size AS length
FROM read_blob('{FIXTURE_AUDIO_TREE}/**/*.mp3')
WHERE size >= 1024
""",
    tags=("S2", "S3", "F7", "P3"),
)
def audio_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 binary glob scan of the NN_Book/NN-Abbr_CC.mp3 tree with S3/F7
    filename-key parsing (`scripts/hebrew_audio_trimmer.py:270-297`,
    `fixed_hebrew_aligner.py:194-203`). The binaryFile source lists
    partition-parallel; the length predicate (P3 validity gate ≥1 KB)
    stays in the scan."""
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3")
    return files.filter(F.col("length") >= 1024).select(
        F.regexp_extract("path", r"(\d+)-([A-Za-z]+)_(\d+)\.mp3$", 2).alias("abbr"),
        F.regexp_extract("path", r"(\d+)-([A-Za-z]+)_(\d+)\.mp3$", 3)
        .cast("int")
        .alias("chapter"),
        F.col("length"),
    )


@_register(
    "nfc_normalize_corpus",
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT book, chapter, verse_num,
       nfc_normalize(array_to_string(words, ' ') || ' qa' || chr(769)) AS nfc_text,
       (array_to_string(words, ' ') || ' qa' || chr(769))
           <> nfc_normalize(array_to_string(words, ' ') || ' qa' || chr(769)) AS changed
FROM vs
""",
    tags=("F16",),
)
def nfc_normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 Unicode NFC normalization (pandas UDF — Java regex cannot
    express it; `scripts/convert_hebrew_grammar_pdf.py:120-145`) under
    the full value-hash gate: both engines must produce byte-identical
    NFC output for nikkud-bearing Hebrew verse text. A decomposed
    'a'+U+0301 suffix is appended so the normalizer provably rewrites
    (every ``changed`` row must be true, not vacuously false)."""
    from ..functions.hebrew import nfc_normalize

    # decomposed a + combining U+0301 as an explicit escape (an 'á'
    # typed composed in source would give the normalizer nothing to do)
    raw = F.concat(F.concat_ws(" ", "words"), F.lit(" qa\u0301"))
    return corpus_verses_df(spark).select(
        "book",
        "chapter",
        "verse_num",
        nfc_normalize(raw).alias("nfc_text"),
        (raw != nfc_normalize(raw)).alias("changed"),
    )


@_register(
    "local_first_audio",
    oracle=f"""
WITH loc AS (
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           regexp_extract(filename, '/{Path(FIXTURE_AUDIO_TREE).name}/(.*)$', 1) AS rel,
           size, 0 AS pri
    FROM read_blob('{FIXTURE_AUDIO_TREE}/**/*.mp3')),
rem AS (
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           regexp_extract(filename, '/{Path(FIXTURE_REMOTE_TREE).name}/(.*)$', 1) AS rel,
           size, 1 AS pri
    FROM read_blob('{FIXTURE_REMOTE_TREE}/**/*.mp3')),
u AS (SELECT * FROM loc UNION ALL SELECT * FROM rem)
SELECT min_by(fname, pri) AS filename,
       min_by(size, pri) AS length,
       CASE WHEN min(pri) = 0 THEN 'local' ELSE 'remote' END AS source
FROM u GROUP BY rel
""",
    tags=("S4", "S2"),
)
def local_first_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 local-preferred source coalesce
    (`hebrew_alignment_tool.py:152-175`): files in both trees resolve
    to the local copy (the fixture's Gen_01 exists in both with
    different sizes, so the value hash proves which side won), files
    only in the 'remote' tree are served from there, and the
    metadata-only scan never reads content bytes."""
    from ..sources.readers import local_first_scan

    return local_first_scan(
        spark, FIXTURE_AUDIO_TREE, FIXTURE_REMOTE_TREE, glob="*.mp3"
    ).select("filename", "length", "source")


def _chapter_pyds_oracle() -> str:
    """Replays the connector's per-partition probe (the SAME
    ``_scan_book`` function the executors run) over the committed
    fixture tree at oracle-build time and inlines the rows — the
    digest-oracle pattern applied to a custom data source."""
    import os

    from ..sources.pyds import _scan_book

    rows = []
    for d in sorted(os.listdir(FIXTURE_AUDIO_TREE)):
        if os.path.isdir(os.path.join(FIXTURE_AUDIO_TREE, d)):
            rows.extend(_scan_book(FIXTURE_AUDIO_TREE, d, 4))
    if not rows:
        raise OSError("no committed audio fixtures found")
    vals = ",\n  ".join(
        f"({bn}, '{bk}', '{ab}', {ch}, '{fn}', {str(ex).upper()}, {sz})"
        for bn, bk, ab, ch, fn, ex, sz in rows
    )
    return f"""
WITH t(book_num, book, abbr, chapter, filename, "exists", size) AS (VALUES
  {vals})
SELECT CAST(book_num AS INTEGER) AS book_num, book, abbr,
       CAST(chapter AS INTEGER) AS chapter, filename, "exists",
       CAST(size AS BIGINT) AS size
FROM t
"""


try:
    _CHAPTER_PYDS_ORACLE: str | None = _chapter_pyds_oracle()
except OSError:
    _CHAPTER_PYDS_ORACLE = None


@_register(
    "chapter_source_pyds",
    oracle=_CHAPTER_PYDS_ORACLE,
    tags=("S2", "S3", "S4"),
)
def chapter_source_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3's computed-path lookup as a REAL pluggable connector on Spark
    4's Python DataSource API (``spark.read.format("hebrew_chapters")``):
    one input partition per book directory, candidate filenames computed
    per chapter with the irregular 3-digit fallback
    (`scripts/hebrew_alignment_corrected.py:124-131`), existence + size
    probed inside each task. The engine's scans are no longer only
    built-in formats — a user can plug the reference's path conventions
    in as a first-class source with schema, options, and parallel
    partitions (sources/pyds.py has the 100 TB posture notes)."""
    from ..sources.pyds import register_chapter_source

    register_chapter_source(spark)
    return (
        spark.read.format("hebrew_chapters")
        .option("root", FIXTURE_AUDIO_TREE)
        .option("max_chapter", 4)
        .load()
    )


@_register(
    "chapter_source_pyds_pruned",
    # The pruned replay: only Obadiah's directory survives pushdown.
    oracle=None if _CHAPTER_PYDS_ORACLE is None else (
        "SELECT * FROM (" + _CHAPTER_PYDS_ORACLE + ") WHERE book_num = 18"
    ),
    tags=("S2", "S3", "P6"),
)
def chapter_source_pyds_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO the custom connector (Spark 4.1
    ``pushFilters``): an equality on the partition-defining column
    reaches ``ChapterAudioReader.pushFilters`` and prunes whole book
    directories BEFORE any task launches — the custom-source analog of
    parquet partition pruning (P6), proven by
    tests/test_sources_sinks.py asserting partitions() shrinks to one.
    At 1000 book directories a one-book query runs one task, not 1000
    existence probes."""
    from ..sources.pyds import register_chapter_source

    register_chapter_source(spark)
    return (
        spark.read.format("hebrew_chapters")
        .option("root", FIXTURE_AUDIO_TREE)
        .option("max_chapter", 4)
        .load()
        .filter(F.col("book_num") == 18)
    )


@_register(
    "streaming_chapter_source_pyds",
    # The stream replays exactly the batch scan's rows (append mode, no
    # state), so the batch oracle serves unchanged.
    oracle=_CHAPTER_PYDS_ORACLE,
    tags=("S2", "S3", "T1"),
)
def streaming_chapter_source_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's STREAMING face (Spark 4 ``streamReader``) under
    the gate: ``spark.readStream.format("hebrew_chapters")`` ingests the
    book tree as micro-batches (offset = books consumed — the
    reference's sequential book loop as a replayable stream), through
    the idempotent append-mode parquet sink, read back after the run.
    Rows are identical to the batch scan, which is the point: one
    connector, one schema, one probe function serving both
    ``read`` and ``readStream`` — the Spark-native version of the
    reference running the same chapter loop in one-shot and
    resume-daemon modes (`fixed_hebrew_aligner.py:724-731`)."""
    from ..sources.pyds import register_chapter_source
    from ..streaming.sources import run_available_now_to_parquet

    register_chapter_source(spark)
    stream = (
        spark.readStream.format("hebrew_chapters")
        .option("root", FIXTURE_AUDIO_TREE)
        .option("max_chapter", 4)
        .load()
    )
    return run_available_now_to_parquet(
        stream,
        output_mode="append",
        query_name="chapter_source_pyds_stream",
    )


@_register(
    "alignment_sink_pyds_commit",
    # Same contract as alignment_sink_roundtrip: what is read back must
    # equal what was written, so the corpus oracle serves both.
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT book, chapter, verse_num, array_to_string(words, ' ') AS text
FROM vs WHERE book IN ('Gen', 'Obad')
""",
    tags=("S7", "S8", "S13", "F15"),
)
def alignment_sink_pyds_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 on the engine-native WRITER surface
    (``df.write.format("hebrew_alignment_json")``): the corpus verses
    flow through the custom Python DataSource sink — executor tasks
    stage one UTF-8 JSON per chapter, the driver's two-phase commit
    renames them into place only after every task succeeds — then the
    committed files are read back and returned. Tasks own whole
    chapters via repartition(book, chapter); a failed or speculative
    task can never leave a torn or duplicate chapter file (contrast the
    reference's non-atomic in-place writes,
    `scripts/hebrew_alignment_tool_gpu.py:589-609`)."""
    from ..sources.pyds import register_chapter_source

    register_chapter_source(spark)
    out = str(scratch(spark, "pyds_alignment_sink"))
    verses = corpus_verses_df(spark).filter(F.col("book").isin("Gen", "Obad")).select(
        "book", "chapter", "verse_num", F.concat_ws(" ", "words").alias("text")
    )
    (
        verses.repartition("book", "chapter")
        .write.format("hebrew_alignment_json")
        .mode("overwrite")
        .option("path", out)
        .save()
    )
    chapters = (
        spark.read.schema(
            "book string, chapter int, verses array<struct<text string, verse int>>"
        )
        .option("pathGlobFilter", "*.json")
        .json(out)
    )
    v = F.explode("verses").alias("v")
    return chapters.select("book", "chapter", v).select(
        "book",
        "chapter",
        F.col("v.verse").alias("verse_num"),
        F.col("v.text").alias("text"),
    )


def audio_duration_dim(spark: SparkSession) -> DataFrame:
    """S2/S3 audio inventory with fake-decode durations at a
    deterministic 10 ms/byte (integer math so mock transcription
    timings are exact; rate chosen so the 2-5 KB fixture chapters span
    MULTIPLE 20 s chunks and chunked timestamps vary per verse)."""
    from ..sources.readers import read_binary_files

    return (
        read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3")
        .filter(F.col("length") >= 1024)
        .select(
            F.regexp_extract("path", r"(\d+)-([A-Za-z]+)_(\d+)\.mp3$", 2).alias("book"),
            F.regexp_extract("path", r"(\d+)-([A-Za-z]+)_(\d+)\.mp3$", 3)
            .cast("int")
            .alias("chapter"),
            (F.col("length") * 10).cast("long").alias("duration_ms"),
        )
    )


def aligned_verse_rollup(spark: SparkSession, ch: DataFrame) -> DataFrame:
    """Stages 3-5 of `process_chapter`: mock ASR (U1-U3, every 7th token
    dropped) → J5 cursor alignment of corpus tokens vs transcript →
    W6 per-verse rollup. ``ch`` = (book, chapter, text, duration_ms)."""
    from pyspark.sql import Window

    from ..operators import transcribe

    trans = transcribe.transcribe_words(
        ch, id_cols=["book", "chapter"], drop_every=7
    ).withColumn("chkey", F.concat_ws("_", "book", "chapter"))

    toks = (
        corpus_verses_df(spark)
        .select("book", "chapter", "verse_num", F.posexplode("words").alias("wpos", "word"))
        .withColumn(
            "token_idx",
            F.row_number().over(
                Window.partitionBy("book", "chapter").orderBy("verse_num", "wpos")
            )
            - 1,
        )
        .withColumn("chkey", F.concat_ws("_", "book", "chapter"))
    )
    aligned = alignment.fuzzy_cursor_align(
        toks,
        trans,
        group_col="chkey",
        ref_order_col="token_idx",
        ref_word_col="word",
        trans_order_col="word_idx",
        trans_word_col="word",
        trans_start_col="start_ms",
        trans_end_col="end_ms",
        window=5,
        threshold=0.6,
    ).withColumnRenamed("group_key", "chkey")

    # The hint fixes the build side. Without it AQE broadcast whichever
    # side's shuffle finished first, so the job count varied (12 or 13).
    return (
        aligned.join(
            F.broadcast(
                toks.select("chkey", F.col("token_idx").alias("ref_idx"), "book", "chapter", "verse_num")
            ),
            ["chkey", "ref_idx"],
        )
        .groupBy("book", "chapter", "verse_num")
        .agg(
            F.count("*").alias("word_count"),
            F.sum("matched").alias("n_matched"),
            F.min("start").cast("long").alias("verse_start_ms"),
            F.max("end").cast("long").alias("verse_end_ms"),
            # similarity is 6dp-gridded, so a float mean's exact value
            # lands ON a 6dp round boundary ~1% of groups — summation
            # order then decides the hash. Integer micro-unit sum is
            # exact and order-independent; NULL when nothing matched.
            F.round(
                F.sum(
                    F.when(
                        F.col("matched") == 1,
                        F.floor(F.col("similarity") * F.lit(1000000) + F.lit(0.5)),
                    )
                ).cast("double")
                / F.lit(1000000.0)
                / F.sum("matched"),
                6,
            ).alias("mean_sim"),
        )
    )


# Shared oracle machinery for the chapter pipelines: corpus tokens +
# audio-duration dim + mock-ASR transcript + the J5 cursor as a
# recursive CTE (chapters advance in lockstep on ref index; LATERAL
# argmax over the 5-word window; `sim > 0.0` mirrors the Python loop's
# strict `>` against its 0.0 seed). The same technique as the
# cursor_align_tokens oracle, composed with the transcribe_chapter and
# audio_inventory oracle pieces — so the reference's entry point 1
# (`hebrew_alignment_tool.py:417-464`) runs under the full value-hash
# gate end-to-end.
_ALIGN_PIPE_SQL = f"""
tok AS (
  SELECT book, chapter, verse_num, unnest(words) AS word,
         generate_subscripts(words, 1) AS wpos
  FROM vs),
dur AS (
  SELECT regexp_extract(filename, '(\\d+)-([A-Za-z]+)_(\\d+)\\.mp3$', 2) AS book,
         CAST(regexp_extract(filename, '(\\d+)-([A-Za-z]+)_(\\d+)\\.mp3$', 3) AS INTEGER) AS chapter,
         size * 10 AS duration_ms
  FROM read_blob('{FIXTURE_AUDIO_TREE}/**/*.mp3') WHERE size >= 1024),
chd AS (
  SELECT r.book, r.chapter, d.duration_ms
  FROM (SELECT DISTINCT book, chapter FROM tok) r
  JOIN dur d ON d.book = r.book AND d.chapter = r.chapter),
refs AS (
  SELECT t.book, t.chapter, t.verse_num, t.word,
         row_number() OVER (PARTITION BY t.book, t.chapter
                            ORDER BY t.verse_num, t.wpos) - 1 AS ri
  FROM tok t JOIN chd c ON c.book = t.book AND c.chapter = t.chapter),
seq AS (
  SELECT t.book, t.chapter, t.word,
         row_number() OVER (PARTITION BY t.book, t.chapter
                            ORDER BY t.verse_num, t.wpos) - 1 AS word_idx,
         count(*) OVER (PARTITION BY t.book, t.chapter) AS n,
         c.duration_ms AS d
  FROM tok t JOIN chd c ON c.book = t.book AND c.chapter = t.chapter),
kept AS (
  SELECT *, ((word_idx * d) // n) // 20000 AS chunk_idx
  FROM seq WHERE word_idx % 7 <> 6),
trans AS (
  SELECT book, chapter,
         row_number() OVER (PARTITION BY book, chapter ORDER BY word_idx) - 1 AS j,
         word AS tw,
         CAST(chunk_idx * 20000 AS DOUBLE) AS ts,
         CAST(least((chunk_idx + 1) * 20000, d) AS DOUBLE) AS te
  FROM kept),
nref AS (SELECT book, chapter, max(ri) AS mx FROM refs GROUP BY book, chapter),
step AS (
  SELECT book, chapter, 0 AS ri, 0 AS cur FROM nref
  UNION ALL
  SELECT s.book, s.chapter, s.ri + 1,
         CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.j + 1 ELSE s.cur END
  FROM step s
  JOIN refs r ON r.book = s.book AND r.chapter = s.chapter AND r.ri = s.ri
  JOIN nref n ON n.book = s.book AND n.chapter = s.chapter
  LEFT JOIN LATERAL (
    SELECT t.j, {_lev_sim_sql('r.word', 't.tw')} AS sim
    FROM trans t
    WHERE t.book = s.book AND t.chapter = s.chapter
      AND t.j >= s.cur AND t.j < s.cur + 5
    ORDER BY sim DESC, t.j ASC LIMIT 1
  ) b ON TRUE
  WHERE s.ri < n.mx),
al AS (
  SELECT s.book, s.chapter, r.verse_num,
         CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN 1 ELSE 0 END AS matched,
         CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.ts END AS start,
         CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.te END AS "end",
         round(coalesce(CASE WHEN b.sim > 0.0 THEN b.sim END, 0.0), 6) AS similarity
  FROM step s
  JOIN refs r ON r.book = s.book AND r.chapter = s.chapter AND r.ri = s.ri
  LEFT JOIN LATERAL (
    SELECT t.j, t.ts, t.te, {_lev_sim_sql('r.word', 't.tw')} AS sim
    FROM trans t
    WHERE t.book = s.book AND t.chapter = s.chapter
      AND t.j >= s.cur AND t.j < s.cur + 5
    ORDER BY sim DESC, t.j ASC LIMIT 1
  ) b ON TRUE)
"""


@_register(
    "chapter_pipeline_fallback",
    oracle=None if not _FIXTURES_OK else f"""
WITH RECURSIVE {_CORPUS_SQL},
{_ALIGN_PIPE_SQL},
aligned AS (
  SELECT book, chapter, verse_num,
         count(*) AS word_count,
         CAST(min(start) AS BIGINT) AS start_ms,
         CAST(max("end") AS BIGINT) AS end_ms,
         round(CAST(sum(CASE WHEN matched = 1
                             THEN CAST(floor(similarity * 1000000 + 0.5) AS BIGINT)
                        END) AS DOUBLE) / 1000000.0
               / sum(matched), 6) AS confidence,
         'aligned' AS source
  FROM al GROUP BY book, chapter, verse_num),
est AS (
  SELECT v.book, v.chapter, v.verse_num,
         len(v.words) AS word_count,
         CAST(coalesce(sum(len(v.words)) OVER (PARTITION BY v.book, v.chapter
              ORDER BY v.verse_num
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 400 AS BIGINT) AS start_ms,
         CAST((coalesce(sum(len(v.words)) OVER (PARTITION BY v.book, v.chapter
              ORDER BY v.verse_num
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + len(v.words)) * 400
              AS BIGINT) AS end_ms,
         0.1 AS confidence,
         'estimated' AS source
  FROM vs v ANTI JOIN dur d ON d.book = v.book AND d.chapter = v.chapter)
SELECT * FROM aligned UNION ALL SELECT * FROM est
""",
    tags=("J2", "W2", "W3", "P5", "U1"),
)
def chapter_pipeline_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's graceful-degradation composition: chapters WITH
    audio run ASR → cursor alignment; chapters WITHOUT take the
    estimation-only path that produced the reference's sole 929/929 run
    (`scripts/hebrew_alignment_tool_gpu.py:470-505`
    `create_estimated_alignment`; shipped variant
    `hebrew_alignment_clean_fixed.py`): word-density allocation at a
    400 ms/word prior, confidence pinned to the reference's 0.1
    estimated-tier convention (`hebrew_alignment_optimized.py:514`
    region; SURVEY.md §7.6). One left join decides the branch; the
    union is the chapter-complete output the HTML viewer expects."""
    inv = audio_duration_dim(spark)
    texts = chapter_texts(spark)
    ch_all = texts.join(F.broadcast(inv), ["book", "chapter"], "left")

    # the rollup's ref side covers EVERY corpus chapter (unmatched rows
    # for chapters with no transcript), so constrain the aligned branch
    # to chapters that actually have audio before unioning
    aligned = (
        aligned_verse_rollup(spark, ch_all.filter(F.col("duration_ms").isNotNull()))
        .join(F.broadcast(inv.select("book", "chapter")), ["book", "chapter"], "left_semi")
        .select(
            "book",
            "chapter",
            "verse_num",
            "word_count",
            F.col("verse_start_ms").alias("start_ms"),
            F.col("verse_end_ms").alias("end_ms"),
            F.col("mean_sim").alias("confidence"),
            F.lit("aligned").alias("source"),
        )
    )

    from pyspark.sql import Window

    no_audio = (
        corpus_verses_df(spark)
        .join(F.broadcast(inv.select("book", "chapter")), ["book", "chapter"], "left_anti")
        .withColumn("word_count", F.size("words"))
    )
    w = (
        Window.partitionBy("book", "chapter")
        .orderBy("verse_num")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    estimated = no_audio.select(
        "book",
        "chapter",
        "verse_num",
        "word_count",
        (F.coalesce(F.sum("word_count").over(w), F.lit(0)) * 400).cast("long").alias("start_ms"),
        ((F.coalesce(F.sum("word_count").over(w), F.lit(0)) + F.col("word_count")) * 400)
        .cast("long")
        .alias("end_ms"),
        F.lit(0.1).alias("confidence"),
        F.lit("estimated").alias("source"),
    )
    return aligned.unionByName(estimated)


@_register(
    "chapter_pipeline_e2e",
    # The "order-stateful J5 cursor is not SQL-expressible" assumption
    # fell once the recursive-CTE formulation landed (cursor_align_tokens);
    # the whole entry-point-1 pipeline now has a value-hash twin. The
    # S7/S8 sink round-trip inside the Spark side is value-preserving,
    # so the oracle models the dataflow, not the filesystem.
    oracle=None if not _FIXTURES_OK else f"""
WITH RECURSIVE {_CORPUS_SQL},
{_ALIGN_PIPE_SQL},
pv AS (
  SELECT book, chapter, verse_num,
         count(*) AS word_count,
         CAST(sum(matched) AS BIGINT) AS n_matched,
         CAST(min(start) AS BIGINT) AS verse_start_ms,
         CAST(max("end") AS BIGINT) AS verse_end_ms
  FROM al GROUP BY book, chapter, verse_num),
fl AS (
  SELECT pv.*, c.duration_ms,
         max(verse_end_ms) OVER (PARTITION BY pv.book, pv.chapter) AS total_duration
  FROM pv JOIN chd c ON c.book = pv.book AND c.chapter = pv.chapter)
SELECT book, chapter, verse_num, word_count, n_matched,
       verse_start_ms, verse_end_ms, duration_ms, total_duration,
       total_duration <= duration_ms * 1.1 AS valid
FROM fl
""",
    tags=("S3", "J5", "W5", "W6", "U1", "S7", "S8"),
    bench=True,
)
def chapter_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entry point 1, `process_chapter`
    (`hebrew_alignment_tool.py:417-464`), composed end-to-end as ONE
    plan: resolve audio (S2/S3 inventory scan, fake-decode duration) →
    extract chapter text (S1/P1 rollup) → mock-transcribe (U1–U3) →
    fuzzy cursor align (J5/W5) → per-verse rollup (W6) → duration
    validation invariant ≤1.1× (`hebrew_alignment_tool.py:405-415`) →
    partitioned JSON sink + read-back (S7/S8). Every stage is the same
    operator the standalone catalog entries exercise; this entry proves
    they compose. Deterministic throughout, so the rows-only check is
    stable; the invariants themselves are asserted in
    tests/test_chapter_pipeline.py."""
    # 2. chapters having BOTH corpus text and audio (broadcast dim join)
    ch = chapter_texts(spark).join(F.broadcast(audio_duration_dim(spark)), ["book", "chapter"])

    # 3-5. mock ASR → cursor align → verse rollup (shared helper)
    per_verse = aligned_verse_rollup(spark, ch).drop("mean_sim")

    # 6. validation invariant: chapter total ≤ 1.1 × audio duration
    flagged = alignment.validate_total_duration(
        per_verse.join(F.broadcast(ch.select("book", "chapter", "duration_ms")), ["book", "chapter"]),
        group_cols=["book", "chapter"],
        end_col="verse_end_ms",
        duration_col="duration_ms",
        factor=1.1,
    )

    # 7. S7/S8 partitioned sink + read-back (app-scoped dir: two
    # concurrent sessions must not race on the same path)
    out = str(scratch(spark, "e2e"))
    flagged.write.partitionBy("book").mode("overwrite").json(out)
    return (
        spark.read.schema(
            "chapter int, verse_num int, word_count bigint, n_matched bigint, "
            "verse_start_ms bigint, verse_end_ms bigint, duration_ms bigint, "
            "total_duration bigint, valid boolean, book string"
        )
        .json(out)
        .select(
            "book", "chapter", "verse_num", "word_count", "n_matched",
            "verse_start_ms", "verse_end_ms", "duration_ms", "total_duration", "valid",
        )
    )


def _trimmer_waveforms(spark: SparkSession, tree: str):
    """Shared front of the trimmer pipeline (S2→S5→tile→quiet): glob
    scan ≥1 KB → fake decode → tile the waveform 64× → quiet the first
    ``q`` seconds to 1% so the intro detector has real work, with
    ``q = 1 + size % 4`` PER FILE so the >1 s trim gate
    (`scripts/hebrew_audio_trimmer.py:132-140`) genuinely fires both
    ways across the fixture set. Returns (files, waveforms)."""
    from ..operators.multimodal import decode_audio
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, tree, glob="*.mp3").filter(
        F.col("length") >= 1024
    )
    wf = (
        decode_audio(files)
        .join(files.select("path", "length"), "path")
        .select(
            "path",
            "length",
            "sample_rate",
            (F.lit(1) + F.col("length") % 4).alias("q"),
            F.flatten(F.array_repeat(F.col("samples"), 64)).alias("samples"),
        )
        .withColumn(
            "samples",
            F.expr(
                "transform(samples, (x, i) ->"
                " IF(i < q * sample_rate, x * 0.01d, x))"
            ),
        )
    )
    return files, wf


def _trimmer_analysis_oracle() -> str:
    """DuckDB twin of the trimmer's computational core. The fixture tree
    is committed and deterministic, so the per-file fake-decode dims
    (md5-derived frequency, sample count, quiet seconds — the SAME
    formulas ``operators.multimodal._fake_waveform`` applies on the
    executors) are computed here at oracle-build time and inlined as a
    VALUES dim; everything downstream — float32 sine truncation, 1 s
    tumbling RMS, skip-2 baseline threshold, first-over-threshold,
    buffer/clamp/min-trim gate, proportional byte trim
    (`scripts/hebrew_audio_trimmer.py:105-153,464`) — replays in SQL."""
    import hashlib

    dims = []
    for p in sorted(Path(FIXTURE_AUDIO_TREE).glob("**/*.mp3")):
        payload = p.read_bytes()
        if len(payload) < 1024:
            continue
        digest = hashlib.md5(payload).digest()
        freq = 100 + digest[0]
        n = max(160, int(len(payload) / 1024 * 0.05 * 16000))
        q = 1 + len(payload) % 4
        dims.append((p.name.replace("'", "''"), len(payload), freq, n, q))
    vals = ",\n  ".join(
        f"('{f}', {s}, {fr}, {n}, {q})" for f, s, fr, n, q in dims
    )
    return f"""
WITH dims(filename, size, freq, n, q) AS (VALUES
  {vals}),
idx AS (
  SELECT filename, size, freq, n, q, unnest(range(0, 64 * n)) AS i FROM dims),
samp AS (
  SELECT filename, size, q, i,
         CASE WHEN i < q * 16000
              THEN CAST(CAST(sin(2 * pi() * freq * (i % n) / 16000) AS REAL) AS DOUBLE) * 0.01
              ELSE CAST(CAST(sin(2 * pi() * freq * (i % n) / 16000) AS REAL) AS DOUBLE) END AS x
  FROM idx),
segs AS (
  SELECT filename, any_value(size) AS size,
         CAST(i // 16000 AS INTEGER) AS seg_idx,
         sqrt(avg(x * x)) AS rms_raw, count(*) AS ns
  FROM samp GROUP BY filename, seg_idx),
seg2 AS (
  SELECT *, seg_idx * 1.0 AS start_time,
         seg_idx * 1.0 + ns / 16000 AS end_time
  FROM segs),
thr AS (
  SELECT filename, 0.3 * avg(rms_raw) AS threshold_raw
  FROM seg2 WHERE seg_idx >= 2 GROUP BY filename),
fl AS (
  SELECT s.filename,
         min(CASE WHEN s.rms_raw > t.threshold_raw THEN s.start_time END)
             AS first_loud_start,
         max(s.end_time) AS duration
  FROM seg2 s JOIN thr t USING (filename) GROUP BY s.filename),
sg AS (
  SELECT filename, first_loud_start, duration,
         greatest(first_loud_start - 0.25, 0.0) AS suggested_raw
  FROM fl)
SELECT s.filename, s.seg_idx,
       round(s.rms_raw, 6) AS rms,
       CAST(s.start_time AS DOUBLE) AS start_time,
       round(s.end_time, 6) AS end_time,
       round(t.threshold_raw, 6) AS threshold,
       CAST(g.first_loud_start AS DOUBLE) AS first_loud_start,
       round(g.suggested_raw, 2) AS suggested_trim,
       g.suggested_raw > 1.0 AS should_trim,
       CASE WHEN g.suggested_raw > 1.0
            THEN CAST(floor(s.size * g.suggested_raw / g.duration) AS BIGINT)
            ELSE 0 END AS trim_bytes
FROM seg2 s JOIN thr t USING (filename) JOIN sg g USING (filename)
"""


@_register(
    "trimmer_intro_analysis",
    # The trimmer's ENTIRE computational core under the value-hash gate
    # (the e2e entry below keeps only the inherently uncheckable byte-
    # overwrite side effect rows-only). Cross-engine float posture: the
    # sine argument is evaluated with the identical left-assoc op chain,
    # truncated to float32 exactly where the Arrow boundary truncates,
    # and every aggregate-derived output (rms, threshold) is rounded
    # 6 dp; the decisive comparisons (rms > threshold, suggested > 1 s)
    # sit orders of magnitude from their boundaries by construction
    # (quiet segments are 1% of loud ones).
    oracle=None if not _FIXTURES_OK else _trimmer_analysis_oracle(),
    tags=("S2", "S5", "A7", "A8", "W1", "P5", "F8", "U4"),
    bench=True,
)
def trimmer_intro_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio trimmer's analysis stage as ONE pure plan
    (`scripts/hebrew_audio_trimmer.py:105-153`): S2 glob scan → S5 fake
    decode → 64× tile + per-file intro quieting → A7 1 s tumbling RMS
    segments (U4) → A8 skip-2 baseline threshold → W1 first segment over
    threshold → P5 buffer/clamp/min-trim gate → F8 proportional byte
    trim size. One row per (file, segment) carrying the per-file
    verdict, so the value hash pins every intermediate the side-
    effecting twin consumes."""
    from ..operators import audio as audio_ops

    files, wf = _trimmer_waveforms(spark, FIXTURE_AUDIO_TREE)
    segs = audio_ops.rms_energy_segments(wf, segment_seconds=1.0)
    # segs is NOT persisted, unlike the e2e twin: threshold, suggestion,
    # duration and the report each consume it, so the decode + 64× tile
    # + quiet MapInPandas pipeline re-executes per consumer (5
    # MapInPandas / 10 binaryFile scans), but on the committed ~26 KB
    # fixture tree those decodes are cheaper than the cache-fill jobs
    # (measured: +5 jobs at sf0.1, wall flat). The tree is a fixed
    # path, so no size gate could ever choose the pin here.
    thr = audio_ops.intro_threshold(segs, skip_segments=2, factor=0.3)
    sugg = audio_ops.suggest_intro_trim(
        segs, skip_segments=2, factor=0.3, buffer_seconds=0.25, min_trim=1.0
    )
    dur = segs.groupBy("path").agg(F.max("end_time").alias("duration"))
    return (
        segs.join(F.broadcast(thr), "path")
        .join(F.broadcast(sugg), "path")
        .join(F.broadcast(dur), "path")
        .join(F.broadcast(files.select("path", "length")), "path")
        .select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
            "seg_idx",
            F.round("rms_energy", 6).alias("rms"),
            "start_time",
            F.round("end_time", 6).alias("end_time"),
            F.round("threshold", 6).alias("threshold"),
            "first_loud_start",
            F.round("suggested_trim", 2).alias("suggested_trim"),
            "should_trim",
            F.when(
                F.col("should_trim"),
                F.floor(
                    F.col("length") * F.col("suggested_trim") / F.col("duration")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("trim_bytes"),
        )
    )


def _trimmer_e2e_oracle() -> str:
    """Value-hash oracle for the side-effecting trimmer pipeline. The
    analysis oracle (independently hash-validated by
    ``trimmer_intro_analysis``) replays in DuckDB at oracle-build time
    to predict each file's trim offset; the expected original/trimmed/
    restored BYTES then follow deterministically from the committed
    fixture payloads (trimmed = payload[trim_bytes:], restored =
    original — the backup/restore invariant), and their md5 digests are
    inlined as a VALUES dim. The engine measures its digests from the
    actual mutated-and-restored files, so a half-applied trim, a
    corrupted backup, or a failed restore flips the value hash — the
    invariant the r06 record could only assert rows-only."""
    import hashlib

    import duckdb

    per = {
        r[0]: (float(r[7]), bool(r[8]), int(r[9]))
        for r in duckdb.sql(_trimmer_analysis_oracle()).fetchall()
    }
    rows = []
    for p in sorted(Path(FIXTURE_AUDIO_TREE).glob("**/*.mp3")):
        payload = p.read_bytes()
        if len(payload) < 1024:
            continue
        sugg, should, tb = per[p.name]
        trimmed = payload[tb:] if should else payload
        rows.append(
            (
                p.name.replace("'", "''"),
                len(payload),
                hashlib.md5(payload).hexdigest(),
                len(trimmed),
                hashlib.md5(trimmed).hexdigest(),
                repr(sugg),
                str(should).upper(),
            )
        )
    if not rows:
        raise OSError("no trimmable audio fixtures found")
    vals = ",\n  ".join(
        f"('{f}', {ol}, '{om}', {tl}, '{tm}', {s}, {b})"
        for f, ol, om, tl, tm, s, b in rows
    )
    return f"""
WITH t(filename, orig_length, orig_md5, trimmed_length, trimmed_md5,
       suggested_trim, should_trim) AS (VALUES
  {vals})
SELECT filename,
       CAST(orig_length AS BIGINT) AS orig_length, orig_md5,
       CAST(trimmed_length AS BIGINT) AS trimmed_length, trimmed_md5,
       CAST(orig_length AS BIGINT) AS restored_length,
       orig_md5 AS restored_md5,
       CAST(suggested_trim AS DOUBLE) AS suggested_trim, should_trim
FROM t
"""


try:
    _TRIMMER_E2E_ORACLE: str | None = (
        _trimmer_e2e_oracle() if _FIXTURES_OK else None
    )
except OSError:
    _TRIMMER_E2E_ORACLE = None


@_register(
    "trimmer_pipeline_e2e",
    oracle=_TRIMMER_E2E_ORACLE,
    tags=("S2", "S5", "A7", "A8", "W1", "P5", "S10", "F8"),
)
def trimmer_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entry point 2, the audio trimmer
    (`scripts/hebrew_audio_trimmer.py` batch mode), composed end-to-end:
    S2 glob scan → S5 decode (fake codec; waveform tiled 64× and its
    first 1–4 s — per-file, see ``_trimmer_waveforms`` — quieted to 1%
    so the intro detector has real work) → A7
    tumbling RMS segments → A8 baseline threshold with intro skip → W1
    first-over-threshold + P5 >1 s gate → proportional byte trim → S10
    overwrite-with-backup → re-scan → restore-from-backup → re-scan.
    Output per file: original/trimmed/restored lengths AND md5 digests
    of the actual bytes at each stage + the suggestion — the digests
    put the whole side-effect path under the value-hash gate (the
    oracle predicts them from the committed fixture bytes), with
    restore-equals-original proving the backup tree holds the
    originals (`hebrew_audio_trimmer.py:89-103,480-502`).

    Write-safety choices: the trim payloads are materialized to parquet
    BEFORE any file is overwritten, and the sink reads that immutable
    copy — a task retry or speculative duplicate re-reads the
    snapshot, never the half-trimmed files its first attempt wrote
    (a lineage over the mutation target would double-trim on retry).
    Every transient frame (trimmed/restored lengths, suggestions) is
    likewise snapshotted, so the RETURNED plan depends only on the
    immutable fixture tree + parquet snapshots and the scratch/backup
    trees can be deleted before returning. Files are keyed by their
    ``book_dir/filename`` relative path, not the basename, so equal
    filenames under different book directories cannot cross-join."""
    import shutil

    from ..operators import audio as audio_ops
    from ..operators.binary_sink import overwrite_with_backup, restore_from_backup
    from ..sources.readers import read_binary_files

    work = scratch(spark, "trim")
    backup = scratch(spark, "trim_backup")
    snap = scratch(spark, "trim_snap")
    for p in (work, backup, snap):
        if p.exists():
            shutil.rmtree(p)
    shutil.copytree(FIXTURE_AUDIO_TREE, work)  # mutable working copy

    def scan():
        return read_binary_files(spark, str(work), glob="*.mp3").filter(
            F.col("length") >= 1024
        )

    # shared decode/tile/quiet front — the exact frames the value-hash-
    # gated trimmer_intro_analysis pins
    files, wf = _trimmer_waveforms(spark, str(work))
    # Persist the per-second RMS segments (rows = files × seconds —
    # tiny vs the waveforms): every downstream consumer (threshold,
    # first-loud, duration, report) reads the cache, so the decode +
    # tile + explode pipeline executes exactly once. Duration comes from
    # the last segment's end (== total_samples/sr exactly) instead of a
    # second decode pass over the samples.
    # EAGER (r14): AQE runs independent query stages concurrently, and a
    # lazy boundary consumed by several of them (threshold, first-loud,
    # duration, report) races — each re-runs the MapInPandas decode+tile
    # pipeline (the curation_refresh_e2e bimodality class; this entry
    # read 0.58× in the r13 driver run with no hot-path code change).
    segs = pin(audio_ops.rms_energy_segments(wf, segment_seconds=1.0))
    sugg = audio_ops.suggest_intro_trim(
        segs, skip_segments=2, factor=0.3, buffer_seconds=0.25, min_trim=1.0
    ).join(segs.groupBy("path").agg(F.max("end_time").alias("duration")), "path")

    # book_dir/filename — collision-proof across trees (basenames alone
    # could repeat under different book directories)
    relpath = F.regexp_extract("path", r"([^/]+/[^/]+)$", 1)

    # proportional byte trim: drop the leading suggested/duration share.
    # Materialize the payloads FIRST: the overwrite sink then reads this
    # immutable parquet, never the files it is about to mutate.
    to_trim = (
        files.join(sugg.filter(F.col("should_trim")), "path")
        .withColumn(
            "_off",
            F.floor(F.col("length") * F.col("suggested_trim") / F.col("duration"))
            .cast("int"),
        )
        .select("path", F.expr("substring(content, _off + 1)").alias("content"))
    )
    payloads = snap / "payloads"
    to_trim.write.mode("overwrite").parquet(str(payloads))
    overwrite_with_backup(spark.read.parquet(str(payloads)), str(backup), str(work))

    # snapshot trimmed lengths BEFORE restoring (no size gate here: a
    # trim may legitimately push a small file under the 1 KB inventory
    # threshold and it must still be reported)
    read_binary_files(spark, str(work), glob="*.mp3").select(
        relpath.alias("relpath"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        F.col("length").alias("trimmed_length"),
        F.md5("content").alias("trimmed_md5"),
    ).write.mode("overwrite").parquet(str(snap / "trimmed"))

    n_restored = restore_from_backup(spark, str(backup), str(work))
    if n_restored == 0:
        raise RuntimeError(
            "trimmer pipeline: nothing was restored — either no file "
            f"passed the trim gate or the backup tree {backup} is missing"
        )

    scan().select(
        relpath.alias("relpath"),
        F.col("length").alias("restored_length"),
        F.md5("content").alias("restored_md5"),
    ).write.mode("overwrite").parquet(str(snap / "restored"))
    sugg.select(
        relpath.alias("relpath"),
        F.round("suggested_trim", 2).alias("suggested_trim"),
        "should_trim",
    ).write.mode("overwrite").parquet(str(snap / "sugg"))

    # the returned plan depends only on the fixture tree + snapshots —
    # release the cache and the mutable trees before returning
    segs.unpersist()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)

    orig = read_binary_files(spark, str(FIXTURE_AUDIO_TREE), glob="*.mp3").select(
        relpath.alias("relpath"),
        F.col("length").alias("orig_length"),
        F.md5("content").alias("orig_md5"),
    )
    return (
        orig.join(spark.read.parquet(str(snap / "trimmed")), "relpath")
        .join(spark.read.parquet(str(snap / "restored")), "relpath")
        .join(spark.read.parquet(str(snap / "sugg")), "relpath")
        .drop("relpath")
    )


@_register(
    "alignment_sink_roundtrip",
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT book, chapter, verse_num, array_to_string(words, ' ') AS text
FROM vs WHERE book IN ('Gen', 'Obad')
""",
    tags=("S7", "S8"),
)
def alignment_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 partitioned JSON sink proven by round-trip: write the corpus
    verses partitionBy(book) to a scratch dir (Spark's FileCommitProtocol
    = the reference's atomic tmp+rename, S8), read the directory back,
    return the rows — which must equal what was written
    (`scripts/hebrew_alignment_tool_gpu.py:589-609`)."""
    # app-scoped dir: two concurrent sessions must not race on one path
    out = str(scratch(spark, "spark_alignment_sink"))
    verses = corpus_verses_df(spark).filter(F.col("book").isin("Gen", "Obad")).select(
        "book", "chapter", "verse_num", F.concat_ws(" ", "words").alias("text")
    )
    verses.write.partitionBy("book").mode("overwrite").json(out)
    return (
        spark.read.schema("chapter int, verse_num int, text string, book string")
        .json(out)
        .select("book", "chapter", "verse_num", "text")
    )


@_register(
    "nation_code_fallback",
    oracle="""
WITH exact_map(name, code) AS (
  VALUES ('ALGERIA', 'DZ'), ('BRAZIL', 'BR'), ('CANADA', 'CA'), ('EGYPT', 'EG')),
alt_map(alias, code) AS (
  VALUES ('france', 'FR'), ('germany', 'DE'), ('india', 'IN'))
SELECT n.n_nationkey, n.n_name,
       coalesce(e.code, a.code, 'XX') AS code
FROM nation n
LEFT JOIN exact_map e ON n.n_name = e.name
LEFT JOIN alt_map a ON lower(n.n_name) = a.alias
""",
    tags=("J2", "J1"),
)
def nation_code_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-key fallback lookup: exact key → alternate map →
    case-insensitive, folded to one coalesce of broadcast left joins
    (`scripts/hebrew_alignment_tool_gpu.py:269-295`)."""
    n = T(spark, sf_dir, "nation")
    exact = spark.createDataFrame(
        [("ALGERIA", "DZ"), ("BRAZIL", "BR"), ("CANADA", "CA"), ("EGYPT", "EG")],
        ["name", "ecode"],
    )
    alt = spark.createDataFrame(
        [("france", "FR"), ("germany", "DE"), ("india", "IN")], ["alias", "acode"]
    )
    return (
        n.join(F.broadcast(exact), n["n_name"] == exact["name"], "left")
        .join(F.broadcast(alt), F.lower(n["n_name"]) == alt["alias"], "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("ecode", "acode", F.lit("XX")).alias("code"),
        )
    )


@_register(
    "user_first_last_event",
    oracle="""
SELECT user_id,
       arg_min(event_type, ts) AS first_type,
       arg_max(event_type, ts) AS last_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
GROUP BY user_id
""",
    tags=("W6", "F11", "O4"),
)
def user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 first/last within group + F11 timestamp formatting
    (`fixed_hebrew_aligner.py:543-551`; `hebrew_audio_trimmer.py:193`).
    min_by/max_by == Spark's argmin/argmax aggregate — one shuffle, no
    window materialization."""
    e = T(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_type"),
        F.max_by("event_type", "ts").alias("last_type"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@_register(
    "lineitem_unit_math",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST(epoch(l_shipdate) AS BIGINT) AS ship_epoch,
       floor(l_extendedprice / l_quantity * 100 + 0.5) / 100 AS unit_price,
       least(greatest(l_quantity, 10.0), 40.0) AS clamped_qty,
       floor(l_extendedprice * (1 - l_discount) * 10 + 0.5) / 10000 AS net_k
FROM lineitem
WHERE l_quantity BETWEEN 1 AND 50
""",
    tags=("F8", "F9", "F10", "P4", "P6"),
)
def lineitem_unit_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 unit conversions (ticks→seconds analog: timestamp→epoch), F9
    rounding, F10 greatest/least clamping, P4 range predicate — the
    scalar-math surface of `fixed_hebrew_aligner.py:427-429` /
    `scripts/hebrew_audio_trimmer.py:110-173`."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(1, 50)).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.unix_timestamp("l_shipdate").alias("ship_epoch"),
        # floor(x*10^k + 0.5) instead of round(): deterministic on the
        # double bits in every engine, immune to .005-boundary values
        # that price/quantity division produces constantly
        (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5) / 100)
        .alias("unit_price"),
        F.least(F.greatest(F.col("l_quantity"), F.lit(10.0)), F.lit(40.0)).alias(
            "clamped_qty"
        ),
        (
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10 + 0.5
            )
            / 10000
        ).alias("net_k"),
    )


@_register(
    "part_name_similarity",
    oracle="""
WITH ref AS (SELECT p_brand, min(p_name) AS ref_name FROM part GROUP BY p_brand),
scored AS (
  SELECT p.p_partkey, p.p_brand, p.p_name, r.ref_name,
         round(CASE WHEN greatest(len(p.p_name), len(r.ref_name)) = 0 THEN 1.0
               ELSE 1.0 - levenshtein(p.p_name, r.ref_name)
                          / greatest(len(p.p_name), len(r.ref_name)) END, 6) AS sim
  FROM part p JOIN ref r ON p.p_brand = r.p_brand),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY p_brand
                               ORDER BY sim DESC, p_partkey ASC) AS rnk
  FROM scored)
SELECT p_partkey, p_brand, sim, rnk FROM ranked WHERE rnk <= 5
""",
    tags=("F12", "J6", "O4"),
)
def part_name_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 group-vs-reference fuzzy scoring + F12 levenshtein ratio + O4
    argmax ranking: every member scored against its group's reference
    text, best-k kept (`scripts/hebrew_alignment_tool_gpu.py:519-587`).
    The reference text per group is a broadcast dimension; scores are
    the built-in JVM levenshtein — no Python in the loop."""
    p = T(spark, sf_dir, "part")
    ref = p.groupBy("p_brand").agg(F.min("p_name").alias("ref_name"))
    scored = p.join(F.broadcast(ref), "p_brand").select(
        "p_partkey",
        "p_brand",
        F.round(
            similarity.levenshtein_ratio(F.col("p_name"), F.col("ref_name")), 6
        ).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_brand").orderBy(F.col("sim").desc(), F.col("p_partkey"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("p_partkey", "p_brand", "sim", "rnk")
    )


@_register(
    "doc_vowel_class_map",
    oracle="""
SELECT doc_id,
       coalesce(list_aggregate(
           [CASE WHEN regexp_matches(c, '^[aeiou]$') THEN '1' ELSE '0' END
            FOR c IN string_split(substr(lower(text), 1, 16), '')],
           'string_agg', ''), '') AS vowel_map
FROM documents
WHERE doc_id < 100
""",
    tags=("F17", "P4", "P6"),
)
def doc_vowel_class_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 per-character 0/1 class map as a higher-order transform
    (`scripts/convert_hebrew_grammar_pdf.py:123-124` nikud/dagesh maps;
    vowels stand in for nikkud on the ASCII documents table).

    The map is serialized to a '0101...' bitstring: oracle-checked
    queries must never emit array-typed columns (the driver's
    canonicalizer cannot hash lists). Same F17 semantics, hashable
    output; the array form stays covered by unit tests."""
    from ..functions.hebrew import char_class_map

    d = T(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.concat_ws(
            "", char_class_map(F.substring(F.lower("text"), 1, 16), "[aeiou]").cast("array<string>")
        ).alias("vowel_map"),
    )


def _fixture_digest_values() -> str:
    """(filename, first-md5-byte) VALUES rows for the committed audio
    fixtures — DuckDB's md5() only accepts VARCHAR (no raw-blob hash),
    so the digest byte the fake PDF pager derives its page count from is
    precomputed here at import, from the same committed bytes. Same
    inlined-deterministic-constant status as the MinHash params and LSH
    hyperplanes."""
    import hashlib

    rows = []
    for p in sorted(Path(FIXTURE_AUDIO_TREE).rglob("*.mp3")):
        name_sql = p.name.replace("'", "''")  # same escaping as _lev_sim_sql
        rows.append(f"('{name_sql}', {hashlib.md5(p.read_bytes()).digest()[0]})")
    return ", ".join(rows)


try:
    _DIGEST_VALUES = _fixture_digest_values()
except OSError:
    _DIGEST_VALUES = ""


FIXTURE_PDF_TREE = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "pdf_tree"
)

#: Rule-based NER gazetteer over UNDIACRITIZED Hebrew forms — the
#: deterministic stand-in for the reference's dictabert-ner model slot
#: (`scripts/convert_hebrew_grammar_pdf.py:89-92`): biblical book names
#: and the grammar terms the converted PDF teaches. Domain facts, like
#: the book-code seed dim (SURVEY §7.3). 'סגול' is a deliberate
#: no-match probe (absent from every fixture page).
PDF_NER_GAZETTEER: tuple[tuple[str, str], ...] = (
    ("בראשית", "BOOK"),
    ("שמות", "BOOK"),
    ("תהלים", "BOOK"),
    ("דגש", "TERM"),
    ("שוא", "TERM"),
    ("קמץ", "TERM"),
    ("פתח", "TERM"),
    ("סגול", "TERM"),
)

_PDF_TOKEN_RE = "[A-Za-z0-9֐-׿]+"
_PDF_HEBREW_RE = "[א-ת]"
_PDF_NIKUD_RE = "[ְ-ׇ]"
_PDF_DAGESH = "ּ"


def _pdf_nlp_oracle() -> str:
    """DuckDB twin of pdf_nlp_entities. The extraction boundary (the
    codec: objects → inflated streams → Tj/TJ/hex text, NFC) replays at
    oracle-build time with the SAME stdlib parser the executors run over
    the same committed bytes and is inlined as a VALUES dim — the
    trimmer-oracle pattern; every NLP step downstream (tokenize,
    Hebrew-token filter, nikud/dagesh char classes, undiacritized
    gazetteer match) runs in SQL."""
    from ..operators.multimodal import _pdf_extract_pages

    rows = []
    for p in sorted(Path(FIXTURE_PDF_TREE).glob("*.pdf")):
        for i, (_stream, text) in enumerate(_pdf_extract_pages(p.read_bytes()), 1):
            rows.append((p.name, i, text.replace("'", "''")))
    if not rows:
        raise OSError("no committed PDF fixtures found")
    vals = ",\n  ".join(f"('{f}', {i}, '{t}')" for f, i, t in rows)
    gaz = ", ".join(f"('{e}', '{l}')" for e, l in PDF_NER_GAZETTEER)
    return f"""
WITH pages(filename, page_number, text) AS (VALUES
  {vals}),
gaz(entity, label) AS (VALUES {gaz}),
tok AS (
  SELECT filename, page_number, text,
         regexp_extract_all(text, '{_PDF_TOKEN_RE}') AS tokens
  FROM pages),
tok2 AS (
  SELECT *, list_filter(tokens, t -> regexp_matches(t, '{_PDF_HEBREW_RE}')) AS hebrew
  FROM tok),
stats AS (
  SELECT filename, CAST(page_number AS INTEGER) AS page_number,
         CAST(len(tokens) AS INTEGER) AS n_tokens,
         CAST(len(hebrew) AS INTEGER) AS n_hebrew_tokens,
         CAST(len(regexp_extract_all(text, '{_PDF_NIKUD_RE}')) AS INTEGER) AS nikud_chars,
         CAST(len(regexp_extract_all(text, '{_PDF_DAGESH}')) AS INTEGER) AS dagesh_chars,
         -- array_to_string([]) is NULL in DuckDB (Spark: ''), hence coalesce
         CAST(coalesce(length(array_to_string(hebrew, ' ')), 0) AS INTEGER) AS clean_len
  FROM tok2),
ment AS (
  SELECT filename, CAST(page_number AS INTEGER) AS page_number,
         regexp_replace(unnest(hebrew), '{_PDF_NIKUD_RE}', '', 'g') AS bare
  FROM tok2),
ents AS (
  SELECT filename, page_number, entity, label, count(*) AS n_mentions
  FROM ment JOIN gaz ON bare = entity
  GROUP BY 1, 2, 3, 4)
SELECT s.*, e.entity, e.label, e.n_mentions
FROM stats s LEFT JOIN ents e USING (filename, page_number)
"""


# Gate the PDF oracle on ITS OWN fixtures (the committed pdf_tree), not on
# _FIXTURES_OK (which only reflects the corpus JSON): import of `plans` must
# survive a sparse checkout where one fixture family exists without the other.
try:
    _PDF_NLP_ORACLE: str | None = _pdf_nlp_oracle()
except OSError:
    _PDF_NLP_ORACLE = None


@_register(
    "pdf_nlp_entities",
    oracle=_PDF_NLP_ORACLE,
    tags=("S11", "S12", "U7", "F16", "F17"),
)
def pdf_nlp_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12/U7 with REAL semantics end-to-end: binary scan of the
    committed PDF fixtures → stdlib page/text extraction (inflated
    content streams, Tj/TJ/hex show-strings, NFC — ``fake=False``) →
    the reference's Hebrew NLP chain as PURE built-in expressions, no
    Python in the hot path: tokenize, keep Hebrew tokens for the clean
    text (`convert_hebrew_grammar_pdf.py:96-99`), nikud/dagesh
    char-class counts over the normalized text (ibid:121-124 — the
    INTENDED range semantics; the reference's `c in '\\u05B0-\\u05C7'`
    literally tests membership in a 3-char string), and rule-based
    gazetteer NER over undiacritized tokens (the dictabert-ner model
    slot, ibid:89-92). One row per (page × matched entity), pages
    without entities kept with NULL entity — the value hash pins page
    stats AND the NER surface together.

    Scale posture: extraction is one Arrow-batched mapInPandas over the
    binaries (the unavoidable codec boundary); everything after is
    map-only JVM expressions plus one broadcast join against the tiny
    gazetteer dim and one (page,entity) partial-agg — no corpus-sized
    shuffle at any width."""
    from ..operators.multimodal import pdf_pages
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_PDF_TREE, glob="*.pdf")
    pages = pdf_pages(files, fake=False).select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        "page_number",
        "text",
    )
    tok = pages.withColumn(
        "tokens", F.regexp_extract_all("text", F.lit(_PDF_TOKEN_RE), F.lit(0))
    ).withColumn(
        "hebrew", F.filter("tokens", lambda t: t.rlike(_PDF_HEBREW_RE))
    )
    stats = tok.select(
        "filename",
        "page_number",
        F.size("tokens").alias("n_tokens"),
        F.size("hebrew").alias("n_hebrew_tokens"),
        F.regexp_count("text", F.lit(_PDF_NIKUD_RE)).alias("nikud_chars"),
        F.regexp_count("text", F.lit(_PDF_DAGESH)).alias("dagesh_chars"),
        F.length(F.array_join("hebrew", " ")).alias("clean_len"),
    )
    gaz = F.broadcast(
        tok.sparkSession.createDataFrame(
            list(PDF_NER_GAZETTEER), ["entity", "label"]
        )
    )
    ents = (
        tok.select(
            "filename", "page_number", F.explode("hebrew").alias("tok")
        )
        .withColumn("bare", F.regexp_replace("tok", _PDF_NIKUD_RE, ""))
        .join(gaz, F.col("bare") == F.col("entity"))
        .groupBy("filename", "page_number", "entity", "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    return stats.join(ents, ["filename", "page_number"], "left")


@_register(
    "pdf_page_scan",
    # The fake pager is digest-DERIVED but digest-DETERMINISTIC:
    # n_pages = 1 + md5(payload)[0] % 4, and the synthesized page text /
    # nikud map have fixed shape (6 'wXX' tokens -> 23 chars; 8 map
    # entries). With the first digest byte inlined per fixture file the
    # page fan-out and lengths are fully SQL-checkable.
    oracle=None if not _DIGEST_VALUES else f"""
WITH f(filename, d0) AS (VALUES {_DIGEST_VALUES}),
pages AS (
  SELECT filename, unnest(range(1, 1 + d0 % 4 + 1)) AS page_number FROM f)
SELECT filename,
       CAST(page_number AS INTEGER) AS page_number,
       CAST(23 AS INTEGER) AS text_len,
       CAST(8 AS INTEGER) AS map_len
FROM pages
""",
    tags=("S11", "S12", "U7"),
)
def pdf_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12/U7: binary scan → per-page render/OCR rows (stubbed codec,
    real mapInPandas plumbing; `scripts/convert_hebrew_grammar_pdf.py:34-86`).
    Deterministic fake pages, so the rows-only check is stable."""
    from ..operators.multimodal import pdf_pages
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3")
    return (
        pdf_pages(files)
        .select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
            "page_number",
            F.length("text").alias("text_len"),
            F.size("nikud_map").alias("map_len"),
        )
        .orderBy("filename", "page_number")
    )


@_register(
    "video_frame_index",
    # The fake sampler's frame INDEX is purely size-derived (duration =
    # max(every_s, size/1024 * 0.05 * 20), frames every 0.5 s), so the
    # index rows — though not the digest-derived frame bytes, which this
    # query doesn't select — have an exact SQL twin over read_blob sizes.
    oracle=f"""
WITH f AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS filename,
         greatest(0.5, size / 1024.0 * 0.05 * 20) AS duration
  -- recursive glob: the Spark side scans with recursiveFileLookup, so
  -- the oracle must see fixtures at ANY depth, like _fixture_digest_values
  FROM read_blob('{FIXTURE_AUDIO_TREE}/**/*.mp3')),
fr AS (
  SELECT filename, unnest(range(CAST(floor(duration / 0.5) AS BIGINT))) AS i FROM f)
SELECT filename,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(round(i * 0.5, 6) AS DOUBLE) AS t
FROM fr
""",
    tags=("U9", "multimodal"),
)
def video_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sample plumbing: binary → (file, frame_idx, t)
    index rows via mapInPandas (stubbed decoder, U9 ffmpeg slot)."""
    from ..operators.multimodal import video_frame_sample
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3")
    return (
        video_frame_sample(files, every_s=0.5)
        .select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
            "frame_idx",
            "t",
        )
        .orderBy("filename", "frame_idx")
    )


@_register(
    "winnow_fingerprints",
    # Registered LAST deliberately: the driver's correctness window is
    # the first 50 queries() entries, all sole-evidence slots — this
    # addition must not displace one. tools/parity.py and the unit tests
    # still run the oracle locally every round.
    oracle=f"""
WITH t AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents
), h AS (
    -- two independent hash chains; the k-gram key packs both rolls
    -- (62-bit, CROSSED bases) because a lone same-base roll collides
    -- (see operators.dedup._kgram_hash)
    SELECT doc_id,
           list_transform(toks, tk -> {_sql_token_hash('tk')}) AS th,
           list_transform(toks, tk -> {_sql_token_hash2('tk')}) AS th2
    FROM t WHERE len(toks) >= 3
), kgl AS (
    SELECT doc_id,
           list_transform(range(len(th) - 2),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+3]),
                                (acc, x) -> (acc * {HASH_BASE2} + x) % {HASH_MOD})
                    * {HASH_MOD2}
                    + list_reduce(list_prepend(CAST(0 AS BIGINT), th2[i+1:i+3]),
                                  (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD2})) AS khs
    FROM h
), kg AS (
    SELECT doc_id,
           generate_subscripts(khs, 1) - 1 AS idx,
           unnest(khs) AS kh,
           len(khs) AS n_kg
    FROM kgl
), sel AS (
    SELECT doc_id, idx, n_kg,
           min({{'kh': kh, 'ni': -idx}}) OVER (PARTITION BY doc_id ORDER BY idx
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
    FROM kg
)
SELECT DISTINCT doc_id AS id,
       CAST(-s.ni AS INTEGER) AS fp_pos,
       s.kh AS fingerprint
FROM sel WHERE idx <= greatest(n_kg - 4, 0)
""",
    tags=("dedup", "fingerprint", "winnowing"),
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing positional fingerprints (MOSS; Schleimer et al. 2003)
    over the documents table: token-trigram hashes, window-of-4 minimum
    with rightmost tie-break — the guarantee tier between exact dedup
    and MinHash (any shared ≥6-token run yields a shared fingerprint)."""
    from ..operators import dedup as _dedup

    return _dedup.winnow_fingerprints(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=3, w=4
    )


def _spectral_oracle() -> str | None:
    """DuckDB twin of the FFT spectral profile: the committed fixture
    tree's decode dims (md5 freq, sample count — the same formulas
    ``operators.multimodal._fake_waveform`` applies on the executors)
    inline as a VALUES dim, and the SPECTRUM ITSELF replays as a naive
    O(n·k) DFT in SQL — an algorithm genuinely independent of numpy's
    Cooley-Tukey path, so hash equality certifies the transform.
    Float32 truncation sits exactly at the Arrow boundary (CAST AS
    REAL), matching the stored array<float> samples."""
    import hashlib

    dims = []
    for p in sorted(Path(FIXTURE_AUDIO_TREE).glob("**/*.mp3")):
        payload = p.read_bytes()
        if len(payload) < 1024:
            continue
        n = max(160, int(len(payload) / 1024 * 0.05 * 16000))
        if n < 1024:
            continue
        freq = 100 + hashlib.md5(payload).digest()[0]
        dims.append((p.name.replace("'", "''"), n, freq))
    if not dims:
        # every fixture is below the length thresholds — degrade to
        # no-oracle rather than registering an empty (unparseable)
        # VALUES list (the advisor's own-fixture-gate lesson applied to
        # the ELIGIBLE set, not just the glob)
        return None
    vals = ",\n  ".join(f"('{f}', {n}, {fr})" for f, n, fr in dims)
    return f"""
WITH dims(filename, n, freq) AS (VALUES
  {vals}),
idx AS (SELECT filename, freq, unnest(range(0, 1024)) AS i FROM dims),
samp AS (
  SELECT filename, i,
         CAST(CAST(sin(2 * pi() * freq * i / 16000) AS REAL) AS DOUBLE) AS x
  FROM idx),
bins AS (SELECT unnest(range(1, 513)) AS k),
dft AS (
  SELECT s.filename, b.k,
         sqrt(pow(sum(s.x * cos(2 * pi() * b.k * s.i / 1024)), 2)
            + pow(sum(s.x * sin(2 * pi() * b.k * s.i / 1024)), 2)) AS mag
  FROM samp s CROSS JOIN bins b
  GROUP BY s.filename, b.k
),
dom AS (
  SELECT filename, k, mag,
         row_number() OVER (PARTITION BY filename ORDER BY mag DESC, k ASC) AS r,
         sum(mag) OVER (PARTITION BY filename) AS tot
  FROM dft
)
SELECT d.filename, dm.n AS num_samples, CAST(d.k AS INTEGER) AS dominant_bin,
       CAST(d.k * 15.625 AS DOUBLE) AS dominant_freq_hz,
       CASE WHEN d.tot <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(1000 * d.mag / d.tot + 0.5) AS BIGINT)
       END AS tonality_milli
FROM dom d JOIN dims dm USING (filename) WHERE d.r = 1
"""


@_register(
    "audio_spectral_profile",
    # Gated on the audio tree's OWN fixtures (the advisor's lesson from
    # the PDF oracle): _spectral_oracle returns None both when the tree
    # is absent AND when no fixture clears the length thresholds, so
    # import of `plans` survives any fixture subset.
    oracle=_spectral_oracle(),
    tags=("S5", "U4", "multimodal", "spectral", "fft"),
)
def audio_spectral_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral profile of every fixture chapter: S2 glob scan → S5
    decode → REAL numpy FFT over the first 1024 samples per file
    (operators.audio.spectral_features) → dominant bin / frequency and
    an integer tonality share. The DuckDB oracle recomputes the same
    spectrum as a naive DFT in SQL, so the hash gate certifies the
    Fourier math itself, not a replayed constant. Map-only end to end —
    the FFT pipelines with decode in one Arrow stage, no shuffle."""
    from ..operators import audio as audio_ops
    from ..operators.multimodal import decode_audio
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3").filter(
        F.col("length") >= 1024
    )
    wf = decode_audio(files).filter(F.size("samples") >= 1024)
    return audio_ops.spectral_features(wf, nfft=1024).select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        "num_samples",
        "dominant_bin",
        "dominant_freq_hz",
        "tonality_milli",
    )


def _wav_roundtrip_oracle() -> str | None:
    """DuckDB twin of the S6 encode: per eligible fixture, the EXPECTED
    WAV md5 and byte length are computed at oracle-build time by an
    INDEPENDENT spec-level RIFF writer (struct-packed canonical 44-byte
    header — verified byte-identical to the stdlib ``wave`` container
    the operator uses) over the same deterministic fake waveform
    (float32-truncated sine, half-away int16 quantization). Inputs
    derive from the committed fixture bytes; the writer shares no code
    with operators.multimodal.encode_wav."""
    import hashlib
    import math
    import struct

    import numpy as np

    rows = []
    for p in sorted(Path(FIXTURE_AUDIO_TREE).glob("**/*.mp3")):
        payload = p.read_bytes()
        if len(payload) < 1024:
            continue
        digest = hashlib.md5(payload).digest()
        freq = 100 + digest[0]
        n = max(160, int(len(payload) / 1024 * 0.05 * 16000))
        x = np.array(
            [float(np.float32(math.sin(2 * math.pi * freq * i / 16000)))
             for i in range(n)]
        )
        x = np.clip(x, -1.0, 1.0)
        pcm = (np.sign(x) * np.floor(np.abs(x) * 32767 + 0.5)).astype("<i2")
        data = pcm.tobytes()
        wav = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        rows.append(
            (
                p.name.replace("'", "''"),
                n,
                hashlib.md5(wav).hexdigest(),
                len(wav),
            )
        )
    if not rows:
        return None
    vals = ",\n  ".join(
        f"('{f}', {n}, '{h}', {ln})" for f, n, h, ln in rows
    )
    return f"""
SELECT * FROM (VALUES
  {vals}) AS t(filename, num_samples, wav_md5, wav_bytes)
"""


@_register(
    "wav_roundtrip_digests",
    # S6 under the value-hash gate: the operator's REAL RIFF/PCM encode
    # must reproduce, byte for byte, what an independent spec-level
    # writer predicts from the fixture-derived waveforms.
    oracle=_wav_roundtrip_oracle(),
    tags=("S5", "S6", "multimodal", "audio"),
)
def wav_roundtrip_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3→WAV conversion (S6) digest-certified: S2 glob scan → S5
    decode → REAL 16-bit PCM RIFF encode (operators.multimodal.
    encode_wav) → md5 + length of the produced container. The oracle's
    expected digests come from an independent struct-packed RIFF
    writer, so hash equality certifies the full byte stream — header,
    quantization, sample order — not a replayed constant. Map-only
    (decode → encode → digest pipeline in one Arrow stage chain)."""
    from ..operators.multimodal import decode_audio, encode_wav
    from ..sources.readers import read_binary_files

    files = read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3").filter(
        F.col("length") >= 1024
    )
    enc = encode_wav(decode_audio(files))
    return enc.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        "num_samples",
        F.md5("wav").alias("wav_md5"),
        F.length("wav").cast("bigint").alias("wav_bytes"),
    )


@_register(
    "blob_upload_manifest",
    # S13 under the value-hash gate, with a FULLY independent oracle:
    # DuckDB reads the ORIGINAL fixture bytes itself (read_blob) and
    # digests them, while Spark digests what it reads back OUT of the
    # upload container — equality proves the sink moved every byte,
    # named blobs by the contract pattern, and overwrote idempotently.
    # (md5 via lower(hex(bytes)) on both engines — DuckDB's md5 is
    # VARCHAR-only.)
    oracle=f"""
SELECT 'audio/' || regexp_extract(filename, '([^/]+/[^/]+)$', 1) AS blob_name,
       CAST(size AS BIGINT) AS n_bytes,
       md5(lower(hex(content))) AS content_md5
FROM read_blob('{FIXTURE_AUDIO_TREE}/**/*.mp3')
WHERE size >= 1024
""",
    tags=("S13", "sink", "multimodal"),
)
def blob_upload_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-upload sink (S13) digest-certified end to end: S2 glob scan
    → upload into the local-container fake (the full naming/overwrite/
    partition-parallel contract; the SDK call is the documented slot) —
    TWICE, so the overwrite-by-stable-name semantics execute — then a
    binaryFile scan of the CONTAINER produces the manifest the oracle
    checks against the original fixture bytes it reads independently.
    App-scoped container dir: concurrent sessions never race."""
    import shutil

    from ..operators.binary_sink import upload_blobs
    from ..sources.readers import read_binary_files

    files = (
        read_binary_files(spark, FIXTURE_AUDIO_TREE, glob="*.mp3")
        .filter(F.col("length") >= 1024)
        # blob name = book_dir/filename — collision-proof across book
        # directories (the trimmer manifest's keying lesson; equal
        # basenames under different books must stay distinct blobs)
        .withColumn(
            "blob_rel", F.regexp_extract("path", r"([^/]+/[^/]+)$", 1)
        )
    )
    container = str(scratch(spark, "blob"))
    shutil.rmtree(container, ignore_errors=True)
    upload_blobs(files, container_dir=container, name_col="blob_rel")
    upload_blobs(files, container_dir=container, name_col="blob_rel")  # idempotent overwrite
    back = read_binary_files(spark, container, glob="*.mp3")
    return back.select(
        F.concat(
            F.lit("audio/"), F.regexp_extract("path", r"([^/]+/[^/]+)$", 1)
        ).alias("blob_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.lower(F.hex(F.col("content")))).alias("content_md5"),
    )
