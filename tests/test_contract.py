"""Driver-contract tests: entry() smoke, catalog/oracle key agreement,
and a fast oracle-parity sweep at sf0.001 (the full sf0.01 gate runs via
tools/parity.py)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.parity import TABLES, table_hash  # noqa: E402

SF = "/root/testdata/sf0.001"

# Per-commit parity gate, computed in LOCKSTEP with the driver-window
# rotation (plans/__init__.py): pytest hash-gates at sf0.001 exactly the
# oracled entries the driver will NOT check this round (out-of-window),
# plus any never-driver-validated entries that just rotated in — so
# every oracled query is gated somewhere at every commit. (The r03 NTZ
# regression slipped because the then-hand-maintained list missed
# progress_running_eta; a computed complement cannot miss.) An entry
# whose oracle or plan changed since its last green (load_changed) counts
# as never-validated: its green record predates the rewrite, so it is
# gated here as well as in the window it is forced into.
from hebrew_tutor_data_pipeline_spark.plans import (  # noqa: E402
    CATALOG,
    driver_window,
    load_changed,
    load_last_green,
)

_window = set(driver_window())
_green_ever = set(load_last_green()) - load_changed()
PARITY_SUBSET = [
    n
    for n, s in CATALOG.items()
    if s.oracle is not None and (n not in _window or n not in _green_ever)
]


class TestRotation:
    """The computed driver-window rotation (plans/__init__.py) replaces
    the r01–r04 hand-maintained _DEMOTED tuple; these pin its contract."""

    def test_every_oracled_entry_enters_window_within_ceil_n_over_w(self):
        import math

        from hebrew_tutor_data_pipeline_spark.plans import (
            WINDOW_SIZE,
            load_last_green,
            rotation_order,
        )

        names = list(CATALOG)
        has_oracle = {n: s.oracle is not None for n, s in CATALOG.items()}
        oracled = {n for n in names if has_oracle[n]}
        # start from the COMMITTED recorded state, then simulate green rounds
        last_green = dict(load_last_green())
        rnd = max(last_green.values(), default=0)
        seen: set[str] = set()
        for _ in range(math.ceil(len(oracled) / WINDOW_SIZE)):
            rnd += 1
            window = rotation_order(names, has_oracle, last_green)[:WINDOW_SIZE]
            if len(oracled) >= WINDOW_SIZE:
                assert all(has_oracle[n] for n in window), (
                    "a rows-only entry occupies a hash-checkable slot"
                )
            for n in window:
                last_green[n] = rnd
                seen.add(n)
        assert seen >= oracled, sorted(oracled - seen)

    def test_failed_entry_returns_next_round(self):
        from hebrew_tutor_data_pipeline_spark.plans import rotation_order

        names = [f"q{i:03d}" for i in range(120)]
        has_oracle = dict.fromkeys(names, True)
        win1 = rotation_order(names, has_oracle, {})[:50]
        failed = win1[7]
        lg = {n: 1 for n in win1 if n != failed}
        win2 = rotation_order(names, has_oracle, lg)[:50]
        assert failed in win2  # keeps its never-green priority
        assert all(n not in win2 for n in win1 if n != failed)

    def test_order_is_deterministic_and_rows_only_last(self):
        from hebrew_tutor_data_pipeline_spark.plans import rotation_order

        names = [f"q{i:03d}" for i in range(60)]
        has_oracle = {n: n != "q005" for n in names}
        lg = {"q010": 2, "q001": 1}
        a = rotation_order(list(names), has_oracle, dict(lg))
        # ties break on position in the given (registration-order) list,
        # so identical inputs must reproduce the order exactly
        assert a == rotation_order(list(names), has_oracle, dict(lg))
        assert a[-1] == "q005"  # rows-only sorts behind every oracled entry
        assert a[-3:-1] == ["q001", "q010"]  # green entries behind never-green

    def test_changed_entry_enters_next_window(self):
        """VERDICT r12 #3: an entry whose oracle text was rewritten
        AFTER its last driver-green must re-enter the very next window —
        least-recently-green alone gives it no priority. Pure-function
        form: a recently-green entry flagged changed sorts at
        never-green rank."""
        from hebrew_tutor_data_pipeline_spark.plans import rotation_order

        names = [f"q{i:03d}" for i in range(120)]
        has_oracle = dict.fromkeys(names, True)
        lg = {n: 1 + (i % 5) for i, n in enumerate(names)}  # all green
        rewritten = "q117"  # greenest tier, registration tail — worst case
        win = rotation_order(names, has_oracle, lg, frozenset({rewritten}))[:50]
        assert rewritten in win
        # and it ranks WITH never-green entries, ahead of every
        # unchanged green entry
        assert win.index(rewritten) == 0

    def test_refresh_merge_rule(self):
        """tools/refresh_oracle_hashes.merge_snapshot: latest-round
        green entries take the live fingerprint (clearing their changed
        flag); entries green only in OLDER rounds keep the recorded
        fingerprint even if the live tree differs (a rewrite must stay
        flagged until the driver re-validates); names gone from the
        catalog are dropped."""
        from tools.refresh_oracle_hashes import merge_snapshot

        def fp(tag):
            return {"oracle": f"o-{tag}", "plan": f"p-{tag}"}

        snap = {"a": fp("old-a"), "b": fp("old-b"), "gone": fp("x")}
        latest = {"a": {"hash_match": True}, "c": {"hash_match": True},
                  "d": {"hash_match": False}}
        live = {"a": fp("a"), "b": fp("b"), "c": fp("c"), "d": fp("d")}
        out, updated, dropped = merge_snapshot(snap, latest, live)
        assert out == {"a": fp("a"), "b": fp("old-b"), "c": fp("c")}
        assert sorted(updated) == ["a", "c"]
        assert dropped == ["gone"]

    def test_refresh_refuses_after_package_edit(self, tmp_path, monkeypatch):
        """tools/refresh_oracle_hashes.package_edits_after: once the
        latest CORRECTNESS file has landed, a commit touching the
        package (or an uncommitted package edit) makes the live tree
        one no correctness record covers; edits elsewhere do not."""
        import subprocess

        from tools.refresh_oracle_hashes import PACKAGE, package_edits_after

        for var in ("AUTHOR", "COMMITTER"):
            monkeypatch.setenv(f"GIT_{var}_NAME", "t")
            monkeypatch.setenv(f"GIT_{var}_EMAIL", "t@example.com")

        def commit(path: str, text: str, msg: str) -> None:
            f = tmp_path / path
            f.parent.mkdir(parents=True, exist_ok=True)
            f.write_text(text)
            subprocess.run(["git", "-C", str(tmp_path), "add", path], check=True)
            subprocess.run(["git", "-C", str(tmp_path), "commit", "-qm", msg], check=True)

        subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
        commit(f"{PACKAGE}/a.py", "x = 1\n", "package")
        record = tmp_path / "CORRECTNESS_r01.json"
        commit(record.name, "{}", "round 1")
        commit("NOTES.md", "docs\n", "docs only")
        assert package_edits_after(record, tmp_path) == []
        (tmp_path / PACKAGE / "a.py").write_text("x = 2\n")
        assert package_edits_after(record, tmp_path) == ["uncommitted changes"]
        commit(f"{PACKAGE}/a.py", "x = 2\n", "edit")
        edits = package_edits_after(record, tmp_path)
        assert len(edits) == 1 and edits[0].endswith(" edit")
        commit("CORRECTNESS_r02.json", "{}", "round 2")
        assert package_edits_after(tmp_path / "CORRECTNESS_r02.json", tmp_path) == []

    def test_live_changed_entries_are_in_window(self):
        """Integration form: every entry the committed snapshot flags as
        changed (oracle text ≠ hash at last green) is inside the live
        driver window, so the driver re-validates rewritten semantics
        the next round. (Empty changed-set is fine — the snapshot is
        refreshed via tools/refresh_oracle_hashes.py at round start.)"""
        from hebrew_tutor_data_pipeline_spark.plans import load_changed

        changed = load_changed()
        out = [n for n in changed if n not in _window]
        assert not out, f"changed entries left out of the driver window: {out}"

    def test_plan_source_change_flags_entry(self, tmp_path, monkeypatch):
        """r13: a PLAN rewrite with an untouched oracle must flag the
        entry changed (the oracle-only hash let the dedup-memo refactor
        slip the window). A record equal to the live fingerprint flags
        nothing; a stale plan or oracle hash flags the entry."""
        from hebrew_tutor_data_pipeline_spark import plans

        name = next(n for n, s in CATALOG.items() if s.oracle is not None)
        spec = CATALOG[name]
        live = plans.fingerprint(spec)
        snap_file = tmp_path / "snap.json"
        monkeypatch.setattr(plans, "_HASH_SNAPSHOT", snap_file)
        cat = {name: spec}

        def flagged(**stale):
            snap_file.write_text(json.dumps({name: {**live, **stale}}))
            return name in plans.load_changed(cat)

        assert not flagged()
        assert flagged(plan="0" * 64)
        assert flagged(oracle="0" * 64)

    def test_snapshot_records_have_one_form(self):
        """Every snapshot record is exactly {"oracle": sha256, "plan":
        sha256}: one record form, one way an entry gets flagged."""
        import re

        from hebrew_tutor_data_pipeline_spark.plans import _HASH_SNAPSHOT

        snap = json.loads(_HASH_SNAPSHOT.read_text())
        hex64 = re.compile(r"[0-9a-f]{64}")
        bad = {
            n: r for n, r in snap.items()
            if not (isinstance(r, dict) and set(r) == {"oracle", "plan"}
                    and all(isinstance(v, str) and hex64.fullmatch(v)
                            for v in r.values()))
        }
        assert not bad, bad
        assert set(snap) <= set(CATALOG)

    def test_live_window_is_fifty_oracled(self):
        from hebrew_tutor_data_pipeline_spark.plans import WINDOW_SIZE, driver_window

        win = driver_window()
        assert len(win) == WINDOW_SIZE
        assert all(CATALOG[n].oracle is not None for n in win)


class TestPlanHash:
    """The transitive plan hash (plans.plan_hash): an edit anywhere a
    plan reaches flags exactly the entries that reach it; an edit past
    the boundary, a comment or a docstring flags nothing. Edits are
    made in memory (monkeypatch), never on disk."""

    @pytest.fixture()
    def flagged(self, tmp_path, monkeypatch):
        """Point the snapshot at the live fingerprints; the returned
        callable gives the entries flagged after the test's edit."""
        from hebrew_tutor_data_pipeline_spark import plans

        snap = tmp_path / "snap.json"
        cache: dict = {}
        snap.write_text(json.dumps(
            {n: plans.fingerprint(s, cache) for n, s in CATALOG.items()}
        ))
        monkeypatch.setattr(plans, "_HASH_SNAPSHOT", snap)
        assert not plans.load_changed()
        return lambda: set(plans.load_changed())

    def test_helper_edit_flags_its_consumers(self, flagged, monkeypatch):
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml

        monkeypatch.setattr(catalog_ml, "_snapshot_flat", lambda spark, sf_dir: None)
        assert flagged() == {
            "corpus_snapshot_diff", "incremental_curation_delta", "curation_refresh_e2e",
        }

    def test_local_import_edge(self, flagged, monkeypatch):
        """The stream plans import the runner inside their bodies."""
        from hebrew_tutor_data_pipeline_spark.streaming import sources

        monkeypatch.setattr(sources, "run_available_now_to_parquet", lambda *a, **k: None)
        streams = {n for n in CATALOG if n.startswith("streaming_")}
        assert len(streams) == 10
        assert flagged() == streams

    def test_module_held_in_a_closure_cell(self, flagged, monkeypatch):
        """``_bpe_merge_table`` imports ``bpe`` locally and its memo
        ``build`` closure calls ``bpe.bpe_merges``: the module lives in
        a cell (STORE_DEREF / LOAD_DEREF), not a fast local."""
        from hebrew_tutor_data_pipeline_spark.operators import bpe

        monkeypatch.setattr(bpe, "bpe_merges", lambda *a, **k: None)
        assert flagged() == {"bpe_merge_rounds", "bpe_encode_corpus", "bpe_vocab_coverage"}

    def test_default_argument_edit(self, flagged, monkeypatch):
        from hebrew_tutor_data_pipeline_spark.operators import ann

        monkeypatch.setattr(ann.kmeans_codebook, "__defaults__", (32, 3))
        assert flagged() == {
            "ann_ivf_kmeans_top10", "cluster_balanced_sample",
            "embedding_outlier_scores", "semantic_dedup_flags",
        }

    def test_boundary_edit_flags_nothing(self, flagged, monkeypatch):
        """scope.pin is reached by 13 entries; rewriting its body in
        place is still invisible past the boundary."""
        from hebrew_tutor_data_pipeline_spark import scope

        monkeypatch.setattr(scope.pin, "__code__", (lambda *a, **k: None).__code__)
        assert flagged() == set()

    def test_comments_docstrings_and_lines_do_not_count(self):
        from hebrew_tutor_data_pipeline_spark.plans import plan_hash

        plain = "def f(x):\n    return [x + 1 for _ in range(2)]\n"
        noted = (
            "\n\n# header\ndef f(x):\n    \"\"\"A docstring.\"\"\"\n"
            "    # a comment\n    return [x + 1 for _ in range(2)]  # trailing\n"
        )
        edited = "def f(x):\n    return [x + 2 for _ in range(2)]\n"
        # a comprehension's first constant is loaded, unlike a docstring
        keyed = "def f(x):\n    return [y for y in x if y == 'a']\n"

        def compiled(src, filename):
            ns = {"__name__": "hebrew_tutor_data_pipeline_spark.plans.probe"}
            exec(compile(src, filename, "exec"), ns)
            return ns["f"]

        assert plan_hash(compiled(plain, "a.py")) == plan_hash(compiled(noted, "b.py"))
        assert plan_hash(compiled(plain, "a.py")) != plan_hash(compiled(edited, "a.py"))
        assert plan_hash(compiled(keyed, "a.py")) != plan_hash(
            compiled(keyed.replace("'a'", "'b'"), "a.py")
        )

    def test_stable_across_checkout_and_hash_seed(self, tmp_path):
        """One snapshot of the package, imported from two directories
        under two PYTHONHASHSEEDs in fresh processes, gives the same 148
        fingerprints. Both sides come from the snapshot, so an edit to a
        package file while the suite runs cannot reach either."""
        import os
        import shutil
        import subprocess

        repo = Path(__file__).resolve().parent.parent
        first, second = tmp_path / "a", tmp_path / "b"
        for part in ("hebrew_tutor_data_pipeline_spark", "tests/fixtures"):
            shutil.copytree(repo / part, first / part,
                            ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copytree(first, second)
        # no catalog plan reaches a set of strings, so a probe does
        probe = "def probe(x):\n    return x in {'alpha', 'beta', 'gamma', 'delta'}\n"
        code = (
            "import json, sys; sys.path.insert(0, '.');"
            "from hebrew_tutor_data_pipeline_spark import plans;"
            "assert plans.__file__.startswith(sys.argv[1]), plans.__file__;"
            f"ns = {{'__name__': 'probe'}}; exec({probe!r}, ns);"
            "fps = {n: plans.fingerprint(s) for n, s in plans.CATALOG.items()};"
            "print(json.dumps([fps, plans.plan_hash(ns['probe'])]))"
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

        def fingerprints(root: Path, seed: str) -> list:
            out = subprocess.run(
                [sys.executable, "-c", code, str(root)], cwd=root,
                env={**env, "PYTHONHASHSEED": seed},
                capture_output=True, text=True, check=True,
            ).stdout
            return json.loads(out.splitlines()[-1])

        (fps_a, probe_a), (fps_b, probe_b) = fingerprints(first, "7"), fingerprints(second, "8")
        assert len(fps_a) == 148
        assert fps_a == fps_b
        assert probe_a == probe_b


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert {"start", "end"} <= set(df.columns)


def test_catalog_keys_consistent():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(o) <= set(q), "oracle_sql keys must be a subset of queries"
    assert len(q) >= 30
    # every query callable is callable
    for fn in q.values():
        assert callable(fn)


def test_heavy_filter_allowlist_names_real_queries():
    """tools/explain_audit's adjudicated heavy-Filter exceptions must
    name catalog entries that exist — a renamed query would otherwise
    silently re-arm its exception for some future unrelated hit."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from explain_audit import _HEAVY_FILTER_ALLOWED

    unknown = set(_HEAVY_FILTER_ALLOWED) - set(entry_mod.queries())
    assert not unknown, f"allowlisted names not in the catalog: {unknown}"


def test_plan_shape_contract_names_and_snapshot():
    """The plan-shape gate's adjudicated BNLJ entries must name real
    catalog queries, and the committed snapshot must cover every
    non-streaming entry (a new entry without a snapshot row means
    `--shape --update` wasn't re-run — its shuffle count is unpinned)."""
    import json as _json
    import sys as _sys
    from pathlib import Path as _Path

    tools = _Path(__file__).resolve().parents[1] / "tools"
    _sys.path.insert(0, str(tools))
    from explain_audit import _NONEQUI_JOIN_ALLOWED, _SHAPE_SNAPSHOT

    unknown = set(_NONEQUI_JOIN_ALLOWED) - set(entry_mod.queries())
    assert not unknown, f"adjudicated BNLJ names not in the catalog: {unknown}"

    snap = _json.loads(_SHAPE_SNAPSHOT.read_text())
    expected = {n for n in entry_mod.queries() if not n.startswith("streaming_")}
    missing = expected - set(snap)
    assert not missing, (
        f"catalog entries missing from plan_shape_snapshot.json (run "
        f"tools/explain_audit.py --shape --update and adjudicate): {missing}"
    )
    # snapshot sanity: no entry was pinned WITH a CartesianProduct
    carts = {n for n, s in snap.items() if s.get("cartesian")}
    assert not carts, f"snapshot contains CartesianProduct plans: {carts}"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_every_survey_s2_id_has_a_tagged_carrier():
    """SURVEY.md §2 traceability: every operator ID must grep to at
    least one catalog entry's tags — coverage claims ride the tag
    index, not prose."""
    tags = {t for s in CATALOG.values() for t in s.tags}
    ids = (
        [f"S{i}" for i in range(1, 15)]
        + [f"P{i}" for i in range(1, 8)]
        + [f"J{i}" for i in range(1, 10)]
        + [f"A{i}" for i in range(1, 12)]
        + [f"W{i}" for i in range(1, 7)]
        + [f"O{i}" for i in range(1, 5)]
        + [f"E{i}" for i in range(1, 4)]
        + [f"F{i}" for i in range(1, 20)]
        + [f"U{i}" for i in range(1, 10)]
        + [f"T{i}" for i in range(1, 6)]
    )
    missing = [i for i in ids if i not in tags]
    assert not missing, f"§2 IDs with no tagged catalog carrier: {missing}"


def test_every_cited_bench_artifact_is_committed():
    """Records-over-prose (VERDICT r11 #1): every bench_runs artifact
    cited in SURVEY.md or bench_runs/README.md must exist IN GIT — a
    dangling citation turns a measurement claim into prose. r11 shipped
    two headline claims (sf1 typed parity, 10^8-key state probe) whose
    cited files were never committed; this gate makes that class of
    drift a test failure at the commit that introduces it."""
    import re
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    committed = set(
        subprocess.run(
            ["git", "ls-files", "bench_runs"],
            cwd=repo,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
    )
    # two citation spellings: path-qualified anywhere, and bare
    # `rNN_*.json|txt` backticked names inside bench_runs' own README
    qualified = re.compile(r"bench_runs/([A-Za-z0-9_.\-]+\.(?:json|txt))")
    # BENCH_last.json is intentionally absent: it is the untracked
    # per-run scratch sidecar (ADVICE r12); only the r{N}_* copies that
    # round_close.py writes are committable evidence.
    bare = re.compile(r"`(r\d+[A-Za-z0-9_.\-]*\.(?:json|txt))`")
    dangling: dict[str, list[str]] = {}
    cited: set[str] = set()
    for rel, pats in (
        ("SURVEY.md", [qualified]),
        ("bench_runs/README.md", [qualified, bare]),
    ):
        text = (repo / rel).read_text()
        for pat in pats:
            for name in pat.findall(text):
                cited.add(name)
                if f"bench_runs/{name}" not in committed:
                    dangling.setdefault(name, []).append(rel)
    assert not dangling, (
        "artifacts cited but not committed (re-run and commit them, or "
        f"fix the citation): {dangling}"
    )
    # VERDICT r12 #1: existence is not enough — r12's close snapshotted
    # two artifacts MID-WRITE, so HEAD held an empty control JSON and a
    # one-query bench sidecar while this gate stayed green. A cited
    # artifact's STAGED blob (`git show :path`, == HEAD on a clean
    # tree) must be non-empty, and a .json one must parse.
    hollow: dict[str, str] = {}
    for name in sorted(cited):
        rel = f"bench_runs/{name}"
        if rel not in committed:
            continue
        blob = subprocess.run(
            ["git", "show", f":{rel}"], cwd=repo, capture_output=True
        ).stdout
        if not blob.strip():
            hollow[name] = "empty blob"
        elif name.endswith(".json"):
            try:
                json.loads(blob)
            except ValueError as e:
                hollow[name] = f"unparseable JSON: {e}"
    assert not hollow, (
        f"cited artifacts committed hollow (mid-write snapshot?): {hollow}"
    )


def test_rows_bang_entries_are_value_green_somewhere():
    """ADVICE r12: a `rows!` line in a committed typed-parity sweep
    (oracle interrupted past the wall cap) leans on "values pinned at
    lower SFs" — this gate makes that claim checkable: every such entry
    must be hash-green in at least one committed CORRECTNESS_r*.json
    (the driver's sf0.01 value gate). An entry whose oracle times out at
    EVERY value-checkable SF would fail here instead of hiding behind
    the degrade tier."""
    import re
    import subprocess

    from hebrew_tutor_data_pipeline_spark.plans import load_last_green

    repo = Path(__file__).resolve().parent.parent
    committed = subprocess.run(
        ["git", "ls-files", "bench_runs"],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    green = set(load_last_green())
    unpinned: dict[str, list[str]] = {}
    for rel in committed:
        if "typed_parity" not in rel:
            continue
        for line in (repo / rel).read_text().splitlines():
            m = re.match(r"rows! (\w+):", line)
            if m and m.group(1) not in green:
                unpinned.setdefault(m.group(1), []).append(rel)
    assert not unpinned, (
        f"rows!-degraded entries with NO committed value-green record "
        f"at any SF: {unpinned}"
    )


def test_readme_round_section_crossrefs_resolve():
    """The other half of VERDICT r12 #1: bench_runs/README.md twice
    cited a 'Round 12 section' that did not exist. Every 'Round N
    section' cross-reference (in the README or SURVEY.md) must resolve
    to an actual `## Round N` header in the README."""
    import re

    repo = Path(__file__).resolve().parent.parent
    readme = (repo / "bench_runs" / "README.md").read_text()
    headers = {int(m) for m in re.findall(r"^## Round (\d+)", readme, re.M)}
    missing: dict[str, list[int]] = {}
    for rel in ("bench_runs/README.md", "SURVEY.md"):
        refs = {
            int(m)
            for m in re.findall(r"Round (\d+) section", (repo / rel).read_text())
        }
        bad = sorted(refs - headers)
        if bad:
            missing[rel] = bad
    assert not missing, (
        f"'Round N section' cross-references with no `## Round N` header "
        f"in bench_runs/README.md: {missing}"
    )


def test_no_banned_oracle_output_dtypes(oracle_con):
    """Every oracle's OUTPUT types must be driver-canonicalizable: no
    HUGEINT/UHUGEINT (bare integer sum() → int128), no DECIMAL (str()
    rendering is scale-dependent: Decimal('0.50') != repr(0.5)), no
    TIMESTAMP WITH TIME ZONE (to_timestamp(double) — Spark emits naive).
    This is the exact audit that isolated the five r7 gate failures;
    it binds (doesn't execute) each oracle, so it runs in seconds.
    """
    from tools.parity import oracle_type_problems

    offenders = {}
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        probs = oracle_type_problems(oracle_con, spec.oracle)
        if probs:
            offenders[name] = probs
    assert not offenders, (
        f"oracles emitting driver-divergent output types: {offenders} — "
        "CAST integer sums AS BIGINT, decimals AS DOUBLE, "
        "to_timestamp(...) AS TIMESTAMP"
    )


@pytest.mark.parametrize("name", PARITY_SUBSET)
def test_oracle_parity_sf0001(spark, oracle_con, name):
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = q[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    cur = oracle_con.execute(o[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), f"{name}: rowcount"
    assert sorted(sdf.columns) == sorted(ocols), f"{name}: columns"
    assert table_hash(srows, sdf.columns) == table_hash(orows, ocols), f"{name}: values"


def test_curation_funnel_monotone(spark):
    """Each curation stage can only shrink the corpus, and token yield
    only counts surviving docs."""
    q = entry_mod.queries()
    rows = q["curation_funnel"](spark, SF).collect()
    assert rows, "funnel must report at least one language"
    for r in rows:
        assert r["n_total"] >= r["n_quality"] >= r["n_dedup"] >= r["n_sampled"] >= 0
        if r["n_sampled"] == 0:
            assert r["tokens_sampled"] == 0


class TestReportValueReferences:
    """Pure-Python VALUE references for the session's numeric report
    entries — oracle parity alone is blind to semantics both engines
    share, so the references recompute from first principles."""

    def test_event_value_quantiles_vs_sorted_reference(self, spark):
        import math

        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            event_value_quantiles,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["event_type"]: (r["n_events"], r["p50"], r["p90"], r["p99"])
            for r in event_value_quantiles(spark, sf).collect()
        }
        rows = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_type", "value"
        ).collect()
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r["event_type"], []).append(r["value"])
        for t, vals in by_type.items():
            vals.sort()
            n = len(vals)
            expect = tuple(
                vals[int(math.ceil(q * n)) - 1] for q in (0.5, 0.9, 0.99)
            )
            assert got[t] == (n,) + expect, t

    def test_sq8_report_vs_python_replay(self, spark):
        import math

        from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import (
            sq8_reconstruction_report,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["dim"]: (r["mean_abs_err_micro"], r["max_abs_err_micro"])
            for r in sq8_reconstruction_report(spark, sf).collect()
        }
        vecs = [
            list(r["embedding"])
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        ]
        dim = len(vecs[0])
        for d in range(dim):
            xs = [v[d] for v in vecs]
            dmin, dmax = min(xs), max(xs)
            span = dmax - dmin
            errs = []
            for x in xs:
                if span == 0:
                    errs.append(0)
                    continue
                code = math.floor((x - dmin) * 255 / span + 0.5)
                recon = dmin + (code * span) / 255
                errs.append(math.floor(abs(x - recon) * 1_000_000 + 0.5))
            assert got[d] == (sum(errs) // len(errs), max(errs)), d

    def test_funnel_vs_python_replay(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            event_conversion_funnel,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["step"]: (r["n_users"], r["conv_ppm"])
            for r in event_conversion_funnel(spark, sf).collect()
        }
        rows = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "event_type", "ts"
        ).collect()
        users: dict = {}
        for r in rows:
            users.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
        c0 = len(users)
        c = [0, 0, 0]
        for evs in users.values():
            t1 = min((ts for ts, e in evs if e == "view"), default=None)
            if t1 is None:
                continue
            c[0] += 1
            t2 = min((ts for ts, e in evs if e == "click" and ts > t1), default=None)
            if t2 is None:
                continue
            c[1] += 1
            t3 = min(
                (ts for ts, e in evs if e == "purchase" and ts > t2), default=None
            )
            if t3 is not None:
                c[2] += 1
        assert got[1] == (c[0], c[0] * 1_000_000 // c0)
        assert got[2] == (c[1], c[1] * 1_000_000 // c[0])
        assert got[3] == (c[2], c[2] * 1_000_000 // c[1])

    def test_pagerank_vs_python_replay(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import (
            pagerank_neardup_graph,
            simhash_hamming_pairs,
        )

        sf = "/root/testdata/sf0.001"
        pairs = [
            (r["id_a"], r["id_b"])
            for r in simhash_hamming_pairs(spark, sf).collect()
            if r["hamming"] <= 1
        ]
        nodes = [
            r["doc_id"]
            for r in spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id")
            .collect()
        ]
        adj: dict = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        n = len(nodes)
        pr = {v: 1_000_000_000 // n for v in nodes}
        for _ in range(2):
            s = {v: 0 for v in nodes}
            for u, nbrs in adj.items():
                c = pr[u] // len(nbrs)
                for v in nbrs:
                    s[v] += c
            pr = {v: 150_000_000 // n + (850 * s[v]) // 1000 for v in nodes}
        got = {
            r["doc_id"]: r["pr_nano"]
            for r in pagerank_neardup_graph(spark, sf).collect()
        }
        assert got == pr
        # non-degenerate: near-dup hubs must outrank isolated docs
        assert max(pr.values()) > min(pr.values())

    def test_pagerank_quotient_on_clique_heavy_corpus(self, spark, tmp_path):
        """The quotient algebra's hazard topology: large equal-fingerprint
        cliques. A synthetic corpus of heavy duplicate groups must match
        the naive per-document pairwise replay exactly."""
        from hebrew_tutor_data_pipeline_spark.operators import dedup
        from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import (
            _hamming_bits_for,
            pagerank_neardup_graph,
        )

        rows = (
            [(i, "alpha beta gamma delta epsilon zeta", "en", "s0", 36) for i in range(50)]
            + [(100 + i, "one two three four five six seven", "en", "s1", 33) for i in range(30)]
            + [
                (200 + i, f"unique{i} text{i} row{i} spark{i} value{i}", "en", "s2", 30)
                for i in range(10)
            ]
        )
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf = str(tmp_path / "clique_sf")
        df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

        got = {
            r["doc_id"]: r["pr_nano"]
            for r in pagerank_neardup_graph(spark, sf).collect()
        }

        # naive pairwise replay from the SAME fingerprints
        n = len(rows)
        bits = _hamming_bits_for(n)
        fps = {
            r["id"]: r["simhash"]
            for r in dedup.simhash(df, "doc_id", "text", bits).collect()
        }
        ids = sorted(fps)
        adj: dict = {i: [] for i in ids}
        for i_pos, a in enumerate(ids):
            for b in ids[i_pos + 1 :]:
                if bin(fps[a] ^ fps[b]).count("1") <= 1:
                    adj[a].append(b)
                    adj[b].append(a)
        pr = {v: 1_000_000_000 // n for v in ids}
        for _ in range(2):
            s = {v: 0 for v in ids}
            for u, nbrs in adj.items():
                if not nbrs:
                    continue
                c = pr[u] // len(nbrs)
                for v in nbrs:
                    s[v] += c
            pr = {v: 150_000_000 // n + (850 * s[v]) // 1000 for v in ids}
        assert got == pr
        # each equal-fingerprint clique must share exactly one rank (the
        # symmetry the quotient exploits), and the topology must be
        # non-degenerate (more than one distinct rank corpus-wide)
        c0 = {pr[i] for i in range(50)}
        c1 = {pr[100 + i] for i in range(30)}
        assert len(c0) == 1 and len(c1) == 1
        assert len(set(pr.values())) > 1


def test_declared_schemas_match_their_producers(spark):
    """schemas.py's live tier must track the real producers: field names
    and types (nullability excluded — Spark's inference is looser) of
    rms_energy_segments and read_binary_files match ENERGY_SEGMENT /
    AUDIO_FILE exactly."""
    from pyspark.sql import functions as F

    from hebrew_tutor_data_pipeline_spark import schemas
    from hebrew_tutor_data_pipeline_spark.operators.audio import (
        rms_energy_segments,
    )
    from hebrew_tutor_data_pipeline_spark.sources.readers import (
        read_binary_files,
    )

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    wav = spark.createDataFrame(
        [("p", 4, [0.0, 0.1, 0.2, 0.3])],
        "path string, sample_rate int, samples array<double>",
    )
    segs = rms_energy_segments(wav, segment_seconds=0.5)
    want = [(f.name, f.dataType.simpleString()) for f in schemas.ENERGY_SEGMENT_SCHEMA.fields]
    assert shape(segs.select(*[f.name for f in schemas.ENERGY_SEGMENT_SCHEMA.fields])) == want

    files = read_binary_files(spark, "tests/fixtures/audio_tree", "*.mp3")
    want_af = [(f.name, f.dataType.simpleString()) for f in schemas.AUDIO_FILE_SCHEMA.fields]
    assert shape(files.select(*[f.name for f in schemas.AUDIO_FILE_SCHEMA.fields])) == want_af
