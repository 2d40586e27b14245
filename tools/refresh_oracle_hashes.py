"""Refresh plans/oracle_green_hashes.json — the changed-entries-first
rotation's memory of "which oracle and plan the driver last validated".

Run RIGHT AFTER a round's CORRECTNESS_r{N}.json lands (i.e. at round
start, before touching any oracle or plan code): for every entry
hash-green in the LATEST correctness record, the live tree is by
construction the one the driver just validated, so its
``plans.fingerprint`` (oracle-text hash + transitive plan hash) becomes
the entry's snapshot record. Entries green only in OLDER rounds keep
their existing record untouched — updating them from the live tree
would silently clear a changed flag without driver validation (exactly
the gap VERDICT r12 #3 closed). Never-green entries stay absent: they
already sort first in the rotation.

The tool checks that precondition itself: it refuses, exit status 1,
when any commit after the one that added the latest CORRECTNESS file
touches the package, or the package has uncommitted changes
(``--dry-run`` included). Such a tree is not the one the correctness
record covers, and taking its fingerprints would clear changed flags
without validation.

Usage: python tools/refresh_oracle_hashes.py [--dry-run]
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
PACKAGE = "hebrew_tutor_data_pipeline_spark"


def package_edits_after(record: Path, repo: Path = REPO) -> list[str]:
    """Package edits no correctness record covers: the commits after the
    one that added ``record`` that touch the package (``<hash>
    <subject>``, newest first), plus ``"uncommitted changes"`` when the
    package's working tree differs from HEAD."""

    def git(*args: str) -> list[str]:
        out = subprocess.run(
            ["git", "-C", str(repo), *args], capture_output=True, text=True, check=True
        ).stdout
        return out.splitlines()

    added = git("log", "--diff-filter=A", "--format=%H", "--", str(record))
    edits = git("log", "--format=%h %s", f"{added[0]}..HEAD", "--", PACKAGE) if added else []
    if git("status", "--porcelain", "--", PACKAGE):
        edits.append("uncommitted changes")
    return edits


def merge_snapshot(
    snap: dict[str, dict],
    latest_record: dict,
    fingerprints: dict[str, dict],
) -> tuple[dict[str, dict], list[str], list[str]]:
    """Pure merge rule: entries hash-green in the LATEST record take the
    live fingerprint (the tree the driver just validated); entries green
    only in older rounds keep their existing snapshot value (updating
    them would silently clear a changed flag without driver
    validation); names no longer in the catalog are dropped. Returns
    (new_snapshot, updated_names, dropped_names)."""
    out = dict(snap)
    updated = []
    for name, rec in latest_record.items():
        if not (isinstance(rec, dict) and rec.get("hash_match") is True):
            continue
        h = fingerprints.get(name)
        if h is not None and out.get(name) != h:
            out[name] = h
            updated.append(name)
    dropped = sorted(set(out) - set(fingerprints))
    for name in dropped:
        del out[name]
    return out, updated, dropped


def main() -> int:
    from hebrew_tutor_data_pipeline_spark.plans import (
        CATALOG,
        _HASH_SNAPSHOT,
        fingerprint,
    )

    records = sorted(
        (
            (int(re.search(r"CORRECTNESS_r(\d+)\.json$", str(f)).group(1)), f)
            for f in REPO.glob("CORRECTNESS_r*.json")
        ),
    )
    if not records:
        print("no CORRECTNESS_r*.json records — nothing to refresh")
        return 1
    rnd, latest = records[-1]
    edits = package_edits_after(latest)
    if edits:
        print(
            f"refusing: {PACKAGE}/ changed after {latest.name} landed, so the live "
            f"tree is not the one that record covers: {edits}"
        )
        return 1
    data = json.loads(latest.read_text())
    try:
        snap = json.loads(_HASH_SNAPSHOT.read_text())
    except (OSError, ValueError):
        snap = {}

    cache: dict = {}
    hashes = {
        n: fingerprint(s, cache) for n, s in CATALOG.items() if s.oracle is not None
    }
    snap, updated, stale = merge_snapshot(snap, data, hashes)

    print(
        f"latest record: r{rnd} ({latest.name}); "
        f"{len(updated)} snapshot update(s): {updated}; "
        f"{len(stale)} stale entr{'y' if len(stale)==1 else 'ies'} dropped"
    )
    if "--dry-run" in sys.argv:
        return 0
    _HASH_SNAPSHOT.write_text(
        json.dumps(dict(sorted(snap.items())), indent=1) + "\n"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
