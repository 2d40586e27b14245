"""Output checks, run after the timed region.

Batch entries are compared with their DuckDB oracle by row count,
column names and ``tools/parity.py``'s order-insensitive ``table_hash``
— the same gate the repository's parity sweep applies.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import duckdb  # noqa: E402
from parity import table_hash  # noqa: E402


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return cols, list(zip(*(c.to_pylist() for c in table.columns)))


class OracleChecker:
    def __init__(self, data_dir: Path) -> None:
        self.con = duckdb.connect()
        for f in sorted(data_dir.glob("*.parquet")):
            self.con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")

    def mismatch(self, oracle_sql: str | None, result) -> str | None:
        """None when the Arrow ``result`` matches the oracle, else why not."""
        if oracle_sql is None:
            return "no oracle"
        cur = self.con.execute(oracle_sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        scols, srows = arrow_rows(result)
        if len(srows) != len(orows):
            return f"rowcount {len(srows)} vs oracle {len(orows)}"
        if sorted(scols) != sorted(ocols):
            return f"columns {sorted(scols)} vs oracle {sorted(ocols)}"
        if table_hash(srows, scols) != table_hash(orows, ocols):
            return "value-hash mismatch"
        return None

    def close(self) -> None:
        self.con.close()
