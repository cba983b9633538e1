"""Correctness checks: batch query results against their DuckDB oracles,
and streaming sinks against the output expected from the generated
input.

The batch comparison reuses the repository's own oracle gate
(``tools/oracle_check.py``): its ``normalize`` (columns sorted by name,
rows sorted, exact ``repr`` per cell) and its Arrow/Spark type classes.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq


def _oracle_gate(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check

    return oracle_check


def compare(cols, classes, rows, oracle_tbl, normalize, arrow_class) -> list[str]:
    """Problems found comparing one result with its oracle's Arrow
    table; an empty list means the result is correct."""
    ocols = oracle_tbl.column_names
    orows = [tuple(d[c] for c in ocols) for d in oracle_tbl.to_pylist()]
    problems = []
    if len(rows) != len(orows):
        problems.append(f"row count {len(rows)} vs oracle {len(orows)}")
    if sorted(cols) != sorted(ocols):
        return problems + [f"columns {sorted(cols)} vs oracle {sorted(ocols)}"]
    oclasses = {f.name: arrow_class(f.type) for f in oracle_tbl.schema}
    for c in cols:
        if classes[c] != oclasses[c]:
            problems.append(f"type of {c}: {classes[c]} vs oracle {oclasses[c]}")
    if not problems and normalize(rows, cols) != normalize(orows, ocols):
        problems.append("values differ from oracle")
    return problems


class OracleChecker:
    """Runs registered oracle SQL on DuckDB over the benchmark's tables."""

    def __init__(self, root: str, sf_dir: str, tables: list[str], work_dir: str):
        import duckdb

        self.gate = _oracle_gate(root)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{work_dir}'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def collect(self, df) -> tuple[list[str], dict[str, str], list[tuple]]:
        """Columns, type class per column and rows of a Spark DataFrame."""
        classes = {f.name: self.gate._spark_class(f.dataType) for f in df.schema.fields}
        return df.columns, classes, [tuple(r) for r in df.collect()]

    def check(self, sql: str | None, cols, classes, rows) -> list[str]:
        if sql is None:
            # rows-only query: no oracle, so require a non-empty result
            return [] if rows else ["rows-only query returned no rows"]
        tbl = self.con.execute(sql).fetch_arrow_table()
        return compare(cols, classes, rows, tbl, self.gate.normalize, self.gate._arrow_class)

    def close(self) -> None:
        self.con.close()


def sink_rows(sink_dir: str, cols: list[str]) -> list[tuple]:
    """Rows of a streaming parquet sink, projected to ``cols``."""
    files = sorted(
        os.path.join(sink_dir, f)
        for f in os.listdir(sink_dir)
        if f.endswith(".parquet")
    )
    rows: list[tuple] = []
    for f in files:
        t = pq.read_table(f, columns=cols)
        rows.extend(zip(*(t.column(c).to_pylist() for c in cols)))
    return rows


def check_sink(sink_dir: str, expected: list[tuple], cols: list[str]) -> list[str]:
    """Problems found comparing a sink with its expected rows (as a
    multiset, so a duplicated emission fails too)."""
    got = sorted(sink_rows(sink_dir, cols))
    want = sorted(expected)
    if len(got) != len(want):
        return [f"sink has {len(got)} rows, expected {len(want)}"]
    if got != want:
        return ["sink rows differ from expected"]
    return []
