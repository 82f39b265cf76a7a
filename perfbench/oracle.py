"""Independent correctness oracle for the CDC ingest benchmark.

The expected table state is computed by DuckDB straight from the
change-log files, never through the engine: last-writer-wins by LSN per
``(conv_id, turn_idx)``, deletes dropped. Because the pipeline consumes
whole files in per-shard offset order, the state after any batch is the
LWW fold over exactly the files whose ``end_seq`` is at or below the
checkpointed offset of their shard — so the oracle can check a lookup or
a scan taken mid-stream, not only the final table.

Comparison is by row count plus an order-independent checksum: the sum
of the first 60 bits of ``md5(conv_id \\x01 turn_idx \\x01 text)`` over
all live rows, with identical arithmetic in both engines (the scheme of
``bench/replay_match.py``). ``turn_idx`` widens from int to bigint
mid-stream and ``model`` appears; DuckDB's ``union_by_name`` unifies
both, and the decimal rendering of ``turn_idx`` is the same either way.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb

_NAME = re.compile(r"shard=(\d+)/events-(\d{12})-(\d{12})\.parquet$")


def log_files(log_dir: str) -> list[tuple[int, int, str]]:
    """(shard, end_seq, path) of every change-log file."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "shard=*", "events-*.parquet"))):
        m = _NAME.search(p)
        if m:
            out.append((int(m.group(1)), int(m.group(3)), p))
    return out


def spark_checksum_exprs():
    """Spark columns (count, checksum) matching :meth:`Oracle.checksum`."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        "\x01",
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("text"), F.lit("\x00NULL")),
    )
    digest = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    return F.count(F.lit(1)).alias("n"), F.sum(digest).alias("sum")


def table_checksum(df) -> tuple[int, int]:
    row = df.select("conv_id", "turn_idx", "text").agg(*spark_checksum_exprs()).collect()[0]
    return int(row["n"]), int(row["sum"] or 0)


class Oracle:
    """All change events loaded once into DuckDB, tagged with their
    file's (shard, end_seq) so any consumed prefix can be folded."""

    def __init__(self, log_dir: str):
        files = log_files(log_dir)
        if not files:
            raise ValueError(f"no change-log files under {log_dir}")
        import pyarrow.parquet as pq

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE files (path VARCHAR, f_shard INTEGER, f_end BIGINT, has_model BOOLEAN)"
        )
        self.con.executemany(
            "INSERT INTO files VALUES (?, ?, ?, ?)",
            [(p, s, e, "model" in pq.read_schema(p).names) for s, e, p in files],
        )
        paths = ", ".join("'" + p.replace("'", "''") + "'" for _, _, p in files)
        self.con.execute(f"""
            CREATE TABLE ev AS
            SELECT e.conv_id, CAST(e.turn_idx AS BIGINT) AS turn_idx, e.text, e.op, e.lsn,
                   f.f_shard, f.f_end
            FROM read_parquet([{paths}], union_by_name=true, filename=true) e
            JOIN files f ON e.filename = f.path
        """)

    @staticmethod
    def _prefix(offsets: dict[int, int]) -> str:
        if not offsets:
            return "FALSE"
        return "(" + " OR ".join(
            f"(f_shard = {int(s)} AND f_end <= {int(o)})" for s, o in sorted(offsets.items())
        ) + ")"

    def _state_sql(self, offsets: dict[int, int], where: str = "TRUE") -> str:
        return f"""
            SELECT conv_id, turn_idx, text FROM (
              SELECT conv_id, turn_idx, text, op,
                     row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
              FROM ev WHERE {self._prefix(offsets)} AND {where}
            ) WHERE rn = 1 AND op <> 'D'
        """

    def checksum(self, offsets: dict[int, int]) -> tuple[int, int]:
        n, s = self.con.execute(f"""
            SELECT count(*), sum(('0x' || substr(md5(
                conv_id || chr(1) || CAST(turn_idx AS VARCHAR) || chr(1)
                || coalesce(text, chr(0) || 'NULL')), 1, 15))::UBIGINT)
            FROM ({self._state_sql(offsets)})
        """).fetchone()
        return int(n), int(s or 0)

    def conv_rows(self, offsets: dict[int, int], conv_id: str) -> list[tuple[int, str]]:
        rows = self.con.execute(
            f"SELECT turn_idx, text FROM ({self._state_sql(offsets, 'conv_id = $c')}) ORDER BY 1",
            {"c": conv_id},
        ).fetchall()
        return [(int(t), x) for t, x in rows]

    def has_schema_change(self, offsets: dict[int, int]) -> bool:
        """True once a consumed file carries the ``model`` column."""
        return bool(self.con.execute(
            f"SELECT count(*) FROM files WHERE has_model AND {self._prefix(offsets)}"
        ).fetchone()[0])

    def close(self) -> None:
        self.con.close()


def gate_table(table, oracle: Oracle, offsets: dict[int, int]) -> list[str]:
    """Check a lake table's current state against the oracle; returns
    the list of mismatches (empty = pass)."""
    problems = []
    got = table_checksum(table.scan())
    want = oracle.checksum(offsets)
    if got[0] != want[0]:
        problems.append(f"row count {got[0]} != oracle {want[0]}")
    if got[1] != want[1]:
        problems.append("checksum over (conv_id, turn_idx, text) differs from oracle")
    fields = {f.name: f.dataType.simpleString() for f in table.schema().fields}
    if oracle.has_schema_change(offsets):
        if "model" not in fields or fields.get("turn_idx") != "bigint":
            problems.append(f"schema change not applied: {fields}")
    return problems
