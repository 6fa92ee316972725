"""Correctness gate: a DuckDB replay of the generated change events.

The oracle is the latest row per ``(conv_id, turn_idx)`` by ``lsn``, with a
delete removing the key — the naive replay the engine's merge must equal.
Timestamps compare as epoch microseconds.  The connection runs in UTC, so
the base's naive parquet timestamps and the JSON side's offset timestamps
meet on the same instant whatever the host's local zone.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts_us")
EVENT_COLUMNS = "lsn, op, conv_id, turn_idx, role, text, tool, ts"
# the JSON envelope decoded by DuckDB, independently of the engine's decoder
JSON_EVENT_COLUMNS = (
    "lsn, op, json_extract_string(payload, '$.conv_id') AS conv_id, "
    "CAST(json_extract(payload, '$.turn_idx') AS INTEGER) AS turn_idx, "
    "json_extract_string(payload, '$.role') AS role, "
    "json_extract_string(payload, '$.text') AS text, "
    "json_extract_string(payload, '$.tool') AS tool, "
    "CAST(json_extract_string(payload, '$.ts') AS TIMESTAMPTZ) AS ts"
)


def events_sql(segment_dir: str, json: bool) -> str:
    cols = JSON_EVENT_COLUMNS if json else EVENT_COLUMNS
    return (f"SELECT {cols} FROM read_parquet('{segment_dir}/**/*.parquet', "
            "hive_partitioning = false)")


class Oracle:
    def __init__(self, sources: list[tuple[str, bool]]):
        """``sources``: (segment dir, holds the JSON envelope) pairs."""
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            "CREATE TABLE ev AS "
            + " UNION ALL ".join(f"({events_sql(d, j)})" for d, j in sources)
        )
        self.con.execute(
            "CREATE TABLE oracle AS SELECT conv_id, turn_idx, role, text, tool, "
            "epoch_us(ts) AS ts_us FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn FROM ev"
            ") WHERE rn = 1 AND op <> 'd'"
        )

    def close(self) -> None:
        self.con.close()

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM oracle").fetchone()[0]

    def mismatches(self, engine: pd.DataFrame) -> tuple[int, int]:
        """(oracle rows the engine lacks, engine rows the oracle lacks),
        compared as multisets on every payload column."""
        self.con.register("engine", engine[list(COLUMNS)])
        try:
            cols = ", ".join(COLUMNS)
            missing = self.con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM oracle "
                f"EXCEPT ALL SELECT {cols} FROM engine)"
            ).fetchone()[0]
            extra = self.con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM engine "
                f"EXCEPT ALL SELECT {cols} FROM oracle)"
            ).fetchone()[0]
        finally:
            self.con.unregister("engine")
        return missing, extra

    def gate_detects_corruption(self, engine: pd.DataFrame) -> bool:
        """Self-check: the comparison must fail once one engine row is
        altered.  A gate that passes a corrupted table proves nothing."""
        if engine.empty:
            return False
        bad = engine.copy()
        bad.loc[bad.index[0], "text"] = f"{bad.iloc[0]['text']}#altered"
        return self.mismatches(bad) != (0, 0)

    def sample_keys(self, source_dir: str, json: bool, n: int,
                    seed: int) -> list[tuple[str, int]]:
        """``n`` distinct keys the given segments touch, chosen by seed."""
        keys = self.con.execute(
            f"SELECT DISTINCT conv_id, turn_idx FROM ({events_sql(source_dir, json)}) "
            "ORDER BY conv_id, turn_idx"
        ).fetchall()
        return random.Random(seed).sample([tuple(k) for k in keys], n)

    def segment_last_lsn(self, source_dir: str) -> dict[int, int]:
        """The last lsn of each segment (``chunk=<i>`` directory)."""
        rows = self.con.execute(
            f"SELECT chunk, max(lsn) FROM read_parquet('{source_dir}/**/*.parquet', "
            "hive_partitioning = true) GROUP BY chunk"
        ).fetchall()
        return {int(c): int(lsn) for c, lsn in rows}

    def expected(self, keys: list[tuple[str, int]],
                 upto_lsn: int | None = None) -> dict[tuple[str, int], list[tuple]]:
        """Oracle rows for each key once the events up to ``upto_lsn`` (all
        when None) are applied: one row, or none when the replay ends in a
        delete or has not reached the key."""
        out: dict[tuple[str, int], list[tuple]] = {k: [] for k in keys}
        frame = pd.DataFrame(keys, columns=["conv_id", "turn_idx"])
        self.con.register("wanted", frame)
        try:
            rows = self.con.execute(
                "SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) FROM ("
                "  SELECT e.*, row_number() OVER ("
                "    PARTITION BY e.conv_id, e.turn_idx ORDER BY e.lsn DESC) AS rn"
                "  FROM ev e JOIN wanted w"
                "  ON e.conv_id = w.conv_id AND e.turn_idx = w.turn_idx"
                "  WHERE e.lsn <= ?"
                ") WHERE rn = 1 AND op <> 'd'",
                [upto_lsn if upto_lsn is not None else 2**62],
            ).fetchall()
        finally:
            self.con.unregister("wanted")
        for r in rows:
            out[(r[0], r[1])].append(tuple(r))
        return out
