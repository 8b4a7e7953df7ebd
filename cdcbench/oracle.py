"""The output check: a DuckDB last-writer-wins query over the benchmark's
own inputs, compared with the table the engine produced.

Expected state: bootstrap rows as ``lsn = -1`` inserts, plus every WAL
event; per ``(conv_id, turn_idx)`` the event with the greatest
``(ts, lsn)`` wins, and keys whose winner is a delete are dropped.  The
engine's ``read_logical`` is exported to parquet (``ts`` as epoch
microseconds) and both sides are reduced to a row count and an
order-independent sum of row hashes, computed by DuckDB for both.
"""

from __future__ import annotations

from dataclasses import dataclass

ROW = "conv_id, turn_idx, role, text, tool"


@dataclass
class Check:
    ok: bool
    expected_rows: int
    actual_rows: int
    expected_digest: int
    actual_digest: int
    only_expected: int
    only_actual: int

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _events(boot: str | None, wal: list[str]) -> str:
    parts = []
    if boot:
        parts.append(
            f"SELECT -1::BIGINT AS lsn, 'I' AS op, {ROW}, ts FROM read_parquet('{boot}')"
        )
    files = ", ".join(f"'{p}'" for p in wal)
    parts.append(f"SELECT lsn, op, {ROW}, ts FROM read_parquet([{files}])")
    return " UNION ALL ".join(parts)


def expected_sql(boot: str | None, wal: list[str]) -> str:
    return f"""
    SELECT {ROW}, epoch_us(ts) AS ts_us FROM (
      SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                   ORDER BY ts DESC, lsn DESC) AS rn
      FROM ({_events(boot, wal)})
    ) WHERE rn = 1 AND op <> 'D'
    """


def _digest(con, rel: str) -> tuple[int, int]:
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({ROW}, ts_us))::HUGEINT, 0) FROM ({rel})"
    ).fetchone()
    return int(n), int(h)


def check(con, boot: str | None, wal: list[str], actual_parquet: str) -> Check:
    """Compare the engine's exported table with the oracle."""
    exp = expected_sql(boot, wal)
    act = f"SELECT {ROW}, ts_us FROM read_parquet('{actual_parquet}/*.parquet')"
    en, eh = _digest(con, exp)
    an, ah = _digest(con, act)
    only_e = only_a = 0
    if (en, eh) != (an, ah):
        only_e = con.sql(f"SELECT count(*) FROM (({exp}) EXCEPT ALL ({act}))").fetchone()[0]
        only_a = con.sql(f"SELECT count(*) FROM (({act}) EXCEPT ALL ({exp}))").fetchone()[0]
    return Check((en, eh) == (an, ah), en, an, eh, ah, int(only_e), int(only_a))


def epoch_event_counts(con, wal: list[str], ranges: list[tuple[int, int]]) -> list[int]:
    """WAL events inside each half-open ``(lo, hi]`` LSN range."""
    files = ", ".join(f"'{p}'" for p in wal)
    con.execute(f"CREATE OR REPLACE TEMP TABLE wal_lsn AS SELECT lsn FROM read_parquet([{files}])")
    return [
        int(con.sql(f"SELECT count(*) FROM wal_lsn WHERE lsn > {lo} AND lsn <= {hi}").fetchone()[0])
        for lo, hi in ranges
    ]
