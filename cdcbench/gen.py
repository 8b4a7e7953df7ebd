"""Seeded input generation for the CDC benchmark.

Everything here is built with DuckDB from the seed alone and written as
parquet.  Nothing is imported from the engine, so a change to the engine
(its generators included) cannot change what the benchmark feeds it.

Shapes follow FIXTURES.md:

* ``transcripts`` (§1) — the bootstrap state, one row per
  ``(conv_id, turn_idx)``, 5–50 turns per conversation;
* ``changes`` (§2) — a binlog-shaped WAL: 20% of events on 1% of the
  conversations, 2% exact duplicates re-delivered at ``lsn + n``, 5%
  out-of-order ``ts``, 3% deletes, 30% updates;
* ``changes_drifted`` (§3) — value mutations of the bootstrap state
  with the payload as ``map<string,string>`` under a nested, indexed
  wire shape.  Field names carry a tag derived from the seed, so the
  shape is new to the JVM that meets it.

Every generator also leaves the logical events it encodes where the
DuckDB oracle (``oracle.py``) can read them.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa

ROLE_MIX = ["user"] * 5 + ["assistant"] * 5 + ["system"] * 2 + ["tool"] * 8
TOOLS = ["search", "python", "browser", "calculator", "none"]
_WORDS = (
    "alpha beta gamma delta epsilon stream batch merge table event change "
    "commit epoch schema drift field value record key hash bucket file "
    "snapshot query answer model token user assistant system tool call "
    "result search python browser calculator plan step reason verify"
).split()
POOL = 4096  # distinct phrases; each text is a phrase plus a unique suffix

# wall-clock anchors (seconds since the epoch, UTC, whole seconds: the
# drifted wire renders ISO seconds, so every ts must survive that trip)
TS_BOOT = 1_704_067_200  # 2024-01-01 — bootstrap rows
TS_WAL = 1_706_745_600  # 2024-02-01 — WAL events

LOGICAL_COLS = "lsn, op, conv_id, turn_idx, role, text, tool, ts"


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET preserve_insertion_order=false")
    return con


def _register_pool(con: duckdb.DuckDBPyConnection, seed: int) -> None:
    r = random.Random(seed)
    phrases = [
        " ".join(r.choice(_WORDS) for _ in range(r.randint(3, 40)))
        for _ in range(POOL)
    ]
    con.register(
        "phrase_pool",
        pa.table({"pid": pa.array(range(POOL), pa.int64()), "phrase": phrases}),
    )
    con.execute(
        "CREATE OR REPLACE MACRO unif(s, salt, x) AS "
        "(hash(s, salt, x) % 1000000)::DOUBLE / 1e6"
    )
    con.execute(
        "CREATE OR REPLACE MACRO pick(s, salt, x, n) AS (hash(s, salt, x) % n)::BIGINT"
    )


def _copy(con, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


def _payload_sql(seed: int, rid: str, salt: int) -> dict[str, str]:
    """Role/text/tool expressions for a payload identified by ``rid``.
    Needs ``phrase_pool`` joined as ``p`` on ``p.pid = pick(seed, salt, rid, POOL)``."""
    # tool turns are 40% of the conversation (user/assistant 25% each,
    # system 10%), so a sparse ``tool`` field still clears the mapper's
    # candidate-response vote gate (0.2 of the matched probe records)
    roles = "['" + "','".join(ROLE_MIX) + "']"
    tools = "['" + "','".join(TOOLS) + "']"
    role = f"{roles}[1 + pick({seed}, {salt + 1}, {rid}, {len(ROLE_MIX)})]"
    return {
        "role": role,
        "text": f"p.phrase || ' #' || {rid}::VARCHAR",
        "tool": f"CASE WHEN {role} = 'tool' THEN {tools}[1 + pick({seed}, {salt + 2}, {rid}, 5)] END",
    }


def transcripts(con, seed: int, n_conv: int, path: str) -> int:
    """Bootstrap state (FIXTURES §1): ``n_conv`` conversations of 5–50
    turns, one row per key.  Returns the row count."""
    _register_pool(con, seed)
    pl = _payload_sql(seed, "rid", 40)
    sql = f"""
    WITH convs AS (
      SELECT c, 5 + pick({seed}, 1, c, 46) AS n_turns FROM range({n_conv}) t(c)
    ), rows AS (
      SELECT c, t AS turn_idx, c * 1000 + t AS rid
      FROM convs, LATERAL (SELECT unnest(range(n_turns)) AS t)
    )
    SELECT printf('conv-%08d', c) AS conv_id, turn_idx::INTEGER AS turn_idx,
           {pl['role']} AS role, {pl['text']} AS text, {pl['tool']} AS tool,
           to_timestamp({TS_BOOT} + c * 600 + turn_idx * 10) AS ts
    FROM rows JOIN phrase_pool p ON p.pid = pick({seed}, 40, rid, {POOL})
    """
    _copy(con, sql, path)
    return con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def _events_sql(seed: int, n_events: int, n_conv: int, max_turns: int,
                lsn_expr: str, ts_base: int) -> str:
    """FIXTURES §2 base events (no duplicates) over ``range(n_events) i``."""
    n_hot = max(1, n_conv // 100)
    pl = _payload_sql(seed, "i", 24)
    return f"""
    SELECT {lsn_expr} AS lsn, i,
      CASE WHEN unif({seed}, 4, i) < 0.03 THEN 'D'
           WHEN unif({seed}, 4, i) < 0.33 THEN 'U' ELSE 'I' END AS op,
      printf('conv-%08d', CASE WHEN unif({seed}, 1, i) < 0.2
                                THEN pick({seed}, 2, i, {n_hot})
                                ELSE pick({seed}, 3, i, {n_conv}) END) AS conv_id,
      pick({seed}, 5, i, {max_turns})::INTEGER AS turn_idx,
      {pl['role']} AS role, {pl['text']} AS text, {pl['tool']} AS tool,
      to_timestamp({ts_base} + CASE WHEN unif({seed}, 6, i) < 0.05
                                    THEN i - pick({seed}, 7, i, 5000)
                                    ELSE i END) AS ts
    FROM range({n_events}) t(i) JOIN phrase_pool p ON p.pid = pick({seed}, 24, i, {POOL})
    """


def _null_deletes(rel: str) -> str:
    return f"""
    SELECT lsn, op, conv_id, turn_idx,
           CASE WHEN op <> 'D' THEN role END AS role,
           CASE WHEN op <> 'D' THEN text END AS text,
           CASE WHEN op <> 'D' THEN tool END AS tool, ts
    FROM ({rel})
    """


def bulk_wal(con, seed: int, n_events: int, n_conv: int, path: str) -> dict:
    """The bulk replay WAL (FIXTURES §2).  Duplicates are re-delivered at
    ``lsn + n_events``, so the log's LSN span is about twice its event
    count with a sparse upper half — the shape today's LSN-span planner
    turns into uneven epochs.  Returns ``{lo, hi, n}``."""
    _register_pool(con, seed)
    base = _events_sql(seed, n_events, n_conv, 50, "i", TS_WAL)
    sql = _null_deletes(f"""
      SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts FROM ({base})
      UNION ALL
      SELECT lsn + {n_events}, op, conv_id, turn_idx, role, text, tool, ts
      FROM ({base}) WHERE unif({seed}, 8, i) < 0.02
    """)
    _copy(con, sql, path)
    lo, hi, n = con.sql(f"SELECT min(lsn), max(lsn), count(*) FROM '{path}'").fetchone()
    return {"lo": int(lo), "hi": int(hi), "n": int(n)}


def tail_segments(con, seed: int, n_segments: int, seg_events: int, n_conv: int,
                  out_dir: str) -> list[dict]:
    """WAL segments for the live tail, continuing the bootstrap state of
    ``n_conv`` conversations.  Base events take even LSNs; each
    duplicate is re-delivered two segments later at an odd LSN, so LSNs
    stay unique and increase from segment to segment.  One parquet file
    per segment, ``seg-NNNNN.parquet``.  Returns per-segment
    ``{file, lo, hi, n}``."""
    _register_pool(con, seed + 1)
    n_base = n_segments * seg_events
    span = 2 * seg_events  # LSNs per segment
    base = _events_sql(seed + 1, n_base, n_conv, 60, "2 * i", TS_WAL)
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE tail_events AS
      SELECT * FROM ({_null_deletes(f'''
        SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts FROM ({base})
        UNION ALL
        SELECT lsn + 2 * {span} + 1, op, conv_id, turn_idx, role, text, tool, ts
        FROM ({base}) WHERE unif({seed + 1}, 8, i) < 0.02
      ''')}) WHERE lsn < {n_segments * span}
    """)
    os.makedirs(out_dir, exist_ok=True)
    segs = []
    for k in range(n_segments):
        f = os.path.join(out_dir, f"seg-{k:05d}.parquet")
        _copy(con, f"""SELECT {LOGICAL_COLS} FROM tail_events
                       WHERE lsn >= {k * span} AND lsn < {(k + 1) * span}""", f)
        lo, hi, n = con.sql(
            f"SELECT min(lsn), max(lsn), count(*) FROM tail_events "
            f"WHERE lsn >= {k * span} AND lsn < {(k + 1) * span}"
        ).fetchone()
        segs.append({"file": f, "lo": int(lo), "hi": int(hi), "n": int(n)})
    return segs


# --- drifted wire shape -----------------------------------------------------
def nested_fields(tag: str) -> dict[str, str]:
    """Target column → wire field name of the drifted shape, each name
    carrying ``tag`` (the ground-truth mapping; ``[*]`` marks the
    wildcard the mapper reports for an indexed path)."""
    return {"conv_id": f"msg_{tag}.conv", "turn_idx": f"msg_{tag}.idx",
            "role": f"msg_{tag}.meta.role", "text": f"msg_{tag}.body",
            "tool": f"tools_{tag}[*].name", "ts": f"msg_{tag}.meta.time"}


def canonical_mapping_json() -> str:
    """The function store an operator would hand the replay for the
    canonical shape (the ``Mapping.to_json`` document the replay CLI
    reads with ``--mapping``): keys and columns map to themselves; a
    column's ``support`` is its share of non-delete records, so the
    sparse ``tool`` stays out of the drift detector's core fields."""
    import json

    return json.dumps({
        "key_fields": {"conv_id": "conv_id", "turn_idx": "turn_idx"},
        "columns": [{"tgt_column": c, "src_field": c, "support": s}
                    for c, s in (("role", 1.0), ("text", 1.0), ("tool", 0.4), ("ts", 1.0))],
        "evolution_events": [],
        "payload_json_schema": None,
    })


def _wire_sql(tag: str, rel: str) -> str:
    """(lsn, op, payload map) of ``rel`` in the drifted shape; ``ts``
    travels as an ISO-8601 string, the tool in an indexed array path."""
    f = nested_fields(tag)
    entries = [
        (f["conv_id"], "conv_id"),
        (f["turn_idx"], "turn_idx::VARCHAR"),
        (f["role"], "role"),
        (f["text"], "text"),
        (f["tool"].replace("[*]", "[0]"), "tool"),
        (f["ts"], "strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%dT%H:%M:%S')"),
    ]
    keys = "[" + ", ".join(f"'{k}'" for k, _ in entries) + "]"
    vals = "[" + ", ".join(v for _, v in entries) + "]"
    return f"""
    SELECT lsn, op, map_from_entries(list_filter(
             list_zip({keys}, {vals}), e -> e[2] IS NOT NULL)) AS payload
    FROM ({rel})
    """


def drifted_wal(con, seed: int, boot_path: str, n_events: int, tag: str,
                out_dir: str) -> dict:
    """A drifted WAL over the bootstrap state at ``boot_path``: 70%
    updates echoing a current row (a fifth of them edit the text, with a
    later ts — real value mutations), 25% inserts of new turns, 5%
    deletes.  LSNs are dense from 1.  Every event arrives in the
    seed-tagged nested shape (``drifted.parquet``), so the shape has
    flipped since the canonical mapping was stored; the logical events
    go to ``logical.parquet``.  Returns the ``wal`` extent."""
    _register_pool(con, seed + 2)
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE boot AS
      SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS k, *
      FROM '{boot_path}'
    """)
    n_boot = con.sql("SELECT count(*) FROM boot").fetchone()[0]
    pl = _payload_sql(seed + 2, "i", 60)
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE drift_events AS
      WITH ev AS (
        SELECT i, i + 1 AS lsn, unif({seed}, 61, i) AS v,
               unif({seed}, 62, i) < 0.2 AS mutate,
               pick({seed}, 63, i, {n_boot}) AS k
        FROM range({n_events}) t(i)
      )
      SELECT ev.lsn,
        CASE WHEN v < 0.05 THEN 'D' WHEN v < 0.75 THEN 'U' ELSE 'I' END AS op,
        b.conv_id,
        CASE WHEN v < 0.75 THEN b.turn_idx
             ELSE (100 + pick({seed}, 64, i, 50))::INTEGER END AS turn_idx,
        CASE WHEN v < 0.05 THEN NULL WHEN v < 0.75 THEN b.role
             ELSE {pl['role']} END AS role,
        CASE WHEN v < 0.05 THEN NULL WHEN v < 0.75 AND NOT mutate THEN b.text
             ELSE {pl['text']} END AS text,
        CASE WHEN v < 0.05 THEN NULL WHEN v < 0.75 THEN b.tool
             ELSE {pl['tool']} END AS tool,
        CASE WHEN v < 0.75 AND NOT mutate AND v >= 0.05 THEN b.ts
             ELSE to_timestamp({TS_WAL} + i) END AS ts
      FROM ev JOIN boot b ON b.k = ev.k
              JOIN phrase_pool p ON p.pid = pick({seed + 2}, 60, i, {POOL})
    """)
    _copy(con, f"SELECT {LOGICAL_COLS} FROM drift_events", f"{out_dir}/logical.parquet")
    _copy(con, _wire_sql(tag, "SELECT * FROM drift_events"),
          f"{out_dir}/drifted.parquet")
    return {"wal": {"lo": 1, "hi": n_events, "n": n_events}}


def lookup_keys(con, seed: int, source: str, k: int) -> list[tuple[str, int]]:
    """``k`` distinct keys of ``source`` (a parquet path), chosen by seed."""
    rows = con.sql(f"""
      SELECT DISTINCT conv_id, turn_idx FROM read_parquet('{source}')
      ORDER BY hash({seed}, conv_id, turn_idx) LIMIT {k}
    """).fetchall()
    return [(c, int(t)) for c, t in rows]


def main(spec: dict) -> dict:
    """Build every input one workload needs into ``spec["dir"]``."""
    d, seed, name = spec["dir"], spec["seed"], spec["workload"]
    os.makedirs(d, exist_ok=True)
    con = connect(spec["threads"])
    out: dict = {}
    if name == "replay_and_tail":
        n = spec["events"]
        out["wal"] = bulk_wal(con, seed, n, n // 80, f"{d}/wal.parquet")
        out["boot_rows"] = transcripts(con, seed, spec["conv"], f"{d}/boot.parquet")
        segs = tail_segments(con, seed, spec["warm_segments"] + spec["segments"],
                             spec["seg_events"], spec["conv"], f"{d}/segments")
        out["warm_segments"] = segs[:spec["warm_segments"]]
        out["segments"] = segs[spec["warm_segments"]:]
        out["keys"] = lookup_keys(con, seed, f"{d}/boot.parquet", spec["lookups"])
    elif name == "drift_heal":
        out["boot_rows"] = transcripts(con, seed, spec["conv"], f"{d}/boot.parquet")
        out.update(drifted_wal(con, seed, f"{d}/boot.parquet", spec["events"],
                               spec["tag"], d))
    else:
        raise ValueError(f"unknown workload {name!r}")
    con.close()
    return out


if __name__ == "__main__":
    import json
    import sys

    print(json.dumps(main(json.loads(sys.argv[1]))))
