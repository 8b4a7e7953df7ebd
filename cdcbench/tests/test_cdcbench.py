"""The benchmark's own tests: a small-input run of each workload, traced
and untraced, and the output check failing on a corrupted table.

Run from the checkout root: ``python3 -m pytest cdcbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_the_workloads():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.SIZES)
    assert {m["name"] for m in spec["per_layer"]} == set(__import__("layers").NAMES)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", list(workloads.SIZES))
@pytest.mark.parametrize("trace", [0, 1])
def test_small_run(workload, trace):
    """A tiny-input run passes its output check with no failed operation
    and prints every metric BENCHMARK.json names for its mode."""
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.05"],
        capture_output=True, text=True, timeout=900, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    spec = _spec()
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["trace.coverage"]["value"] == pytest.approx(1.0, abs=0.1)


def test_check_fails_on_corrupted_table(tmp_path):
    """The oracle passes on the engine's table, and fails once one live
    row's text is altered in a data file."""
    inputs = tmp_path / "inputs"
    inputs.mkdir()
    con = gen.connect(2)
    boot = str(inputs / "boot.parquet")
    gen.transcripts(con, 11, 20, boot)
    segs = gen.tail_segments(con, 11, 2, 100, 20, str(inputs / "segs"))
    wal = [s["file"] for s in segs]

    work = str(tmp_path / "work")
    run.prepare_env(work)
    spark = run.start_spark(2, work)
    try:
        from filipo_spark import replay
        from filipo_spark.table.icelet import IceletTable

        table = IceletTable.create(str(tmp_path / "tbl"), n_buckets=4)
        table.bootstrap(spark.read.parquet(boot))
        boot_sid = table.current_snapshot_id()
        lo, hi = segs[0]["lo"], segs[-1]["hi"]
        n = sum(s["n"] for s in segs)
        replay.run_replay(spark, table, spark.read.parquet(*wal), batch_size=hi - lo + 1,
                          bounds=(lo, hi, n))
        ctx = workloads.Ctx(spark, 2, work, {}, {}, None, 0.0)
        assert workloads._check(ctx, workloads.Outcome(), "good",
                                workloads._export(ctx, table, "good"), boot, wal)

        # a bootstrap row no WAL event touches is live in the base files
        conv_id, turn_idx = con.sql(f"""
            SELECT conv_id, turn_idx FROM read_parquet('{boot}') EXCEPT
            SELECT conv_id, turn_idx FROM read_parquet({wal!r}) ORDER BY 1, 2 LIMIT 1
        """).fetchone()
        hit = 0
        for uri in table.read_raw(spark, snapshot_id=boot_sid).inputFiles():
            path = uri.removeprefix("file:")
            t = pq.read_table(path)
            row = pc.and_(pc.equal(t["conv_id"], conv_id), pc.equal(t["turn_idx"], turn_idx))
            if pc.any(row).as_py():
                i = t.schema.get_field_index("text")
                t = t.set_column(i, t.schema.field(i),
                                 pc.if_else(row, pa.scalar("corrupted"), t["text"]))
                pq.write_table(t, path, use_deprecated_int96_timestamps=True)
                # drop the writer's checksum sidecar, which no longer matches
                crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                hit += 1
        assert hit == 1
        out = workloads.Outcome()
        assert not workloads._check(ctx, out, "bad", workloads._export(ctx, table, "bad"),
                                    boot, wal)
        chk = out.report["checks"]["bad"]
        assert chk["expected_rows"] == chk["actual_rows"]
        assert chk["only_expected"] == chk["only_actual"] == 1
    finally:
        run.stop_spark(spark)
        con.close()
