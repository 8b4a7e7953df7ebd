"""The benchmark's workloads.  Each one sets up, measures, then checks
the engine's output against the DuckDB oracle, and returns an
``Outcome``.

* ``replay_and_tail`` — a bulk replay of a hot-key WAL into an empty
  merge-on-read table, then, in the same JVM, a live tail of WAL
  segments into a bootstrapped table while readers issue key lookups
  and change-feed polls beside it;
* ``drift_heal`` — a drifted map-payload WAL in seed-named fields,
  replayed from the canonical shape's stored mapping with the key probe
  and echo audit on.

Engine entry points are always called through their module or class
attribute (``replay.run_replay``, ``table.apply_epoch``...), so the
traced run's wrappers (``spans.Tracer``) see every call.
"""

from __future__ import annotations

import datetime
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
import oracle
import spans

# Input sizes at scale 1.0 (the benchmark's own tests run at a small scale).
SIZES = {
    "replay_and_tail": {
        # bulk phase: WAL events (duplicates come on top), LSN-span epochs
        "events": 120_000, "epochs": 2, "buckets": 32,
        # tail phase: bootstrap conversations, segment size, offered rate,
        # table buckets (the engine's default), reader rates
        "conv": 500, "seg_events": 200, "rate": 17.0, "warm_segments": 4,
        "tail_buckets": 16, "lookups": 24, "lookup_rate": 1.0, "feed_rate": 0.5,
        "compact_every": 4,
    },
    "drift_heal": {"conv": 300, "events": 4_000, "epochs": 2, "echo_every": 2,
                   "buckets": 16},
}


@dataclass
class Phase:
    """One measured phase: when it began and ended, its table, the append
    commits it made and the WAL events they applied (the layer table's
    input)."""
    start: float
    end: float
    table: object
    commits: list
    events: int


@dataclass
class Ctx:
    spark: object
    cpus: int
    work: str
    inputs: dict
    size: dict
    tracer: object  # spans.Tracer, or spans.NullTracer when untraced
    session_start_s: float
    phases: dict = field(default_factory=dict)  # "replay"/"tail" -> Phase
    # (name, start, seconds) of every measured call, by the benchmark's
    # own stopwatch: the wall time the traced run's layer table must cover
    calls: list = field(default_factory=list)

    def timed(self, name: str) -> "_Timed":
        """Stopwatch around a ``bench.*`` span; ``.s`` holds the seconds."""
        return _Timed(self, name)


class _Timed:
    def __init__(self, ctx: Ctx, name: str):
        self.ctx, self.name, self.s = ctx, name, 0.0

    def __enter__(self) -> "_Timed":
        self.start, self.t = time.time(), time.perf_counter()
        self.span = self.ctx.tracer.span(self.name)
        self.span.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self.span.__exit__(*exc)
        self.s = time.perf_counter() - self.t
        self.ctx.calls.append((self.name, self.start, self.s))  # list.append is atomic


@dataclass
class Outcome:
    metrics: dict = field(default_factory=dict)  # end-to-end
    layers: dict = field(default_factory=dict)  # per-layer (traced run only)
    report: dict = field(default_factory=dict)  # everything else worth printing
    attempted: int = 0
    failed: int = 0
    correct: bool = False


class Ops:
    """Attempted/failed operation counts, shared by threads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def record(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 0 if ok else 1


# --- shared helpers ----------------------------------------------------------
def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def _weighted_pct(pairs: list[tuple[float, int]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0] if pairs else 0.0


def _commits(table, since: float, kind: str = "append") -> list[dict]:
    """Manifest rows of ``kind`` committed at or after ``since``, oldest
    first, each with ``t`` = commit wall time."""
    out = []
    for m in table.manifest():
        t = datetime.datetime.fromisoformat(m["committed_at"]).timestamp()
        if t >= since and m.get("kind", "append") == kind:
            out.append(dict(m, t=t))
    return sorted(out, key=lambda m: m["t"])


def _epoch_walls(commits: list[dict], start: float) -> list[float]:
    prev, out = start, []
    for m in commits:
        out.append(m["t"] - prev)
        prev = m["t"]
    return out


def _buckets(spark, keys, n_buckets: int) -> list[int]:
    from pyspark.sql import functions as F

    from filipo_spark.operators.merge import bucket_of

    df = spark.createDataFrame(keys, "conv_id string, turn_idx int")
    rows = df.select("conv_id", "turn_idx",
                     bucket_of(F.col("conv_id"), n_buckets).alias("b")).collect()
    by_key = {(r["conv_id"], r["turn_idx"]): int(r["b"]) for r in rows}
    return [by_key[tuple(k)] for k in keys]


def _lookup(ctx: Ctx, table, key, bucket: int):
    """One bucket-pruned key lookup through ``IceletTable.read``; returns
    ``(role, text, tool, ts_us)`` or ``None`` for an absent key."""
    from pyspark.sql import functions as F

    with ctx.timed("bench.lookup"):
        rows = (
            table.read(ctx.spark, buckets=[bucket])
            .where((F.col("conv_id") == key[0]) & (F.col("turn_idx") == key[1]))
            .select("role", "text", "tool", F.unix_micros("ts").alias("ts_us"), "_deleted")
            .collect()
        )
    live = [r for r in rows if not r["_deleted"]]
    return (live[0]["role"], live[0]["text"], live[0]["tool"], live[0]["ts_us"]) if live else None


def _feed_poll(ctx: Ctx, table, from_sid: str, to_sid: str) -> int:
    """Materialize the change feed between two snapshots; returns the
    number of delta files it read (counted only when traced)."""
    from filipo_spark.table import changes

    with ctx.timed("bench.feed_poll"):
        df = changes.changes_between(ctx.spark, table, from_sid, to_sid)
        _noop(df)
    return len(df.inputFiles()) if isinstance(ctx.tracer, spans.Tracer) else 0


def _read_full(ctx: Ctx, table) -> float:
    """One materialized ``read_logical`` of the whole table, seconds."""
    with ctx.timed("bench.read_full") as tm:
        _noop(table.read_logical(ctx.spark))
    return tm.s


def _export(ctx: Ctx, table, name: str) -> str:
    from pyspark.sql import functions as F

    path = os.path.join(ctx.work, f"actual-{name}")
    (table.read_logical(ctx.spark)
     .select("conv_id", "turn_idx", "role", "text", "tool",
             F.unix_micros("ts").alias("ts_us"))
     .write.mode("overwrite").parquet(path))
    return path


def _check(ctx: Ctx, out: Outcome, name: str, actual: str, boot: str | None,
           wal: list[str]) -> bool:
    """The DuckDB oracle against one exported table."""
    con = gen.connect(ctx.cpus)
    try:
        chk = oracle.check(con, boot, wal, actual).as_dict()
    finally:
        con.close()
    out.report.setdefault("checks", {})[name] = chk
    return chk["ok"]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM, MiB."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm("self") + hwm(spark.sparkContext._gateway.proc.pid)) / 1024.0


# --- replay_and_tail -----------------------------------------------------------
def _bulk_phase(ctx: Ctx, ops: Ops, out: Outcome) -> Phase:
    """A hot-key WAL replayed into an empty MoR table, epochs planned from
    the LSN span as the replay CLI plans them; then one full read.  Runs
    after the tail phase, whose set-up has already compiled the epoch
    plans (the same ``apply_epoch`` path)."""
    from filipo_spark import replay
    from filipo_spark.table.icelet import IceletTable

    spark, inp, size = ctx.spark, ctx.inputs, ctx.size
    inputs = os.path.join(ctx.work, "inputs")

    t = time.perf_counter()
    table = IceletTable.create(os.path.join(ctx.work, "bulk"), n_buckets=size["buckets"])
    out.report["setup_bulk_s"] = time.perf_counter() - t

    b = inp["wal"]
    bs, bounds = (b["hi"] - b["lo"]) // size["epochs"] + 1, (b["lo"], b["hi"], b["n"])
    log = spark.read.parquet(os.path.join(inputs, "wal.parquet"))
    start = time.time()
    with ctx.timed("bench.replay") as tm:
        replay.run_replay(spark, table, log, batch_size=bs, bounds=bounds)
    wall = tm.s
    commits = _commits(table, start)
    for _ in commits:
        ops.record(True)
    out.metrics["events_per_s"] = bounds[2] / wall
    out.metrics["read_full_s"] = _read_full(ctx, table)
    out.report["bulk"] = {"replay_s": wall, "events": bounds[2], "epochs": len(commits),
                          "epoch_rows": [m["n_rows"] for m in commits]}
    return Phase(start, time.time(), table, commits, bounds[2])


class _BatchListener:
    """Collects the tail's per-batch progress (durationMs) — traced run only."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({"batch": p.batchId, "rows": p.numInputRows,
                                "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()


def _schedule(stop: threading.Event, t0: float, rate: float, op) -> list[float]:
    """Open loop: call ``op`` at ``t0 + i / rate`` until ``stop``; each
    latency runs from the call's due time, so a stall also delays the
    calls queued behind it."""
    lat, i = [], 0
    while not stop.is_set():
        due = t0 + i / rate
        wait = due - time.time()
        if wait > 0 and stop.wait(wait):
            break
        op()
        lat.append(time.time() - due)
        i += 1
    return lat


def _tail_phase(ctx: Ctx, ops: Ops, out: Outcome) -> tuple[Phase, list[str]]:
    """A continuous tail into a bootstrapped table (key bloom on,
    compaction cadence set); its set-up is the run's warm-up.  The main
    thread lands pre-generated segments by atomic rename at a fixed rate;
    reader threads issue bucket-pruned key lookups and change-feed polls
    at fixed rates.
    Returns the phase and every WAL segment file the table consumed."""
    from filipo_spark.streaming import tail
    from filipo_spark.table.icelet import IceletTable
    from filipo_spark.table.sketch import DEFAULT_BITS

    spark, inp, size = ctx.spark, ctx.inputs, ctx.size
    boot_path = os.path.join(ctx.work, "inputs", "boot.parquet")

    def land(seg, src):
        path = os.path.join(src, os.path.basename(seg["file"]))
        os.rename(seg["file"], path)
        return path

    def covered(hi):
        return any(m["offset_hi"] is not None and m["offset_hi"] >= hi
                   for m in table.manifest())

    t = time.perf_counter()
    table = IceletTable.create(os.path.join(ctx.work, "tail"),
                               n_buckets=size["tail_buckets"], bloom_bits=DEFAULT_BITS)
    table.bootstrap(spark.read.parquet(boot_path))
    # warm-up through the live query itself: its first segments, then one
    # lookup and one feed poll, so the measured window starts on a query
    # that has already run a batch
    boot_sid = table.current_snapshot_id()
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    stats = tail.tail_changelog(
        spark, src, table, os.path.join(ctx.work, "ckpt"), available_now=False,
        compact_every=size["compact_every"], compact_min_files=size["compact_every"])
    wal = [land(seg, src) for seg in inp["warm_segments"]]
    deadline = time.time() + 120
    while not covered(inp["warm_segments"][-1]["hi"]) and time.time() < deadline:
        time.sleep(0.05)
    keys = [tuple(k) for k in inp["keys"]]
    buckets = _buckets(spark, keys, table.n_buckets)
    _lookup(ctx, table, keys[0], buckets[0])
    cursor = table.current_snapshot_id()
    _feed_poll(ctx, table, boot_sid, cursor)
    out.report["setup_tail_s"] = time.perf_counter() - t

    listener = None
    if isinstance(ctx.tracer, spans.Tracer):
        listener = _BatchListener()
        spark.streams.addListener(listener.listener)
    segs = inp["segments"]
    stop = threading.Event()
    t0 = time.time() + 0.2
    results: dict[str, list] = {"feed_files": []}

    def lookups(k):
        # two lookup threads, half a period apart, each cycling the keys
        n = iter(range(k, 1 << 62, 2))
        rate = size["lookup_rate"] / 2

        def op():
            i = next(n) % len(keys)
            try:
                _lookup(ctx, table, keys[i], buckets[i])
                ops.record(True)
            except Exception:  # noqa: BLE001 — a failed lookup is counted, not fatal
                ops.record(False)
        results[f"lookup{k}"] = _schedule(stop, t0 + k / size["lookup_rate"], rate, op)

    def feed():
        last = [cursor]

        def op():
            cur = table.current_snapshot_id()
            try:
                results["feed_files"].append(_feed_poll(ctx, table, last[0], cur))
                ops.record(True)
            except Exception:  # noqa: BLE001
                ops.record(False)
            last[0] = cur
        results["feed"] = _schedule(stop, t0, size["feed_rate"], op)

    readers = [threading.Thread(target=lookups, args=(k,), name=f"lookups{k}")
               for k in (0, 1)] + [threading.Thread(target=feed, name="feed")]
    for th in readers:
        th.start()
    late = []
    try:
        for i, seg in enumerate(segs):  # the lander: open loop
            due = t0 + i / size["rate"]
            if due > time.time():
                time.sleep(due - time.time())
            wal.append(land(seg, src))
            late.append(time.time() - due)
        landed_end = time.time()
        deadline = time.time() + 60
        while time.time() < deadline and not covered(segs[-1]["hi"]):
            time.sleep(0.05)
    finally:
        stop.set()
        for th in readers:
            th.join(timeout=120)
        idle_by = time.time() + 10
        while stats["query"].status["isTriggerActive"] and time.time() < idle_by:
            time.sleep(0.02)
        stats["query"].stop()
        if listener is not None:
            # progress reaches the listener asynchronously: wait for the last batch's
            last = (stats["query"].lastProgress or {}).get("batchId", -1)
            while time.time() < idle_by + 10 and not any(
                    b["batch"] >= last for b in listener.batches):
                time.sleep(0.05)
            spark.streams.removeListener(listener.listener)

    end = time.time()
    warm_hi = inp["warm_segments"][-1]["hi"]
    commits = [m for m in _commits(table, t0 - 1) if m["offset_hi"] > warm_hi]
    commit_of = []
    for seg in segs:
        c = next((m for m in commits if m["offset_lo"] < seg["hi"] <= m["offset_hi"]), None)
        ops.record(c is not None)
        commit_of.append(c)
    fresh = [c["t"] - (t0 + i / size["rate"]) for i, c in enumerate(commit_of) if c]
    results["lookup"] = results.pop("lookup0", []) + results.pop("lookup1", [])
    n_events = sum(s["n"] for s, c in zip(segs, commit_of) if c)
    out.metrics.update(
        freshness_p50_s=_pct(fresh, 0.5), freshness_p90_s=_pct(fresh, 0.9),
        lookup_p50_s=_pct(results.get("lookup", []), 0.5),
        lookup_p90_s=_pct(results.get("lookup", []), 0.9),
        feed_p50_s=_pct(results.get("feed", []), 0.5),
        steady_epoch_s=statistics.median(_epoch_walls(commits[1:], commits[0]["t"]))
        if len(commits) > 1 else 0.0,
    )
    out.report["tail"] = {
        "segments": len(segs), "offered_rate_seg_s": size["rate"], "phase_s": end - t0,
        "seg_events": size["seg_events"], "batches": len(commits),
        "lookups": len(results.get("lookup", [])), "feed_polls": len(results.get("feed", [])),
        "lander_late_max_s": max(late),
        "backlog_end_segments": sum(1 for c in commit_of if c is None or c["t"] > landed_end),
        "segments_per_batch": [sum(1 for c in commit_of if c is m) for m in commits],
        # median freshness of each quarter of the segments, in landing
        # order: it grows from quarter to quarter when the tail falls behind
        "freshness_quarters_s": [
            _pct(fresh[q * len(fresh) // 4:(q + 1) * len(fresh) // 4], 0.5) for q in range(4)],
        "feed_files": results["feed_files"],
        "compactions": len(_commits(table, t0 - 1, "compact")),
    }
    if listener is not None:
        out.report["tail"]["progress"] = [b for b in listener.batches if b["rows"]]
    return Phase(t0, end, table, commits, n_events), wal


def replay_and_tail(ctx: Ctx) -> Outcome:
    out, ops = Outcome(), Ops()
    inputs = os.path.join(ctx.work, "inputs")
    tail, tail_wal = _tail_phase(ctx, ops, out)
    ctx.phases["tail"] = tail
    bulk = ctx.phases["replay"] = _bulk_phase(ctx, ops, out)
    out.metrics["setup_s"] = (ctx.session_start_s + out.report["setup_bulk_s"]
                              + out.report["setup_tail_s"])
    out.metrics["peak_rss_mb"] = peak_rss_mb(ctx.spark)
    bulk_ok = _check(ctx, out, "bulk", _export(ctx, bulk.table, "bulk"), None,
                     [os.path.join(inputs, "wal.parquet")])
    tail_ok = _check(ctx, out, "tail", _export(ctx, tail.table, "tail"),
                     os.path.join(inputs, "boot.parquet"), tail_wal)
    out.correct = bulk_ok and tail_ok
    out.attempted, out.failed = ops.attempted, ops.failed
    return out


# --- drift_heal ----------------------------------------------------------------
def _replay_freshness(con, wal, commits, start) -> tuple[float, float]:
    """Event-weighted p50/p90 of the time from the replay call to the
    commit that made each event visible."""
    ranges = [(m["offset_lo"], m["offset_hi"]) for m in commits]
    counts = oracle.epoch_event_counts(con, wal, ranges)
    pairs = [(m["t"] - start, n) for m, n in zip(commits, counts)]
    return _weighted_pct(pairs, 0.5), _weighted_pct(pairs, 0.9)


def drift_heal(ctx: Ctx) -> Outcome:
    """A drifted WAL replayed onto a bootstrapped table (key bloom on, so
    the key probe runs every epoch; echo audit on a cadence) by a fresh
    replay job that resumes from the canonical shape's stored mapping.
    The wire shape has flipped to seed-named nested fields since, so the
    replay must realign on its first epoch, cold, and on no other."""
    from filipo_spark import replay
    from filipo_spark.align import Mapping
    from filipo_spark.table.icelet import IceletTable
    from filipo_spark.table.sketch import DEFAULT_BITS

    spark, inp, size, out, ops = ctx.spark, ctx.inputs, ctx.size, Outcome(), Ops()
    inputs = os.path.join(ctx.work, "inputs")
    boot_path = os.path.join(inputs, "boot.parquet")
    logical = os.path.join(inputs, "logical.parquet")
    # the operator resumes with the stored function store of the canonical shape
    canonical = Mapping.from_json(gen.canonical_mapping_json())

    t = time.perf_counter()
    table = IceletTable.create(os.path.join(ctx.work, "drift"), n_buckets=size["buckets"],
                               bloom_bits=DEFAULT_BITS)
    table.bootstrap(spark.read.parquet(boot_path))
    out.metrics["setup_s"] = ctx.session_start_s + time.perf_counter() - t

    b = inp["wal"]
    start = time.time()
    with ctx.timed("bench.replay") as tm:
        rep = replay.run_drifted_replay(
            spark, table, spark.read.parquet(os.path.join(inputs, "drifted.parquet")),
            batch_size=b["n"] // size["epochs"], bounds=(b["lo"], b["hi"], b["n"]),
            mapping=canonical, echo_check_every=size["echo_every"])
    wall = tm.s
    commits = _commits(table, start)
    for _ in commits:
        ops.record(True)
    ctx.phases["replay"] = Phase(start, time.time(), table, commits, b["n"])

    # the healing checks: exactly one realign, on the first epoch, ending
    # on the drifted shape's ground-truth mapping
    want_epochs = [0]
    got_epochs = [r["epoch"] for r in rep.realigns]
    truth = gen.nested_fields(inp["tag"])
    got_map = rep.mapping.as_dict() if rep.mapping is not None else {}
    failed_checks = []
    if got_epochs != want_epochs:
        failed_checks.append(f"realign epochs {got_epochs} != {want_epochs}")
    if got_map != truth:
        failed_checks.append(f"final mapping {got_map} != {truth}")
    ops.record(not failed_checks)

    out.metrics["read_full_s"] = _read_full(ctx, table)
    out.metrics["peak_rss_mb"] = peak_rss_mb(spark)
    ok = _check(ctx, out, "drift", _export(ctx, table, "drift"), boot_path, [logical])
    out.correct = ok and not failed_checks
    walls = _epoch_walls(commits, start)
    heal = [w for i, w in enumerate(walls) if i in got_epochs]
    steady = [w for i, w in enumerate(walls) if i not in got_epochs]
    con = gen.connect(ctx.cpus)
    try:
        f50, f90 = _replay_freshness(con, [logical], commits, start)
    finally:
        con.close()
    out.metrics.update(
        events_per_s=b["n"] / wall,
        freshness_p50_s=f50, freshness_p90_s=f90,
        steady_epoch_s=statistics.median(steady) if steady else 0.0,
    )
    out.metrics["heal_epoch_s"] = statistics.median(heal) if heal else 0.0
    out.report["drift"] = {
        "replay_s": wall, "epochs": len(commits), "epoch_walls": walls,
        "realign_epochs": got_epochs, "failed_checks": failed_checks,
    }
    out.attempted, out.failed = ops.attempted, ops.failed
    return out


WORKLOADS = {"replay_and_tail": replay_and_tail, "drift_heal": drift_heal}
