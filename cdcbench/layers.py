"""Per-layer metrics of a traced run.

Each metric is named ``<module>.<what>`` after the engine module whose
public functions the spans wrap (``spans.ENTRY_POINTS``); a layer a
workload bypasses reports 0 there.  Which end-to-end metric each layer
should move, on which workload, is tabled in ``cdcbench/README.md``.
"""

from __future__ import annotations

import statistics

import spans

NAMES = [
    "replay.epochs", "replay.epoch_rows_min", "replay.epoch_rows_max", "replay.self_s",
    "merge.map_stage_cpu_s", "merge.reduce_stage_cpu_s", "merge.shuffle_bytes_per_event",
    "merge.spill_bytes", "merge.reduce_task_skew",
    "icelet.apply_epoch_p50_s", "icelet.apply_epoch_max_s", "icelet.jobs_per_epoch",
    "icelet.commit_self_s", "icelet.files_per_epoch", "icelet.bytes_per_event",
    "icelet.committed_ranges_s", "icelet.read_s", "icelet.files_end", "icelet.compact_s",
    "icelet.compact_bytes",
    "sketch.add_s", "sketch.load_s",
    "changes.feed_files",
    "tail.batch_p50_s", "tail.segments_per_batch", "tail.trigger_overhead_s",
    "tail.lander_late_s", "tail.backlog_end_segments",
    "mapper.align_s", "mapper.align_jobs", "mapper.align_codegen_compiles",
    "mapper.align_cpu_s",
    "drift.health_s", "drift.health_jobs",
    "session.start_s",
    "trace.coverage", "trace.wall_s", "trace.unattributed_s",
]
BENCH_THREADS = {"MainThread", "lookups0", "lookups1", "feed"}
# the layer whose DataFrame a benchmark span's own Spark jobs run
MATERIALIZES = {"bench.lookup": "icelet", "bench.read_full": "icelet",
                "bench.feed_poll": "changes"}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def compute(ctx, out, tracer: spans.Tracer) -> tuple[dict, dict]:
    """Per-layer metrics and the reconciliation table of the measured
    phases in ``ctx.phases``: ``replay`` (the bulk or drifted replay) and,
    when present, ``tail``.  Replay and merge metrics come from the
    replay phase; the per-epoch commit metrics from the tail when there
    is one.  Returns ``(metrics, layer_table)``."""
    spark = ctx.spark
    replay_ph = ctx.phases["replay"]
    write_ph = ctx.phases.get("tail", replay_ph)
    first = min(p.start for p in ctx.phases.values())
    jobs = [j for j in spans.job_metrics(spark) if j.start >= first - 1.0]
    by_id = {s.span_id: s for s in tracer.spans}

    def root(s):
        while s.parent in by_id:
            s = by_id[s.parent]
        return s

    region = [s for s in tracer.spans if s.start >= first - 1e-3 and (
        root(s).name.startswith("bench.") or s.thread not in BENCH_THREADS)]
    attr = spans.attribute(region, jobs, spans.sql_executions(spark))
    in_replay = [a for a in attr.values() if root(a["span"]).name == "bench.replay"]
    in_write = in_replay if write_ph is replay_ph else [
        a for a in attr.values() if a["span"].thread not in BENCH_THREADS]

    def named(name, entries=attr.values()):
        return [a for a in entries if a["span"].name == name]

    def total(name):
        return sum(a["span"].dur for a in named(name))

    def stages(entries, own=True):
        return [st for a in entries for j in (a["jobs"] if own else a["tree_jobs"])
                for st in j.stages]

    def split(st):  # map (shuffle-writing) and write (output) stages
        return ([s for s in st if s["shuffle_write_bytes"] > 0],
                [s for s in st if s["shuffle_write_bytes"] == 0 and s["output_bytes"] > 0])

    m = dict.fromkeys(NAMES, 0.0)
    replays = named("replay.run_replay") + named("replay.run_drifted_replay")
    rows = [c["n_rows"] for c in replay_ph.commits]
    m["replay.epochs"] = len(replay_ph.commits)
    m["replay.epoch_rows_min"] = min(rows, default=0)
    m["replay.epoch_rows_max"] = max(rows, default=0)
    m["replay.self_s"] = sum(a["self_s"] for a in replays)

    st = stages(named("icelet.apply_epoch", in_replay))
    maps, reduces = split(st)
    ev = max(replay_ph.events, 1)
    m["merge.map_stage_cpu_s"] = sum(s["cpu_s"] for s in maps)
    m["merge.reduce_stage_cpu_s"] = sum(s["cpu_s"] for s in reduces)
    m["merge.shuffle_bytes_per_event"] = sum(s["shuffle_write_bytes"] for s in maps) / ev
    m["merge.spill_bytes"] = sum(s["spill_bytes"] for s in st)
    m["merge.reduce_task_skew"] = _med(
        s["task_max_s"] / s["task_p50_s"] for s in reduces if s["task_p50_s"] > 0)

    apply = named("icelet.apply_epoch", in_write)
    durs = [a["span"].dur for a in apply]
    m["icelet.apply_epoch_p50_s"] = _med(durs)
    m["icelet.apply_epoch_max_s"] = max(durs, default=0.0)
    m["icelet.jobs_per_epoch"] = _med(len(a["tree_jobs"]) for a in apply)
    m["icelet.commit_self_s"] = sum(a["self_s"] for a in apply)
    m["icelet.bytes_per_event"] = (sum(s["output_bytes"] for s in stages(apply))
                                   / max(write_ph.events, 1))
    m["icelet.committed_ranges_s"] = total("icelet.committed_ranges")
    m["icelet.read_s"] = total("icelet.read")
    m["icelet.compact_s"] = total("icelet.compact")
    m["icelet.compact_bytes"] = sum(
        s["output_bytes"] for s in stages(named("icelet.compact"), own=False))
    m["sketch.add_s"] = total("sketch.add_df")
    m["sketch.load_s"] = total("sketch.load")
    feed = out.report.get("tail", out.report.get("drift", {})).get("feed_files", [])
    m["changes.feed_files"] = _med(feed)
    align = named("mapper.align")
    m["mapper.align_s"] = total("mapper.align")
    m["mapper.align_jobs"] = sum(len(a["tree_jobs"]) for a in align)
    m["mapper.align_codegen_compiles"] = sum(a["span"].compiles for a in align)
    m["mapper.align_cpu_s"] = sum(s["cpu_s"] for s in stages(align, own=False))
    health = named("drift.mapping_health")
    m["drift.health_s"] = total("drift.mapping_health")
    m["drift.health_jobs"] = sum(len(a["tree_jobs"]) for a in health)
    m["session.start_s"] = ctx.session_start_s

    tail = out.report.get("tail", {})
    batches = tail.get("progress", [])
    if batches:
        ms = [b["ms"] for b in batches]
        m["tail.batch_p50_s"] = _med(d.get("triggerExecution", 0) / 1e3 for d in ms)
        m["tail.trigger_overhead_s"] = _med(
            (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3 for d in ms)
        m["tail.segments_per_batch"] = _med(tail["segments_per_batch"])
        m["tail.lander_late_s"] = tail["lander_late_max_s"]
        m["tail.backlog_end_segments"] = tail["backlog_end_segments"]

    # files added per append commit and the final layout (after the job
    # read-back: building these DataFrames may itself list files)
    t = write_ph.table
    lineage = t.snapshot_ids()
    added, prev = [], None
    for c in write_ph.commits:
        if prev is None:
            prev = set(t.read_raw(spark, snapshot_id=lineage[lineage.index(c["snapshot_id"]) - 1])
                       .inputFiles())
        cur = set(t.read_raw(spark, snapshot_id=c["snapshot_id"]).inputFiles())
        added.append(len(cur - prev))
        prev = cur
    m["icelet.files_per_epoch"] = _med(added)
    m["icelet.files_end"] = len(t.read_raw(spark).inputFiles())

    lt = _reconcile(attr, jobs, batches, ctx.phases.get("tail"),
                    [c for c in ctx.calls if c[1] >= first - 1e-3])
    m["trace.coverage"] = lt["coverage"]
    m["trace.wall_s"] = lt["wall_s"]
    m["trace.unattributed_s"] = lt["unattributed_s"]
    return m, lt


def _reconcile(attr: dict, jobs: list, batches: list, tail, calls: list) -> dict:
    """Self and Spark seconds per engine layer against a wall time
    measured apart from the spans: the benchmark's stopwatch around each
    measured call (``calls``: replay, full read, lookups, feed polls; one
    per thread at a time) plus the tail's trigger time as the stream
    reports it.  Spark time is what Spark itself measured: job intervals
    and the SQL executions that ran them.  Spark time a benchmark span
    spends itself (a lookup's collect) counts for the layer whose
    DataFrame it runs (``MATERIALIZES``); the benchmark spans' own
    leftover (Python, py4j, query analysis) is ``unattributed_s`` and
    stays out of ``coverage``."""
    wall = sum(c[2] for c in calls)
    wall += sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1e3
    layers: dict[str, dict] = {}
    unattributed = 0.0
    for a in attr.values():
        name = a["span"].name
        if name.startswith("bench."):
            unattributed += a["self_s"]
            if not a["spark_s"]:
                continue
            layer, self_s = MATERIALIZES.get(name, "bench"), 0.0
        else:
            layer, self_s = name.split(".")[0], a["self_s"]
        row = layers.setdefault(layer, {"self_s": 0.0, "spark_s": 0.0, "spans": 0})
        row["self_s"] += self_s
        row["spark_s"] += a["spark_s"]
        row["spans"] += 0 if name.startswith("bench.") else 1
    if batches:
        loose = [(j.start, j.end) for j in jobs
                 if j.group not in attr and tail.start <= j.start <= tail.end]
        # the stream's own driver time per trigger (planning, offset and
        # commit logs), as the stream reports it, is the tail layer's self time
        layers["tail"] = {
            "self_s": sum(b["ms"].get("triggerExecution", 0) - b["ms"].get("addBatch", 0)
                          for b in batches) / 1e3,
            "spans": 0, "spark_s": spans.union_len(loose)}
    covered = sum(r["self_s"] + r["spark_s"] for r in layers.values())
    return {"layers": layers, "covered_s": covered, "unattributed_s": unattributed,
            "wall_s": wall, "coverage": covered / wall if wall else 0.0}
