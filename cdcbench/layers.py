"""Per-layer metrics of a traced run: the layer ladder for one sampled
batch, and the figures derived from spans and the Spark event log.

Each metric names the end-to-end metric and workload it should move, so
a later change can cite them (see ``TARGETS``)."""

from __future__ import annotations

import os
import statistics

from pyspark.sql import SparkSession

from sparkcdc.lake import LakeTable

from .eventlog import EventLog, busy_ms, non_codegen_operators, plan_nodes
from .trace import JobGroup, Span, batch_accounting

SEEK, WIRE = "replay_seekable", "wire_pgoutput_trickle"

#: per-layer metric -> (unit, end-to-end metric it should move, workloads)
TARGETS = {
    "engine.self_s": ("s", "batch_p50_s", [WIRE]),
    "engine.spark_jobs_per_batch": ("count", "batch_p50_s", [WIRE]),
    "envelope.gen_s_per_mevent": ("s/Mevent", "events_per_s", [SEEK]),
    "sources.plan_s": ("s", "batch_p50_s", [WIRE]),
    "sources.decode_s_per_mevent": ("s/Mevent", "events_per_s", [WIRE]),
    "sources.python_run_share": ("ratio", "events_per_s", [WIRE]),
    "sources.python_boot_s_per_batch": ("s", "batch_p50_s", [WIRE]),
    "sources.python_bytes_per_event": ("bytes/event", "events_per_s", [WIRE]),
    "apply.flatten_s_per_mevent": ("s/Mevent", "events_per_s", [WIRE]),
    "apply.reduce_s_per_mevent": ("s/Mevent", "events_per_s", [SEEK]),
    "apply.shuffle_records_per_event": ("count/event", "events_per_s", [SEEK]),
    "apply.sort_aggregates": ("count", "events_per_s", [WIRE]),
    "apply.non_codegen_operators": ("count", "events_per_s", [SEEK]),
    "lake.merge_s": ("s", "events_per_s", [SEEK, WIRE]),
    "lake.write_s_per_mevent": ("s/Mevent", "events_per_s", [SEEK]),
    "lake.commit_s": ("s", "batch_p50_s", [WIRE]),
    "lake.compact_s": ("s", "batch_p90_s", [SEEK, WIRE]),
    "lake.compactions": ("count", "batch_p90_s", [WIRE]),
    "lake.compact_bytes_rewritten": ("bytes", "events_per_s", [SEEK]),
    "lake.expire_s": ("s", "batch_p50_s", [WIRE]),
    "lake.shuffle_write_bytes_per_event": ("bytes/event", "events_per_s", [SEEK]),
    "lake.output_bytes_per_event": ("bytes/event", "disk_bytes_per_live_row", [SEEK]),
    "lake.spill_bytes": ("bytes", "peak_rss_mb", [SEEK]),
    "lake.write_task_skew": ("ratio", "events_per_s", [SEEK]),
    "lake.read_delta_buckets": ("count", "read_s", [SEEK, WIRE]),
    "lake.read_files": ("count", "read_s", [SEEK, WIRE]),
    "jvm.gc_s_per_mevent": ("s/Mevent", "events_per_s", [SEEK]),
    "trace.overhead": ("ratio", "events_per_s", [SEEK, WIRE]),
}

#: rungs of the ladder, cumulative: each re-runs the sampled batch's plan
#: cut after that layer (the first three into a noop sink)
RUNGS = ["source", "flatten", "reduce", "merge"]
#: the ladder must reproduce a batch's merge job time within this share
RECONCILE_TOL = 0.15

PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def run_ladder(spark: SparkSession, captured: dict, strategy: str,
               root: str, reps: int = 5) -> None:
    """Re-run the sampled batch cut at each rung, ``reps`` timed times, each
    rung under its own job group (``ladder.<rung>:<rep>``); the times are read
    from the event log afterwards. The merge rung commits the batch's
    change set into a scratch table of the same shape."""
    sc = spark.sparkContext
    env, flat, changes = captured["env"], captured["flat"], captured["changes"]
    live = captured["table"].manifest()
    scratch = LakeTable.create(
        spark, root, "ladder", fields=[(f.name, f.type) for f in live.fields],
        key_cols=live.key_cols, n_buckets=live.n_buckets)
    # one seed commit, so the rung writes delta files like the replay does
    seed = tuple("ladder-seed" if f.name in live.key_cols else None
                 for f in changes.schema.fields[:-1]) + ("u",)
    scratch.merge(spark.createDataFrame([seed], changes.schema), batch_id=0)
    cached = strategy == "narrow_cached"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", captured["aqe"])
    try:
        # rep -1 is an untimed pass: the first execution of each cut plan
        # pays its planning and code generation
        for rep in range(-1, reps):
            for rung, df in zip(RUNGS, (env, flat, changes, None)):
                if cached and rung in ("reduce", "merge"):
                    flat.persist()
                group = f"ladder.{rung}:{rep}" if rep >= 0 else "ladder-warm"
                with JobGroup(sc, group):
                    if df is None:
                        scratch.merge(changes, batch_id=rep + 2, mode="mor")
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if cached and rung in ("reduce", "merge"):
                    flat.unpersist(blocking=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def derive(log: EventLog, spans: list[Span], phase: dict, *,
           workload: str, sample_batch: int, sample_events: int,
           final_table: LakeTable, eps_untraced: float) -> tuple[dict, dict]:
    """Per-layer metrics and the reconciliation report of a traced phase.

    ``phase`` holds the traced replay's ``windows`` (start, end of each
    ``replay()`` call), batch ``intervals``, ``events`` and
    ``events_per_s``."""
    windows = phase["windows"]

    def in_windows(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs = [j for j in log.jobs.values() if in_windows(j.start_ms / 1000)]
    merge_jobs = [j for j in jobs if (j.group or "").startswith("lake.merge:")]
    compact_jobs = [j for j in jobs
                    if (j.group or "").startswith("lake.compact:")]
    stages = log.stages_of(jobs)
    merge_stages = log.stages_of(merge_jobs)
    spans = [s for s in spans if in_windows(s.start)]
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    n_batches = len(phase["intervals"])
    events = phase["events"]

    # the ladder: cumulative rung times (median over reps), then marginals
    rung_reps = {rung: [busy_ms(log.jobs_in(g)) / 1000
                        for g in log.groups(f"ladder.{rung}:")]
                 for rung in RUNGS}
    rung_s = {rung: _median(reps) for rung, reps in rung_reps.items()}
    sample_jobs = log.jobs_in(f"lake.merge:{sample_batch}")
    sample_merge_s = busy_ms(sample_jobs) / 1000
    # the batches are alike, so the median over all of them is the
    # sampled batch's merge time without its single-sample noise
    batch_merge_s = _median([busy_ms(log.jobs_in(g)) / 1000 for g in {
        j.group for j in merge_jobs}])
    per_mev = 1e6 / sample_events
    marg = {
        "source": rung_s["source"],
        "flatten": rung_s["flatten"] - rung_s["source"],
        "reduce": rung_s["reduce"] - rung_s["flatten"],
        "write": rung_s["merge"] - rung_s["reduce"],
    }
    ladder_sum = sum(marg.values())
    ladder_err = (abs(ladder_sum - batch_merge_s) / batch_merge_s
                  if batch_merge_s else float("inf"))

    acct = batch_accounting(phase["intervals"], spans)
    py_stages = [s for s in merge_stages if PY_RUN in s.sql]
    py_run_ms = log.sql_total(py_stages, PY_RUN)
    py_stage_ms = log.total(py_stages, "run_ms")

    sample_plan = {}
    for j in sample_jobs:
        if j.execution is not None and j.execution in log.plans:
            sample_plan = log.plans[j.execution]
    nodes = plan_nodes(sample_plan) if sample_plan else []

    skews = []
    for j in merge_jobs:
        for s in log.stages_of([j]):
            if s.totals.get("output_bytes", 0) > 0 and s.task_ms:
                med = statistics.median(s.task_ms)
                skews.append(max(s.task_ms) / med if med else 1.0)

    commit = []
    for s in by_name.get("lake.merge", []):
        own = log.jobs_in(f"lake.merge:{s.tag}")
        commit.append(s.dur - busy_ms(own) / 1000)

    compactions = len(by_name.get("lake.compact", []))
    m = final_table.manifest()
    values = {
        "engine.self_s": _median([b["self"] for b in acct["batches"]]),
        "engine.spark_jobs_per_batch": len(jobs) / n_batches,
        "envelope.gen_s_per_mevent": marg["source"] * per_mev,
        "sources.plan_s": _median([s.dur for s in by_name.get(
            "sources.plan", [])]),
        "sources.decode_s_per_mevent": (
            marg["source"] * per_mev if workload == WIRE else 0.0),
        "sources.python_run_share": (
            py_run_ms / py_stage_ms if py_stage_ms else 0.0),
        "sources.python_boot_s_per_batch": sum(
            log.sql_total(py_stages, n) for n in PY_BOOT) / 1000 / n_batches,
        "sources.python_bytes_per_event": sum(
            log.sql_total(py_stages, n) for n in PY_BYTES) / events,
        "apply.flatten_s_per_mevent": marg["flatten"] * per_mev,
        "apply.reduce_s_per_mevent": marg["reduce"] * per_mev,
        "apply.shuffle_records_per_event": (
            log.total(merge_stages, "shuffle_records")
            - log.total(merge_stages, "output_records")) / events,
        "apply.sort_aggregates": sum(n == "SortAggregate" for n in nodes),
        "apply.non_codegen_operators": (
            len(non_codegen_operators(sample_plan)) if sample_plan else 0),
        "lake.merge_s": _median([s.dur for s in by_name.get("lake.merge", [])]),
        "lake.write_s_per_mevent": marg["write"] * per_mev,
        "lake.commit_s": _median(commit),
        "lake.compact_s": _median([s.dur for s in by_name.get(
            "lake.compact", [])]),
        "lake.compactions": compactions,
        "lake.compact_bytes_rewritten": (
            log.total(log.stages_of(compact_jobs), "output_bytes")
            / compactions if compactions else 0.0),
        "lake.expire_s": _median([s.dur for s in by_name.get(
            "lake.expire", [])]),
        "lake.shuffle_write_bytes_per_event":
            log.total(merge_stages, "shuffle_bytes") / events,
        "lake.output_bytes_per_event":
            log.total(merge_stages, "output_bytes") / events,
        "lake.spill_bytes": log.total(stages, "mem_spill")
            + log.total(stages, "disk_spill"),
        "lake.write_task_skew": _median(skews),
        "lake.read_delta_buckets": len(final_table.delta_counts(m)),
        "lake.read_files": len(m.files),
        "jvm.gc_s_per_mevent": log.total(stages, "gc_ms") / 1000 / events * 1e6,
        "trace.overhead": phase["events_per_s"] / eps_untraced,
    }
    report = {
        "ladder_rungs_s": rung_reps,
        "ladder_sum_s": ladder_sum,
        "sample_batch": sample_batch,
        "sample_merge_job_s": sample_merge_s,
        "median_merge_job_s": batch_merge_s,
        "ladder_error": ladder_err,
        "ladder_ok": ladder_err <= RECONCILE_TOL,
        "span_problems": acct["problems"][:5],
        "spans_ok": not acct["problems"],
        "batches": n_batches,
    }
    return values, report


def read_event_log(directory: str) -> EventLog:
    files = sorted(os.listdir(directory))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {files}")
    with open(os.path.join(directory, files[0])) as fh:
        return EventLog.parse(fh)
