"""One benchmark run: set-up (Spark, inputs, warm-up), the timed phase,
the final read, the correctness gate, and in a traced run the ladder and
the per-layer metrics."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from sparkcdc.engine import default_engine
from sparkcdc.session import get_spark

from . import host
from .layers import TARGETS, derive, read_event_log, run_ladder
from .oracle import compare_states
from .trace import Tracer
from .workloads import CYCLE, TAIL, WORKLOADS

#: end-to-end metric -> unit, reported by untraced runs
END_TO_END = {
    "events_per_s": "1/s", "batch_p50_s": "s", "batch_p90_s": "s",
    "snapshot_rows_per_s": "1/s", "read_s": "s",
    "disk_bytes_per_live_row": "bytes", "peak_rss_mb": "MB", "setup_s": "s",
}
#: least compaction cycles in a timed phase. From the second cycle on,
#: each cycle's expiry deletes the fsynced manifests and the commit
#: directories of the cycle before; on a shared virtual disk with online
#: discard that costs 0.5-5 s per cycle at random (about half the cycles
#: measured on a 4-core host took over 2 s). events_per_s is the rate of
#: the fastest cycle after the first, so the timed phase needs several.
CYCLES = 4
#: a traced run times two phases (untraced, traced) of two cycles each,
#: which keeps it within the run-time budget
TRACE_CYCLES = 2
#: warm-up replays this many batches before one explicit compaction
WARM_BATCHES = 2
#: the snapshot and the final read are each run this many times untimed
#: first: the first runs of a plan shape in a timed phase are still on the
#: JIT curve even after the warm-up
SNAPSHOT_WARM = 1
SNAPSHOT_REPS = 3
READ_WARM = 2
READ_REPS = 5


def start_spark(work: str, n: int, heap_mb: int, trace: bool):
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a fixed-size heap: no resizing during the timed phase; without
        # pre-touch, pages still count in RSS only once used
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("cdcbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and end the JVM it launched, waiting for it: the
    JVM exits when its stdin closes (pyspark's gateway contract)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def settle(spark) -> None:
    """Let Spark's ContextCleaner delete the shuffle files of finished work
    before a timed part starts, not inside it. On a disk with online
    discard, deleting a file that is already on disk (the kernel writes a
    file back 30 s after it was written) costs tens of milliseconds, so a
    cleaner sweep of old shuffle files inside a timed part stalls it for
    seconds at a random point. Frees the Python-side handles, asks the JVM
    to collect, and waits until the shuffle files stop disappearing."""
    local = os.environ["SPARK_LOCAL_DIRS"]
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)
    prev = count_files(local)
    for _ in range(100):
        time.sleep(0.3)
        n = count_files(local)
        if n == prev:
            break
        prev = n


def replay_stamps(rows: list[dict]) -> list[float]:
    """Commit times (s) of the replay batches in a metrics log."""
    return [r["ts_ms"] / 1000 for r in rows if r.get("kind") == "replay"]


def batch_intervals(stamps: list[float], t0: float) -> list[tuple[float, float]]:
    """(start, end) between successive commits; the first starts at ``t0``,
    the ``replay()`` call."""
    return list(zip([t0] + stamps[:-1], stamps))


def read_sha(table):
    return table.read().select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("sha"))


def timed_phase(spark, w, root: str, seconds: float, min_cycles: int,
                tracer: Tracer | None = None) -> dict:
    # the snapshot is timed on fresh tables SNAPSHOT_REPS times (median),
    # after SNAPSHOT_WARM untimed ones; the replay continues on the last
    warm, reps = (SNAPSHOT_WARM, SNAPSHOT_REPS) if tracer is None else (0, 1)
    snapshot_times = []
    settle(spark)
    for i in range(warm + reps):
        if i:
            shutil.rmtree(f"{root}-{i - 1}")
        eng = default_engine(spark, f"{root}-{i}", config=w.config())
        src = w.snapshot_source()
        t0 = time.time()
        eng.run_snapshot(src)
        if i >= warm:
            snapshot_times.append(time.time() - t0)
    settle(spark)
    envelopes_for = (tracer.wrap_source(w.envelopes_for) if tracer
                     else w.envelopes_for)
    replay_s, hi, cycles = 0.0, 0, 0
    windows, intervals, cycle_rates = [], [], []
    while True:
        last = cycles >= min_cycles and replay_s >= seconds
        hi += (TAIL if last else CYCLE) * w.batch
        w.ensure_landed(hi)
        if tracer is not None and cycles == 1:
            # a mid-cycle batch: no compaction, no schema change
            tracer.sample_batch = eng.committed_batch() + 3
        done = len(replay_stamps(eng.metrics.read()))
        t = time.time()
        eng.replay(hi, envelopes_for=envelopes_for,
                   schema_changes=w.schema_changes)
        t_end = time.time()
        replay_s += t_end - t
        windows.append((t, t_end))
        if not last:
            cycle_rates.append(CYCLE * w.batch / (t_end - t))
        intervals += batch_intervals(
            replay_stamps(eng.metrics.read())[done:], t)
        if last:
            break
        if eng.table.delta_counts():
            raise RuntimeError(f"{w.name}: a cycle of {CYCLE} batches ended "
                               "without compacting every bucket")
        cycles += 1
    strategies = {r.get("strategy") for r in eng.metrics.read()
                  if r.get("kind") == "replay"}
    if strategies != {w.strategy}:
        raise RuntimeError(f"{w.name}: auto picked {strategies}")
    return {"engine": eng, "snapshots": len(snapshot_times),
            "snapshot_s": statistics.median(snapshot_times),
            "snapshot_times": snapshot_times, "replay_s": replay_s,
            "events": hi, "cycles": cycles,
            # each cycle is one replay() call of CYCLE batches with its
            # compaction and expiry; the first has nothing to expire yet
            "events_per_s": max(cycle_rates[1:] or cycle_rates),
            "cycle_rates": cycle_rates,
            "windows": windows, "intervals": intervals}


def warm_up(spark, w, root: str) -> None:
    """Every plan shape of the timed phase at its batch size: snapshot,
    the chosen reduce (and the schema changes, where the workload has
    them), one compaction, a multi-epoch merge-on-read read."""
    eng = default_engine(spark, root, config=w.config())
    eng.run_snapshot(w.snapshot_source())
    w.ensure_landed(WARM_BATCHES * w.batch)
    eng.replay(WARM_BATCHES * w.batch, envelopes_for=w.envelopes_for,
               schema_changes=w.schema_changes)
    read_sha(eng.table).write.format("noop").mode("overwrite").save()
    eng.table.compact()
    shutil.rmtree(root)


def read_seconds(spark, table) -> list[float]:
    settle(spark)
    times = []
    for i in range(READ_WARM + READ_REPS):
        t = time.time()
        read_sha(table).write.format("noop").mode("overwrite").save()
        if i >= READ_WARM:
            times.append(time.time() - t)
    return times


def check(w, phase: dict) -> dict:
    eng, hi = phase["engine"], phase["events"]
    actual = read_sha(eng.table).toArrow()
    rows = list(zip(*(actual.column(c).to_pylist()
                      for c in ("repo", "path", "sha"))))
    expected = w.oracle(hi)
    if not isinstance(expected, dict):
        o = expected.toArrow()
        expected = {(r, p): s for r, p, s in zip(
            *(o.column(c).to_pylist() for c in ("repo", "path", "sha")))}
    report = compare_states(rows, expected)
    report["committed_offset"] = eng.committed_offset()
    report["offset_ok"] = report["committed_offset"] == hi
    report["ok"] = report["ok"] and report["offset_ok"]
    return report


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    n = os.cpu_count() or 1
    mem = host.meminfo_kb()["MemTotal"]
    heap = host.heap_mb(mem)
    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace,
               "host": {"nproc": n, "mem_total_kb": mem,
                        "master": f"local[{n}]", "heap_mb": heap}}
    with host.PeakMemorySampler() as mem:
        context["calibration_before"] = host.calibrate(n)
        spark = start_spark(work, n, heap, bool(args.trace))
        t_spark = time.time()
        w = WORKLOADS[args.workload](spark, work, args.seed)
        w.prepare()
        w.ensure_landed(CYCLE * w.batch)
        t_landed = time.time()
        warm_up(spark, w, os.path.join(work, "lake-warm"))
        setup_s = time.time() - t_start
        context["setup_parts_s"] = {
            "spark_start": t_spark - t_start, "landing": t_landed - t_spark,
            "warm_up": time.time() - t_landed}
        ticks = host.cpu_ticks()
        tracer = None
        if args.trace:
            untraced = timed_phase(spark, w, os.path.join(work, "lake-u"),
                                   args.seconds, TRACE_CYCLES)
            tracer = Tracer(spark.sparkContext)
            tracer.install()
            try:
                phase = timed_phase(spark, w, os.path.join(work, "lake-t"),
                                    args.seconds, TRACE_CYCLES, tracer)
            finally:
                tracer.uninstall()
        else:
            phase = timed_phase(spark, w, os.path.join(work, "lake"),
                                args.seconds, CYCLES)
        context["cpu_during_timed"] = host.steal_iowait_s(
            ticks, host.cpu_ticks())
        context["calibration_after"] = host.calibrate(n)
        eng = phase["engine"]
        t_post = time.time()
        # read_s is an end-to-end metric: a traced run does not time it
        read_times = [] if args.trace else read_seconds(spark, eng.table)
        t_read = time.time()
        report = check(w, phase)
        t_check = time.time()
        live = report["expected_rows"]
        disk = dir_bytes(eng.table.dir)
        if tracer is not None:
            run_ladder(spark, tracer.captured, w.strategy,
                       os.path.join(work, "ladder"))
        t_ladder = time.time()
        stop_spark(spark)
        context["post_parts_s"] = {
            "reads": t_read - t_post, "check": t_check - t_read,
            "ladder": t_ladder - t_check, "stop": time.time() - t_ladder}
    ivs = sorted(b - a for a, b in phase["intervals"])
    context.update({
        "batches": len(ivs), "cycles": phase["cycles"],
        "events": phase["events"], "batch_events": w.batch,
        "n_keys": w.n_keys, "correctness": report,
        "snapshot_s": phase["snapshot_s"], "replay_s": phase["replay_s"],
        "cycle_events_per_s": [round(r) for r in phase["cycle_rates"]],
        "snapshot_times_s": [round(t, 3) for t in phase["snapshot_times"]],
        "read_times_s": [round(t, 3) for t in read_times],
        "batch_intervals_s": [round(b - a, 3) for a, b in phase["intervals"]],
    })
    attempted = len(ivs) + phase["snapshots"] + len(read_times)
    result = {"correct": report["ok"], "attempted": attempted,
              "failed": 0 if report["ok"] else attempted}
    if not args.trace:
        values = {
            "events_per_s": phase["events_per_s"],
            "batch_p50_s": statistics.median(ivs),
            "batch_p90_s": statistics.quantiles(ivs, n=10)[8],
            "snapshot_rows_per_s": w.n_keys / phase["snapshot_s"],
            "read_s": statistics.median(read_times),
            "disk_bytes_per_live_row": disk / live,
            "peak_rss_mb": mem.peak_mb,
            "setup_s": setup_s,
        }
        result["metrics"] = {k: (values[k], u) for k, u in END_TO_END.items()}
    else:
        t_parse = time.time()
        log = read_event_log(os.path.join(work, "eventlog"))
        context["post_parts_s"]["parse"] = time.time() - t_parse
        context["event_log_bytes"] = dir_bytes(os.path.join(work, "eventlog"))
        values, recon = derive(
            log, tracer.spans,
            phase, workload=w.name, sample_batch=tracer.sample_batch,
            sample_events=w.batch, final_table=eng.table,
            eps_untraced=untraced["events_per_s"])
        context["reconciliation"] = recon
        if not (recon["ladder_ok"] and recon["spans_ok"]):
            print(f"reconciliation failed: {recon}", file=sys.stderr)
        context["untraced_events_per_s"] = untraced["events_per_s"]
        result["metrics"] = {k: (values[k], TARGETS[k][0]) for k in TARGETS}
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in result["metrics"].items()}
    return context, result
