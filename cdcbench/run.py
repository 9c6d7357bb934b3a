"""CDC replay benchmark: one workload per run, end-to-end metrics with
tracing off (``--trace 0``) or per-layer metrics from a traced run
(``--trace 1``). Run from the root of a checkout:

    python3 cdcbench/run.py --workload replay_seekable --seed 1 \
        --seconds 10 --trace 0

The last line of standard output is the result JSON; the line before it
is the run's context (host, calibration, correctness detail). Spark's
own logging goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="least replay time of the timed phase; whole "
                        "compaction cycles are added until it is reached")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkcdc", "engine.py")):
        print(f"no sparkcdc package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # set before the JVM and any Python worker start: workers import
    # sparkcdc (compaction runs in mapInArrow), and every temp file stays
    # inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    from cdcbench.bench import run

    try:
        context, result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(context, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
