"""Fixed per-task cost of a PySpark Python worker.

Runs an identity ``mapInArrow`` over 1, 4, 8 and 16 one-row partitions and
prints, per partition count, the job wall time and the Python worker CPU per
task. Worker CPU is read from ``/proc`` before and after each job: the
utime+stime of every ``pyspark`` process descended from this driver, plus
the CPU of the worker children they have reaped. A one-row task does no UDF
work, so what it costs is the per-task fixed cost of the Python boundary.

Modes, each in a fresh session (Python workers are reused across jobs, so a
mode must not inherit the previous mode's workers):
  jvm      the same job without the mapInArrow (no Python worker)
  plain    identity UDF that does not import ksoup_spark
  ksoup    identity UDF that imports ksoup_spark first (installs
           ``ksoup_spark._zipcache`` on the worker)

Usage: python jobs/worker_task_probe.py [--master local[4]] [--reps 5]
Prints one JSON line per (mode, partitions), then one line of host facts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODES = ("jvm", "plain", "ksoup")
PARTITIONS = (1, 4, 8, 16)
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_tree() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, cmdline, own + reaped-children CPU seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        # fields after the parenthesised comm: state ppid ... utime(14)
        # stime(15) cutime(16) cstime(17), 1-based over the whole line
        rest = stat[stat.rindex(")") + 2:].split()
        ppid = int(rest[1])
        cpu = sum(int(v) for v in rest[11:15]) / _TICK
        out[int(name)] = (ppid, cmd, cpu)
    return out


def worker_cpu_s() -> float:
    """CPU seconds of the pyspark processes (daemon and workers) under this
    driver, including workers that have exited and been reaped."""
    procs = _proc_tree()
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sum(cpu for pid, (_, cmd, cpu) in procs.items()
               if pid in mine and ("pyspark.daemon" in cmd
                                   or "pyspark.worker" in cmd))


def _identity(import_ksoup: bool):
    def fn(batches):
        if import_ksoup:
            import ksoup_spark  # noqa: F401
        yield from batches
    return fn


def measure(spark, mode: str, parts: int, reps: int) -> dict:
    df = spark.range(0, parts, 1, parts)
    if mode != "jvm":
        df = df.mapInArrow(_identity(mode == "ksoup"), df.schema)
    walls, cpus = [], []
    for _ in range(reps):
        c0 = worker_cpu_s()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        cpus.append(worker_cpu_s() - c0)
    return {
        "mode": mode,
        "partitions": parts,
        "wall_s": round(statistics.median(walls), 4),
        "wall_min_s": round(min(walls), 4),
        "worker_cpu_ms_per_task": round(
            statistics.median(cpus) / parts * 1000, 1),
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args(argv)
    # workers import ksoup_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from ksoup_spark.session import get_spark

    for mode in MODES:
        spark = get_spark(app=f"worker-task-probe-{mode}", master=args.master,
                          shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        measure(spark, mode, max(PARTITIONS), 1)  # start workers, warm the JIT
        for parts in PARTITIONS:
            print(json.dumps(measure(spark, mode, parts, args.reps)), flush=True)
        spark.stop()
    print(json.dumps({"python": sys.version.split()[0],
                      "nproc": os.cpu_count(), "master": args.master}))


if __name__ == "__main__":
    main()
