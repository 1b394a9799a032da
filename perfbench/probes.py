"""Measurement helpers shared by the workloads: percentiles, host weather,
process-tree memory, CPU clocks and Spark's status store."""

from __future__ import annotations

import hashlib
import os
import resource
import threading
import time


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n*q/100)
    return float(xs[int(rank) - 1])


def host_weather() -> dict:
    """Fixed-work CPU probe (a sha256 chain) and the 1-minute loadavg: a
    contended host reads the probe high.  Recorded, never enforced."""
    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(20000):
        h = (hashlib.sha256(h).digest() * 128)[:4096]
    return {
        "cpu_probe_ms": (time.perf_counter() - t0) * 1000.0,
        "loadavg": os.getloadavg()[0],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.  On a
    virtual machine, steal is time its CPUs waited for the host: a slow
    run with high steal had a busy host, not slow code."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def process_tree() -> list[int]:
    """This process and all its descendants."""
    seen, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once in total, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """utime + stime of one process, from /proc (0 when it has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def driver_cpu_seconds() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


class RssSampler:
    """Peak resident memory (PSS) of this process and all its descendants
    (the Spark JVM and its Python workers), sampled every INTERVAL_S."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in process_tree())
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class SparkJobs:
    """Executor-side totals from Spark's status store for the jobs that
    started inside a wall-clock window (optionally one job group)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def jobs(self, t_start: float, t_end: float, group: str | None = None):
        """(job_id, group, start_s, end_s, stage_ids) for jobs submitted in
        [t_start, t_end] (epoch seconds)."""
        out = []
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime() / 1000.0
            if not (t_start <= start <= t_end):
                continue
            grp = j.jobGroup()
            grp = None if grp.isEmpty() else grp.get()
            if group is not None and grp != group:
                continue
            done = j.completionTime()
            end = done.get().getTime() / 1000.0 if not done.isEmpty() else t_end
            stages = j.stageIds()
            out.append(
                (j.jobId(), grp, start, end,
                 [stages.apply(k) for k in range(stages.size())])
            )
        return out

    def summary(self, windows: list[tuple[float, float]]) -> dict:
        """Totals over the jobs submitted inside any of the wall-clock
        `windows` (epoch seconds); driver_residual_s is the windows' total
        length minus the union of those jobs' spans."""
        jobs = [j for start, end in windows for j in self.jobs(start, end)]
        stage_ids = sorted({s for job in jobs for s in job[4]})
        tot = dict.fromkeys(
            ("tasks", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write",
             "spill"), 0)
        stages = 0
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._empty, False, self._quantiles
            )
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) == "SKIPPED":
                    continue
                stages += 1
                tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                tot["run_ms"] += s.executorRunTime()
                tot["cpu_ns"] += s.executorCpuTime()
                tot["shuffle_read"] += s.shuffleReadBytes()
                tot["shuffle_write"] += s.shuffleWriteBytes()
                tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((j[2], j[3]) for j in jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {
            "spark.jobs": len(jobs),
            "spark.stages": stages,
            "spark.tasks": tot["tasks"],
            "spark.executor_run_s": tot["run_ms"] / 1000.0,
            "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
            "spark.shuffle_read_bytes": tot["shuffle_read"],
            "spark.shuffle_write_bytes": tot["shuffle_write"],
            "spark.spill_bytes": tot["spill"],
            "spark.driver_residual_s": max(
                0.0, sum(end - start for start, end in windows) - covered),
        }
