"""Measurements taken from outside the program: the process tree through
/proc, and Spark's status store through its public JVM API."""

from __future__ import annotations

import json
import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its live descendants, minus the subtrees in ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL what is left
    after ``timeout`` and give it a few more seconds."""
    live = set(pids)
    for deadline, kill in ((timeout, True), (5.0, False)):
        end = time.monotonic() + deadline
        while live and time.monotonic() < end:
            live = {p for p in live if _alive(p)}
            time.sleep(0.05)
        if not live or not kill:
            return
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tree_cpu_s(root: int, exclude: set[int] = frozenset()) -> float:
    """CPU seconds of the tree: own plus reaped-children time of each live
    process, so a worker that exits between two readings is still counted
    (its time moves into its parent's reaped-children fields)."""
    ticks = 0
    for pid in tree_pids(root, exclude):
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK


def tree_rss_mb(root: int, exclude: set[int] = frozenset()) -> float:
    pages = 0
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Samples the tree's resident memory on a background thread; ``peak``
    is the highest sum seen since the last ``reset``."""

    def __init__(self, root: int, exclude: set[int], interval: float = 0.1):
        self.root, self.exclude, self.interval = root, exclude, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root, self.exclude))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = tree_rss_mb(self.root, self.exclude)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StatusStore:
    """Reads jobs and stages from Spark's AppStatusStore by job group.

    Spark keeps only the last 1000 jobs and stages, so read a group right
    after it finishes. Each read serializes the store's own API objects to
    JSON in the JVM, one py4j call per list.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._empty_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    def _json(self, seq) -> list:
        return json.loads(self._mapper.writeValueAsString(seq))

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_metrics(self, groups) -> dict:
        """{group: summary} for each job group in ``groups``, from one read
        of the job list and one of the stage list."""
        wanted = set(groups)
        jobs: dict[str, list] = {g: [] for g in wanted}
        for j in self._json(self._store.jobsList(None)):
            if j.get("jobGroup") in wanted:
                jobs[j["jobGroup"]].append(j)
        stages = {
            s["stageId"]: s
            for s in self._json(
                self._store.stageList(
                    None, False, False, self._empty_quantiles, self._jvm.java.util.ArrayList()
                )
            )
            if s["status"] == "COMPLETE"
        }
        out = {}
        for g, js in jobs.items():
            ids = {i for j in js for i in j["stageIds"]}
            out[g] = summarize(js, [stages[i] for i in sorted(ids) if i in stages])
        return out


def summarize(jobs: list[dict], stages: list[dict]) -> dict:
    def dur_ms(s: dict) -> int:
        return s["completionTime"] - s["submissionTime"]  # epoch millis

    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "short_single_task_stages": sum(
            1 for s in stages if s["numTasks"] == 1 and dur_ms(s) > 200
        ),
    }
