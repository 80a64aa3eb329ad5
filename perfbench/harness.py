"""Measurement plumbing shared by the workloads: Spark session lifecycle,
process-tree memory sampling, host counters, spans and per-call job
accounting.

Nothing here knows about a particular workload; ``workloads.py`` drives
the engine and ``run.py`` assembles the result line.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import threading
import time

def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path)
               for f in files)


# -- process tree ------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it, so the copy-on-write pages of the
    forked Python workers count once across the tree."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss(pid: int) -> dict[int, int]:
    """PSS bytes of ``pid`` and each of its descendants."""
    out = {}
    for p in [pid] + descendants(pid):
        try:
            out[p] = _pss_bytes(p)
        except OSError:
            pass        # exited since the listing
    return out


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except OSError:
        return "other"
    return "jvm" if exe.endswith(b"java") else "workers"


class MemorySampler:
    """Peak resident memory (summed PSS) of this process and every
    descendant (driver, JVM, Python workers), sampled on a background
    thread; ``at_peak`` splits the peak by process role."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            pss = tree_pss(root)
            total = sum(pss.values())
            if total > self.peak:
                self.peak = total
                roles: dict = {"processes": len(pss)}
                for p, b in pss.items():
                    r = _role(p, root) + "_mb"
                    roles[r] = roles.get(r, 0) + b / 2**20
                self.at_peak = roles
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- host context ------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def source_revision(root: str) -> dict:
    """The git revision when the tree is a checkout, and always a digest
    of the engine's source files, so a run can be tied to the code it
    measured even where no git metadata travels with the tree."""
    rev = None
    try:
        rev = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "osmpbf_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


# -- Spark session -----------------------------------------------------------

def start_spark(cores: int, work_dir: str):
    """The engine's own session factory with the benchmark's fixed knobs;
    every scratch file the JVM and the workers write lands in
    ``work_dir``."""
    from osmpbf_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that builds the spark-submit command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    # a fixed-size heap, touched in full at start: the JVM's resident
    # size then follows its memory outside the heap, not how far the
    # collector happened to walk into the heap before a run's peak
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (its exit signal) and wait
    until every process this one started has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the JVM exits on EOF
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# -- spans and job accounting ------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) recorded around calls into
    the engine's public functions, each labelled with its own Spark job
    group so the jobs, tasks and failed tasks it caused can be counted
    from the status tracker afterwards. Kept in memory; ``dump`` writes
    one JSON file per run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._n = 0

    def span(self, name: str):
        return _Span(self, name)

    def jobs(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tr = tracer
        self.name = name
        self.rec: dict = {}

    def __enter__(self):
        tr = self.tr
        tr._n += 1
        self.group = f"{tr.run_id}:{tr._n}:{self.name}"
        self.parent = tr._stack[-1] if tr._stack else None
        tr._stack.append(self.group)
        tr.sc.setJobGroup(self.group, self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tr = self.tr
        tr._stack.pop()
        # spans nest: restore the enclosing span's group for its later jobs
        if tr._stack:
            tr.sc.setJobGroup(tr._stack[-1], tr._stack[-1])
        else:
            tr.sc.setJobGroup(f"{tr.run_id}:untraced", "untraced")
        self.rec = {"name": self.name, "id": self.group,
                    "parent": self.parent, "run_id": tr.run_id,
                    "start": round(self.start - tr.t0, 6),
                    "end": round(end - tr.t0, 6),
                    "seconds": end - self.start,
                    **tr.jobs(self.group)}
        tr.spans.append(self.rec)
