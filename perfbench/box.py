"""The machine the benchmark runs on: session sizing, result stamps, and a
peak-RSS sampler for the driver JVM and its Python workers."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time

MIB = 1024 * 1024


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("/proc/meminfo has no MemTotal")


def heap_mib(total_mib: int) -> int:
    """Driver heap: a quarter of physical RAM, between 1 and 4 GiB. The
    inputs are small; the cap leaves the rest of a shared box alone."""
    return max(1024, min(4096, total_mib // 4))


def session_conf(work_dir: str, trace: bool) -> tuple[str, dict[str, str]]:
    """(master, conf) for a ``local[nproc]`` session whose scratch files
    stay under ``work_dir``."""
    n = cpus()
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mib(mem_total_mib())}m",
        # C1-only JIT: a run here is seconds long, and with tiered C2 the
        # first timed runs after warm-up were 20-40% slower than later ones
        # while C2 kept compiling (measured on 4 vCPUs: gsod_pipeline 13-19 s
        # falling to 10-12 s); with C1 alone they were flat from the first
        # timed run at ~15 s, and warm-up was shorter. C1 alone reserves a
        # 48 MiB code cache; every query compiles new codegen classes, and
        # once the cache was full the JIT switched itself off and later
        # runs went interpreted, so the cache is sized up
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
        ),
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return f"local[{n}]", conf


def _git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "none"


def source_digest(pkg_dir: str) -> str:
    """sha256 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def stamp(spark, root: str, pkg_dir: str) -> dict:
    total = mem_total_mib()
    return {
        "cpus": cpus(),
        "mem_total_gib": round(total / 1024),
        "heap_mib": heap_mib(total),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(root),
        "source_digest": source_digest(pkg_dir),
    }


# Stamps that must match before two results may be compared: the box and
# its runtimes. Commit and source digest are what a comparison compares.
BOX_KEYS = ("cpus", "mem_total_gib", "heap_mib", "spark", "java", "python")


def box_mismatch(a: dict, b: dict) -> list[str]:
    return [f"{k}: {a.get(k)} != {b.get(k)}" for k in BOX_KEYS if a.get(k) != b.get(k)]


def _tree_rss_bytes(root_pids: list[int]) -> int:
    """RSS of ``root_pids`` and all their descendants."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    keep = set(root_pids)
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return sum(rss.get(pid, 0) for pid in keep)


class RssSampler:
    """Samples the summed RSS of the JVM process tree plus this process
    every 0.1 s while active; ``peak_mib`` is the highest."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = [jvm_pid, os.getpid()]
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pids))
            self._stop.wait(0.1)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(self.pids))

    @property
    def peak_mib(self) -> float:
        return self.peak / MIB


def wait_children_gone(timeout: float = 30.0) -> None:
    """Block until every child process of this one has exited."""
    deadline = time.time() + timeout
    me = os.getpid()
    while time.time() < deadline:
        alive = False
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        alive = True
                        break
            except OSError:
                continue
        if not alive:
            return
        time.sleep(0.1)
