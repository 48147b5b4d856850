"""What the benchmark records about the host and the code: CPU canaries,
versions, memory high-water marks and exact job ids."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

# Healthy aggregate rate of the canary loop below, per process, in million
# iterations/s: best of 10 canaries at 4 processes on a 4-core x86-64
# host (2026-10-16). A canary well below nproc x this marks a contended
# window, not a code regression.
CANARY_CEILING_MIPS_PER_PROC = 22.7

_BURN = (
    "import time\n"
    "t0 = time.perf_counter(); n = 0\n"
    "while time.perf_counter() - t0 < {seconds}:\n"
    "    for _ in range(100000): pass\n"
    "    n += 100000\n"
    "print(n / (time.perf_counter() - t0))"
)


def cpu_canary(n_procs: int, seconds: float = 0.5, tries: int = 2) -> float:
    """Aggregate million loop iterations/s of ``n_procs`` pure-Python
    busy loops run at once (no Spark); best of ``tries``."""
    code = _BURN.format(seconds=seconds)
    best = 0.0
    for _ in range(tries):
        procs = [subprocess.Popen([sys.executable, "-c", code],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(n_procs)]
        best = max(best, sum(float(p.communicate()[0]) for p in procs) / 1e6)
    return best


def canary_record(pre: float, post: float, n_procs: int) -> dict:
    ceiling = CANARY_CEILING_MIPS_PER_PROC * n_procs
    return {"procs": n_procs, "pre_mips": pre, "post_mips": post,
            "ceiling_mips": ceiling,
            "healthy": min(pre, post) >= 0.75 * ceiling}


def reset_peak_rss(pid: int) -> None:
    """Restart the VmHWM high-water mark of ``pid`` (Linux clear_refs 5)."""
    try:
        Path(f"/proc/{pid}/clear_refs").write_text("5")
    except OSError:
        pass  # the mark then also covers set-up; the value stays a true peak


def peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def next_job_id(sc, tag: str) -> int:
    """Id of a one-task probe job. Job ids are handed out in submission
    order by the scheduler, so the number of jobs between two probes is
    the difference of their ids minus one, whichever thread submitted
    them. The job group only lets the probe find its own id."""
    sc.setJobGroup(tag, "perfbench job-id probe")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while True:  # the status tracker is fed asynchronously
        ids = sc.statusTracker().getJobIdsForGroup(tag)
        if ids:
            return ids[0]
        if time.monotonic() > deadline:
            raise RuntimeError(f"probe job {tag} never reached the tracker")
        time.sleep(0.01)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) \
        if path.exists() else 0


def source_fingerprint(root: Path) -> str:
    """sha256 over the library's source files, for checkouts that are not
    git repositories."""
    h = hashlib.sha256()
    pkg = root / "anomaly_detector_faironchain_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def nproc() -> int:
    return len(os.sched_getaffinity(0))
