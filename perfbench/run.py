"""Closed-loop benchmark of the validation engine's public API.

    python3 perfbench/run.py --workload ep2_graph --seed 1 --seconds 15 --trace 0

After set-up, one client calls the workload, waits for the complete
result, checks it, and calls again while another call still fits in
--seconds (at least one call). The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
turns the Spark event log on, replays the workload once as timed layer
calls and reports per-layer metrics instead. The line before it records
the context a regression needs to be attributed: seed, fixture sizes, spec
fingerprint, code version, versions, cores and CPU canaries.

See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import host
import tracing
from tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "anomaly_detector_faironchain_spark"
# local[2] on the 4-core host: the calls are bound by the driver thread
# (planning, scheduling ~80 jobs), so two task threads cost no speed and
# leave cores for the JIT, GC and Python workers; local[4] measured twice
# the run-to-run spread
CORES = 2
DRIVER_MEMORY = "2g"
SETUP_REPS = 3


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory."""
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            # a fixed heap size keeps the RSS high-water mark from
            # following the JVM's heap-resizing decisions
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'} "
            "-XX:-UsePerfData",
    }
    if trace:
        # Spark 4.1 writes zstd-compressed rolling logs by default; the
        # reader here parses one plain JSON-lines file
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    return conf


def make_work_dir(tag: str) -> Path:
    """Create the run's private work directory inside the checkout and
    point the environment of Spark and its Python workers at it."""
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True)
    # Python workers import the package too (Arrow UDFs unpickle functions
    # from it); they inherit this environment from the JVM
    if str(ROOT) not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 work: Path):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.work = work
        self.attempted = self.failed = 0
        self.samples: list[dict] = []
        self.java = None
        self.context: dict = {"workload": workload.name, "seed": seed,
                              "seconds": seconds, "trace": int(trace)}

    # -- one call ------------------------------------------------------------

    def call(self, fn, tag: str) -> dict:
        """Time ``fn`` (one public call), count its jobs, check its output."""
        sc = self.spark.sparkContext
        first = host.next_job_id(sc, f"{tag}-a")
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            out, err = fn(), None
        except Exception:  # a failed call is counted, and the loop goes on
            out, err = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        jobs = host.next_job_id(sc, f"{tag}-b") - first - 1
        if err is None:
            try:
                outcome = self.wl.check(out)
            except Exception:
                err = traceback.format_exc()
        ok = err is None and outcome.ok
        self.attempted += 1
        self.failed += not ok
        s = {"tag": tag, "t0_ms": t0_ms, "wall_s": wall, "jobs": jobs, "ok": ok,
             "detail": outcome.detail if err is None else {"error": err}}
        if err is not None:
            print(err, file=sys.stderr)
        self.samples.append(s)
        return s

    # -- phases --------------------------------------------------------------

    def start(self) -> None:
        from pyspark import SparkContext

        from anomaly_detector_faironchain_spark.session import get_spark

        self.canary_pre = host.cpu_canary(host.nproc())
        (self.work / "eventlog").mkdir(parents=True)
        (self.work / "tmp").mkdir()
        self.spark = get_spark("perfbench", cores=CORES,
                               extra_conf=spark_conf(self.work, self.trace))
        self.jvm = SparkContext._gateway.proc
        self.wl = self.workload(self.spark, self.seed)

    def setup(self, reps: int, first: int = 0, load: bool = True) -> float:
        """Build the fixture ``reps`` times, each into its own directory;
        load the first build; return the median of every build so far."""
        times = self.context.setdefault("setup_s", [])
        for rep in range(first, first + reps):
            t0 = time.perf_counter()
            self.wl.setup(self.work / f"fixture{rep}")
            times.append(time.perf_counter() - t0)
        if load:
            self.wl.load(self.work / f"fixture{first}")
        return statistics.median(times)

    def closed_loop(self) -> dict:
        """The first call follows set-up directly, with no warm-up call:
        like a scheduled spark-submit run, it pays the query's own JIT and
        code generation, while JVM start-up and Spark's generic warm-up
        have already happened during set-up."""
        self.setup(1)
        host.reset_peak_rss(self.jvm.pid)
        host.reset_peak_rss(os.getpid())
        timed = []
        t_start = time.perf_counter()
        while not timed or (time.perf_counter() - t_start
                            + timed[-1]["wall_s"] <= self.seconds):
            timed.append(self.call(self.wl.run, f"run{len(timed)}"))
        rss = host.peak_rss_mb(self.jvm.pid) + host.peak_rss_mb(os.getpid())
        # the remaining builds run after the calls, on a warm JVM: the
        # median of all builds is then a warm build, not one caught in
        # the JIT's catch-up after the first
        setup_s = self.setup(SETUP_REPS - 1, first=1, load=False)
        good = [s for s in timed if s["ok"]] or timed
        walls = [s["wall_s"] for s in good]
        return {
            "wall_s": (statistics.median(walls), "s"),
            "rows_per_s": (statistics.median(self.wl.rows / w for w in walls),
                           "rows/s"),
            "jobs": (statistics.median(s["jobs"] for s in good), "count"),
            "peak_rss_mb": (rss, "MB"),
            "setup_s": (setup_s, "s"),
            "success_ratio": ((self.attempted - self.failed) / self.attempted,
                              "ratio"),
        }

    def traced(self) -> dict:
        """Warm-up call, one direct call, then the traced replay: the
        replay's wall time against the direct call's is the tracing
        overhead, both warm and in the same session."""
        self.setup(1)
        self.call(self.wl.run, "warmup")
        direct = self.call(self.wl.run, "direct")
        tr = Tracer()
        ckpt = getattr(self.wl, "ckpt", self.work / "none")
        ckpt_before = host.dir_bytes(ckpt)
        replay = self.call(lambda: self.wl.replay(tr), "replay")
        t0 = replay["t0_ms"]
        t1 = t0 + replay["wall_s"] * 1000
        counts = self.wl.counts() if replay["ok"] else {}
        tr.release()
        ckpt_mb = (host.dir_bytes(ckpt) - ckpt_before) / tracing.MB
        self.stop_spark()
        jobs, tasks = tracing.read_event_log(self.work / "eventlog")
        m = tracing.layer_metrics(tr, jobs, tasks, t0, t1)
        self.context["traced"] = {
            "replay_jobs": tracing.jobs_in(jobs, t0, t1),
            "direct_jobs": direct["jobs"],
            "direct_jobs_in_log": tracing.jobs_in(
                jobs, direct["t0_ms"],
                direct["t0_ms"] + direct["wall_s"] * 1000),
            "overhead_vs_direct": replay["wall_s"] / direct["wall_s"],
        }
        out_m = {k: (v, tracing.KINDS[k.rsplit(".", 1)[1]]) for k, v in m.items()}
        for k in ("graph.wedge_rows", "graph.excluded_hubs",
                  "compiler.violation_rows"):
            out_m[k] = (counts.get(k, 0), "count")
        out_m["checkpoint.bytes_written_mb"] = (ckpt_mb, "MB")
        out_m["trace.wall_s"] = (replay["wall_s"], "s")
        out_m["trace.direct_wall_s"] = (direct["wall_s"], "s")
        return out_m

    def describe(self) -> None:
        from pyspark import __version__ as pyspark_version

        from anomaly_detector_faironchain_spark.plans import serde
        from anomaly_detector_faironchain_spark.specs import north_rule_spec

        spec_json = serde.spec_to_json(north_rule_spec())
        self.context.update({
            "fixture": self.wl.params,
            "spec_fingerprint": hashlib.sha256(spec_json.encode()).hexdigest(),
            "git_commit": host.git_commit(ROOT),
            "source_sha256": host.source_fingerprint(ROOT),
            "pyspark": pyspark_version,
            "java": self.java,
            "python": sys.version.split()[0],
            "master": f"local[{CORES}]",
            "nproc": host.nproc(),
            "samples": self.samples,
        })

    def stop_spark(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if getattr(self, "spark", None) is None:
            return
        from pyspark import SparkContext

        self.java = self.spark.sparkContext._jvm.System.getProperty(
            "java.version")
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        self.jvm.wait(timeout=60)
        # a later session in this process must launch a new JVM
        SparkContext._gateway = SparkContext._jvm = None

    def run(self) -> dict:
        self.start()
        try:
            metrics = self.traced() if self.trace else self.closed_loop()
        finally:
            self.stop_spark()
        n = host.nproc()
        self.context["canary"] = host.canary_record(
            self.canary_pre, host.cpu_canary(n), n)
        self.describe()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }


def run_all(args) -> int:
    """Run every workload, each in its own process exactly as a
    single-workload run, and print one result whose metrics are named
    <workload>.<metric>."""
    import subprocess

    sys.path.insert(0, str(ROOT))
    import workloads

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            return r.returncode
        context, result = r.stdout.strip().splitlines()[-2:]
        print(context)
        result = json.loads(result)
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{name}.{k}": v
                                 for k, v in result["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    if args.workload == "all":
        return run_all(args)
    work = make_work_dir(args.workload)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work)
        return 2
    bench = Bench(workloads.WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": bench.context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
