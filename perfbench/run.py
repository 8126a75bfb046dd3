#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one fresh process, one closed loop.

    python3 perfbench/run.py --workload pages_ckpt --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run is: set-up (Spark session, input
read, kernel load), one cold pipeline run, then warm runs until
``--seconds`` have passed (at least two), each followed by the output
checks in ``checks.py``. With ``--trace 1`` one warm-up run follows the
cold run, then traced and untraced warm runs alternate (tracing in
``layers.py``), and the per-layer metrics are printed instead of the
end-to-end ones.

Workloads (inputs from ``inputs.py``, cached per workload and seed under
``.perfbench_cache/``):

- ``pages_ckpt``: the FIXTURES section 1 pages corpus through the
  checkpointed ``run_pipeline``;
- ``dup_heavy``: large near-duplicate clusters of short docs through the
  checkpointed ``run_pipeline``;
- ``pages_flow``: the pages corpus through ``run_pipeline_flow``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it, starting
with ``#``, give host and session facts, each run with the single-core
kernel probe taken before and after it, every metric with its unit, and
``fail_frac``. Scratch files go under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

T_SCRIPT = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CACHE = ROOT / ".perfbench_cache"

# workload -> (input kind, checkpointed)
WORKLOADS = {
    "pages_ckpt": ("pages", True),
    "dup_heavy": ("dup_heavy", True),
    "pages_flow": ("pages", False),
}
CORES = 4
# a fixed, pre-touched driver heap: with a growing heap the JVM's RSS
# followed G1's expansion timing and moved peak_rss_mb by +-20% between
# identical runs; fixed, the metric moves with what the program holds
# outside the heap (driver Python, Python workers, JVM off-heap)
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 90  # a run still going after this is cancelled and fails
LAST_START_S = 130  # no warm run starts after this much process time


def session_conf(cores: int, trace: bool) -> dict[str, str]:
    """Every Spark setting the benchmark fixes; printed with each result."""
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f'-Djava.io.tmpdir="{WORK / "tmp"}" -XX:-UsePerfData'
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(WORK / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def process_age() -> float:
    """Seconds since this process started, in /proc's clock ticks."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


START_AGE = process_age()


def elapsed() -> float:
    """Seconds since process start: the /proc age when the script began,
    plus the script's own perf_counter time since then."""
    return START_AGE + time.perf_counter() - T_SCRIPT


def live_descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if rest[0] != "Z":
            children.setdefault(int(rest[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class PeakRss(threading.Thread):
    """Peak of the summed resident memory of this process and every live
    descendant (the driver JVM, the Python daemon and the Python workers),
    sampled every ``interval`` seconds. Each process counts its PSS, so
    pages that forked processes share are counted once, not once per
    process."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = 0
        for pid in [me, *live_descendants(me)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def stop_mb(self) -> float:
        self._done.set()
        self.join()
        return self.peak_kb / 1024


class KernelProbe:
    """Single-core ``signatures_from_buffer`` MB/s on the workload's own
    texts, outside Spark: the host-drift probe and the hashkernels layer."""

    def __init__(self, texts: list[str], sketch_cfg):
        import numpy as np

        from mashing_pumpkins_spark.functions.sketch_np import signatures_from_buffer

        data = [t.encode("utf-8") for t in texts]
        self.lens = np.fromiter(map(len, data), np.int64, len(data))
        self.starts = np.concatenate(([0], np.cumsum(self.lens)[:-1])).astype(np.int64)
        self.buf = np.frombuffer(b"".join(data), dtype=np.uint8)
        self.fn, self.cfg = signatures_from_buffer, sketch_cfg
        self.readings: list[float] = []

    def mb_per_s(self) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self.fn(self.buf, self.starts, self.lens, self.cfg)
            best = min(best, time.perf_counter() - t0)
        mbs = self.buf.shape[0] / 1e6 / best
        self.readings.append(mbs)
        return mbs


def unit_of(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_per_s"):
        return "docs/s"
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name.endswith(("precision", "dup_frac", "recall")):
        return "ratio"
    if name.endswith("path"):
        return "code"
    return "count"


def ensure_inputs(workload: str, seed: int, docs: int | None) -> tuple[Path, float, bool]:
    """Cached input directory for (input kind, docs, seed, generator
    source); generated in a child process on a miss. Returns (dir,
    generation seconds, cached)."""
    kind = WORKLOADS[workload][0]
    src = hashlib.sha256((HERE / "inputs.py").read_bytes()).hexdigest()[:12]
    key = f"{kind}-n{docs or 'default'}-s{seed}-{src}"
    out = CACHE / key
    if (out / "truth.json").exists():
        return out, 0.0, True
    tmp = CACHE / f"_tmp_{key}_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = [sys.executable, str(HERE / "inputs.py"), "--workload", workload,
           "--seed", str(seed), "--out", str(tmp)]
    if docs:
        cmd += ["--docs", str(docs)]
    t0 = time.monotonic()
    subprocess.run(cmd, check=True, timeout=150)
    gen_s = time.monotonic() - t0
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, gen_s, False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while live_descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in live_descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while live_descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-dedup pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size override (smoke runs)")
    args = ap.parse_args()
    if not (ROOT / "mashing_pumpkins_spark" / "__init__.py").is_file():
        print(f"perfbench: no mashing_pumpkins_spark package under {ROOT}", file=sys.stderr)
        return 2
    checkpointed = WORKLOADS[args.workload][1]
    trace = bool(args.trace)

    for sub in ("tmp", "spark-local", "eventlog", "ckpt", "results", "traces"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # no JVM perf-data files in the system temp dir (HotSpot ignores
    # java.io.tmpdir for them), for the launcher JVM nor the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))

    in_dir, gen_s, cached = ensure_inputs(args.workload, args.seed, args.docs)

    # ---- set-up: session start, input read, kernel load --------------------
    rss = PeakRss()
    rss.start()
    import numpy as np
    from pyspark.sql import SparkSession

    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.functions.sketch_np import signatures_from_buffer
    from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline, run_pipeline_flow

    cores = min(CORES, len(os.sched_getaffinity(0)))
    conf = session_conf(cores, trace)
    builder = SparkSession.builder.appName(f"perfbench-{args.workload}")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        cfg = PipelineConfig(
            sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
            n_bands=32,
            rows_per_band=8,
            jaccard_threshold=0.8,
        )
        pages = spark.read.parquet(str(in_dir / "pages.parquet")).repartition(cores)
        n_docs = pages.count()
        tiny = np.frombuffer(b"kernel load " * 4, dtype=np.uint8)
        signatures_from_buffer(tiny, np.zeros(1, np.int64), np.array([tiny.shape[0]]), cfg.sketch)
        setup_s = elapsed() - gen_s

        host = {
            "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(_mem_total_kb() / 2**20, 2),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "session": conf,
        }
        print(f"# host {json.dumps(host)}")
        print(f"# inputs {args.workload} seed={args.seed} docs={n_docs} gen_s={gen_s:.3f} cached={cached}")

        # ---- closed loop: cold run, warm runs, output check after each --------
        from checks import CheckFailed, OutputChecks

        truth = json.loads((in_dir / "truth.json").read_text())
        checks = OutputChecks(truth, in_dir / f"expect-{args.workload}.json")
        probe = KernelProbe(truth["probe_text"], cfg.sketch)
        tracer = None
        runs: list[dict] = []

        def pipeline_run(store):
            """One run through the workload's public entry point, output materialized."""
            if store is not None:
                clusters, report = run_pipeline(spark, pages, cfg, store=store)
            else:
                clusters, report = run_pipeline_flow(spark, pages, cfg)
            clusters.count()
            return clusters, report

        def one_run(kind_of_run: str) -> None:
            i = len(runs)
            before = probe.mb_per_s()
            ckpt_dir = WORK / "ckpt" / f"{os.getpid()}-{i}"
            rec = {"run": i, "kind": kind_of_run, "ok": False}
            timer = threading.Timer(RUN_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
            try:
                store = ParquetCheckpointStore(str(ckpt_dir), cfg.config_hash()) if checkpointed else None
                timer.start()
                t0 = time.perf_counter()
                if kind_of_run == "traced":
                    tracer.run_id = f"r{i}"
                    with tracer.span("run") as span:
                        clusters, report = pipeline_run(store)
                    span["cc_iterations"] = report.cc_iterations
                    rec["span"] = span
                else:
                    clusters, report = pipeline_run(store)
                rec["wall_s"] = time.perf_counter() - t0
                timer.cancel()
                rec.update(checks.check(spark, clusters, cfg, store))
                rec["ok"] = True
            except CheckFailed as exc:
                rec["error"] = f"check: {exc}"
            except Exception as exc:  # a failed run is counted, the loop goes on
                rec["error"] = f"{type(exc).__name__}: {exc}"
            finally:
                timer.cancel()
                shutil.rmtree(ckpt_dir, ignore_errors=True)
                spark.catalog.clearCache()
            rec["probe_before"], rec["probe_after"] = before, probe.mb_per_s()
            runs.append(rec)
            status = "ok" if rec["ok"] else f"FAILED {rec['error'][:300]}"
            wall = f"{rec['wall_s']:.3f}s" if "wall_s" in rec else "-"
            print(f"# run {i} {kind_of_run} wall={wall} probe_before={before:.1f}MB/s "
                  f"probe_after={rec['probe_after']:.1f}MB/s {status}", flush=True)

        one_run("cold")
        if trace:
            from layers import Tracer

            # one warm-up run, then traced/untraced pairs, so the overhead
            # compares runs that are equally warm
            one_run("warm-up")
            tracer = Tracer(spark)
            t0 = time.monotonic()
            while True:
                tracer.install()
                try:
                    one_run("traced")
                finally:
                    tracer.uninstall()
                one_run("warm")
                if time.monotonic() - t0 >= args.seconds or elapsed() >= LAST_START_S:
                    break
        else:
            t0, n = time.monotonic(), 0
            while n < 2 or (time.monotonic() - t0 < args.seconds and elapsed() < LAST_START_S):
                one_run("warm")
                n += 1
    finally:
        peak_rss_mb = rss.stop_mb()
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)

    # ---- results ------------------------------------------------------------
    failed = sum(1 for r in runs if not r["ok"])
    ok = [r for r in runs if r["ok"]]
    walls = lambda kind_of_run: [r["wall_s"] for r in ok if r["kind"] == kind_of_run]  # noqa: E731
    if trace:
        from layers import EventLog, median_metrics, run_metrics

        (WORK / "traces" / f"{args.workload}-s{args.seed}.json").write_text(json.dumps(tracer.spans))
        log_path = WORK / "eventlog" / app_id
        log = EventLog(log_path)
        log_path.unlink()
        traced = [run_metrics(tracer.spans, log, r["span"], checkpointed) for r in ok if r["kind"] == "traced"]
        values = median_metrics(traced) if traced else {}
        values["hashkernels.sketch_mb_per_s"] = statistics.median(probe.readings)
        if traced and walls("warm"):
            values["trace.overhead_s"] = statistics.median(walls("traced")) - statistics.median(walls("warm"))
    else:
        warm = walls("warm")
        cold = walls("cold")
        values = {
            "docs_per_s": n_docs / statistics.median(warm) if warm else 0.0,
            "cold_wall_s": cold[0] if cold else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "dup_pair_recall": min((r["recall"] for r in runs if "recall" in r), default=0.0),
        }
    metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()}
    for k, m in metrics.items():
        print(f"# metric {k} {m['value']:.6g} {m['unit']}")
    print(f"# fail_frac {failed / len(runs):.4f} ({failed}/{len(runs)} runs)")
    result = {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}
    for r in runs:
        r.pop("span", None)
    (WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps({**result, "host": host, "setup_s": setup_s, "gen_s": gen_s, "runs": runs}, indent=1)
    )
    print(json.dumps(result), flush=True)
    return 0


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
