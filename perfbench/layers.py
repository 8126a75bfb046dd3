"""Layer tracing for the pipeline benchmark.

Spans are recorded from the benchmark's own code, around the calls into
each layer; the program itself is not changed:

- the public names ``plans.pipeline`` calls, patched on that module:
  ``extract``, ``collapse_exact_duplicates``, ``sketch_table``,
  ``band_table``, ``candidate_pairs``, ``verified_edges`` and
  ``connected_components_auto`` (one ``<layer>.driver`` span each);
- ``ParquetCheckpointStore.get_or_compute`` (one ``stage`` span per
  pipeline stage) and ``.write`` (one ``commit`` span per stage).

A name that is missing raises: a renamed entry point must fail the traced
run, never leave a layer silently unmeasured.

Each span sets the Spark job group to its own id while it is open, so every
job is attributed to the innermost open span. After the session stops,
the Spark event log supplies per-task numbers (executor CPU, Python worker
time and bytes, shuffle, spill, GC), which are summed per job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

# pipeline-module name -> layer name
PIPELINE_CALLS = {
    "extract": "extract",
    "collapse_exact_duplicates": "exact",
    "sketch_table": "signature",
    "band_table": "banding",
    "candidate_pairs": "candidates",
    "verified_edges": "verify",
    "connected_components_auto": "cc",
}
# layer -> checkpoint stage name used by run_pipeline
STAGE_OF = {
    "extract": "extract",
    "exact": "exact",
    "signature": "signatures",
    "banding": "bands",
    "candidates": "candidates",
    "verify": "edges",
    "cc": "clusters",
}
SPARK_FIELDS = (
    "executor_cpu_s",
    "py_worker_s",
    "py_mb_sent",
    "py_mb_returned",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "gc_s",
)
JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder that also owns the layer wrappers."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._restore: list[tuple[object, str, object]] = []
        self.run_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setLocalProperty(JOB_GROUP, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.sc.setLocalProperty(JOB_GROUP, self._open[-1]["id"] if self._open else None)

    def _patch(self, owner, name: str, make):
        orig = getattr(owner, name)  # AttributeError: a traced name is gone
        self._restore.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        from mashing_pumpkins_spark.plans import pipeline
        from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore

        for fn, layer in PIPELINE_CALLS.items():
            def make(orig, layer=layer):
                def traced(*args, **kwargs):
                    with self.span("driver", layer=layer):
                        return orig(*args, **kwargs)
                return traced
            self._patch(pipeline, fn, make)

        def make_stage(orig):
            def get_or_compute(store, spark, stage, *args, **kwargs):
                with self.span("stage", stage=stage) as rec:
                    df, res = orig(store, spark, stage, *args, **kwargs)
                    rec["rows"] = res.rows
                    return df, res
            return get_or_compute

        def make_write(orig):
            def write(store, spark, stage, *args, **kwargs):
                with self.span("commit", stage=stage):
                    return orig(store, spark, stage, *args, **kwargs)
            return write

        self._patch(ParquetCheckpointStore, "get_or_compute", make_stage)
        self._patch(ParquetCheckpointStore, "write", make_write)

    def uninstall(self) -> None:
        while self._restore:
            owner, name, orig = self._restore.pop()
            setattr(owner, name, orig)


class EventLog:
    """Per-job facts from one uncompressed, non-rolling Spark event log."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.plans: dict[str, str] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get(JOB_GROUP),
                "exec": props.get("spark.sql.execution.id"),
                "submit": e["Submission Time"] / 1e3,
                "end": None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = min(jid, self.stage_job.get(sid, jid))
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart"):
            self.plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")

    def _task(self, e: dict) -> None:
        m = e.get("Task Metrics")
        if not m:
            return
        s = self.stage_sums[e["Stage ID"]]
        s["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
        s["gc_s"] += m["JVM GC Time"] / 1e3
        s["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
        s["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
        r = m["Shuffle Read Metrics"]
        s["shuffle_read_mb"] += (r["Remote Bytes Read"] + r["Local Bytes Read"]) / 1e6
        s["output_mb"] += m["Output Metrics"]["Bytes Written"] / 1e6
        for acc in e["Task Info"].get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if not isinstance(upd, (int, float)) and not str(upd).isdigit():
                continue
            if name == "time to run Python workers":
                s["py_worker_s"] += int(upd) / 1e3
            elif name == "data sent to Python workers":
                s["py_mb_sent"] += int(upd) / 1e6
            elif name == "data returned from Python workers":
                s["py_mb_returned"] += int(upd) / 1e6

    def jobs_in(self, groups: set[str]) -> list[int]:
        return sorted(j for j, rec in self.jobs.items() if rec["group"] in groups)

    def sums(self, jobs: list[int]) -> dict[str, float]:
        wanted = set(jobs)
        out: dict[str, float] = defaultdict(float)
        for sid, jid in self.stage_job.items():
            if jid in wanted:
                for k, v in self.stage_sums.get(sid, {}).items():
                    out[k] += v
        return out


def _subtree(spans: list[dict], root: dict) -> set[str]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    ids, todo = set(), [root["id"]]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(children[sid])
    return ids


def run_metrics(spans: list[dict], log: EventLog, run_span: dict, checkpointed: bool) -> dict:
    """Per-layer numbers of one traced pipeline run.

    Checkpointed runs attribute each layer's wall, jobs and Spark numbers
    to its stage span (compute plus commit). In a flow run the stages fuse
    into the jobs that verify and CC start, so every layer reports its
    driver span only: upstream layers read near 0 and their work shows in
    ``verify.*`` and ``cc.*``; rows, commits and ratios read 0.
    """
    mine = [s for s in spans if s["run"] == run_span["run"]]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    drivers = {s["layer"]: s for s in mine if s["name"] == "driver"}
    stages = {s["stage"]: s for s in mine if s["name"] == "stage"}
    commits = {s["stage"]: s for s in mine if s["name"] == "commit"}
    out: dict[str, float] = {}
    stage_wall = 0.0
    for layer, stage in STAGE_OF.items():
        drv = drivers.get(layer)
        if drv is None:
            raise RuntimeError(f"traced run recorded no {layer} driver span")
        owner = stages[stage] if checkpointed else drv
        jobs = log.jobs_in(_subtree(mine, owner))
        sums = log.sums(jobs)
        out[f"{layer}.wall_s"] = dur(owner)
        out[f"{layer}.driver_s"] = dur(drv)
        out[f"{layer}.jobs"] = len(jobs)
        out[f"{layer}.rows_out"] = owner.get("rows", 0)
        for f in SPARK_FIELDS:
            out[f"{layer}.{f}"] = sums.get(f, 0.0)
        stage_wall += dur(owner)
        commit = commits.get(stage)
        mb = lag = 0.0
        if commit is not None:
            cjobs = log.jobs_in(_subtree(mine, commit))
            mb = log.sums(cjobs).get("output_mb", 0.0)
            ends = [
                log.jobs[j]["end"]
                for j in cjobs
                if "InsertIntoHadoopFsRelationCommand" in log.plans.get(log.jobs[j]["exec"], "")
            ]
            lag = commit["end"] - max(ends) if ends else 0.0
        out[f"checkpoint.{stage}.commit_mb"] = mb
        out[f"checkpoint.{stage}.commit_s"] = lag

    out["pipeline.floor_s"] = dur(run_span) - stage_wall
    out["pipeline.jobs"] = len(log.jobs_in(_subtree(mine, run_span)))
    rows = {k: v.get("rows", 0) for k, v in stages.items()}
    out["verify.precision"] = rows["edges"] / rows["candidates"] if rows.get("candidates") else 0.0
    out["exact.dup_frac"] = (
        (rows["exact"] - rows["signatures"]) / rows["extract"] if rows.get("extract") else 0.0
    )
    out["cc.iterations"] = run_span.get("cc_iterations", 0)

    # verify strategy, read from the physical plans that ran verify's output
    # (the edges commit, or in a flow run the jobs CC starts on the edges)
    # and from the SQL executions verify ran before returning (the slice
    # collect, plus any count or bytes probe): 1 broadcast scoring chosen
    # from the caller's bound, 2 broadcast scoring after a probe, 3
    # broadcast prefilter + sort-merge exact pass, 4 sort-merge join path
    vjobs = log.jobs_in(_subtree(mine, drivers["verify"]))
    dispatch = {log.jobs[j]["exec"] for j in vjobs} - {None}
    out["verify.dispatch_jobs"] = len(dispatch)
    consumer = commits.get("edges") if checkpointed else drivers["cc"]
    text = "".join(
        log.plans.get(log.jobs[j]["exec"], "")
        for j in log.jobs_in(_subtree(mine, consumer))
    )
    scored, joined = "MapInPandas" in text, "ArrowEvalPython" in text
    if joined:
        out["verify.path"] = 3 if scored else 4
    else:
        out["verify.path"] = 1 if len(dispatch) <= 1 else 2
    return out


def median_metrics(per_run: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}
