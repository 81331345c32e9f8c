"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side, around calls into the
package's public functions. `Tracer.install` replaces each listed
function in every package module that binds it (operator modules import
`load_table` and `pin` by name, so patching `session` alone would miss
them). Every op phase and every span runs under its own Spark job group
`<workload>|<pass>.<op>|<label>|<phase>[|<function>...]`, so each job,
and each of its stages, is attributed to the innermost span that
launched it.

Stage metrics come from `stage_rows`, one small function over Spark's
live status store (a private API that works with the UI disabled). If
that API is not there, the same rows are read from the run's local
event log instead. Spans and job rows stay in memory until the run
reports them.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "insurance_claim_data_pipeline_spark"
TRACED = {
    "session": ("load_table", "parquet_num_rows", "pin", "pin_eager", "pin_eager_observed"),
    "sources.claims": ("load_claims",),
}
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float


@dataclass
class Job:
    """One Spark job with the sums of its stages' metrics."""

    group: str
    call_site: str
    submit: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_run_s: float = 0.0  # executor run time of stages that read input files
    busy: list[tuple[float, float]] = field(default_factory=list)  # stage intervals


class Tracer:
    def __init__(self, spark, event_log_dir: str | None):
        self.sc = spark.sparkContext
        self.jvm_sc = self.sc._jsc.sc()
        self.event_log_dir = event_log_dir
        self.spans: list[Span] = []
        self.groups: list[str] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- job groups and spans ------------------------------------------------

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, group)
        if group is not None and group not in self.groups:
            self.groups.append(group)

    def current_group(self) -> str | None:
        return self.sc.getLocalProperty(GROUP_KEY)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            outer = self.current_group()
            group = f"{outer}|{name}" if outer else name
            self.set_group(group)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, group, start, time.time()))
                self.set_group(outer)

        return traced

    def install(self) -> None:
        """Wrap every TRACED function wherever a loaded package module binds it."""
        modules = [m for n, m in list(sys.modules.items()) if n == PACKAGE or n.startswith(PACKAGE + ".")]
        for owner, names in TRACED.items():
            home = importlib.import_module(f"{PACKAGE}.{owner}")
            for fname in names:
                original = getattr(home, fname)
                wrapped = self.wrap(f"{owner.split('.')[0]}.{fname}", original)
                for mod in modules:
                    if getattr(mod, fname, None) is original:
                        self._restore.append((mod, fname, original))
                        setattr(mod, fname, wrapped)

    def uninstall(self) -> None:
        for mod, fname, original in reversed(self._restore):
            setattr(mod, fname, original)
        self._restore.clear()

    # -- job and stage metrics -------------------------------------------------

    def jobs(self) -> list[Job]:
        """Every job launched under a group this tracer set, with its stage sums."""
        from py4j.protocol import Py4JError

        self.jvm_sc.listenerBus().waitUntilEmpty(30_000)
        try:
            return stage_rows(self.sc, self.groups)
        except Py4JError as ex:  # the status store is a private API
            if not self.event_log_dir:
                raise
            print(f"status store unavailable ({ex}); reading the event log", file=sys.stderr)
            return event_log_rows(self.event_log_dir, set(self.groups))

    def reset(self) -> None:
        self.spans.clear()
        self.groups.clear()


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def stage_rows(sc, groups) -> list[Job]:
    """Jobs of `groups` with their stage metrics, from the live status store."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            jd = store.job(job_id)
            submit = _opt_time(jd.submissionTime())
            end = _opt_time(jd.completionTime())
            job = Job(group, jd.name(), submit or 0.0, end or submit or 0.0)
            ids = jd.stageIds()
            for i in range(ids.length()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                _add_stage(
                    job,
                    tasks=st.numCompleteTasks(),
                    run_ms=st.executorRunTime(),
                    cpu_ns=st.executorCpuTime(),
                    gc_ms=st.jvmGcTime(),
                    input_bytes=st.inputBytes(),
                    shuffle_read=st.shuffleReadBytes(),
                    shuffle_write=st.shuffleWriteBytes(),
                    spill=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    start=_opt_time(st.submissionTime()),
                    end=_opt_time(st.completionTime()),
                )
            out.append(job)
    return out


def _add_stage(job: Job, *, tasks, run_ms, cpu_ns, gc_ms, input_bytes, shuffle_read, shuffle_write, spill, start, end):
    if not tasks:
        return  # skipped stage: its output was reused
    job.stages += 1
    job.tasks += tasks
    job.run_s += run_ms / 1000.0
    job.cpu_s += cpu_ns / 1e9
    job.gc_s += gc_ms / 1000.0
    job.input_bytes += input_bytes
    job.shuffle_read_bytes += shuffle_read
    job.shuffle_write_bytes += shuffle_write
    job.spill_bytes += spill
    if input_bytes:
        job.scan_run_s += run_ms / 1000.0
    if start is not None and end is not None:
        job.busy.append((start, end))


def event_log_rows(log_dir: str, groups: set[str]) -> list[Job]:
    """The same rows as `stage_rows`, parsed from Spark's JSON event log
    (uncompressed; single-file or rolling)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue  # rolling logs keep a status marker and checksums beside the events
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # the last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get(GROUP_KEY)
                    if group in groups:
                        t = ev["Submission Time"] / 1000.0
                        job = Job(group, props.get("callSite.short", ""), t, t)
                        jobs[ev["Job ID"]] = job
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = job
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is None:
                        continue
                    acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
                    m = lambda k: int(acc.get(f"internal.metrics.{k}", 0) or 0)  # noqa: E731
                    _add_stage(
                        job,
                        tasks=info.get("Number of Tasks", 0) if "Completion Time" in info else 0,
                        run_ms=m("executorRunTime"),
                        cpu_ns=m("executorCpuTime"),
                        gc_ms=m("jvmGCTime"),
                        input_bytes=m("input.bytesRead"),
                        shuffle_read=m("shuffle.read.remoteBytesRead") + m("shuffle.read.localBytesRead"),
                        shuffle_write=m("shuffle.write.bytesWritten"),
                        spill=m("memoryBytesSpilled") + m("diskBytesSpilled"),
                        start=info.get("Submission Time", 0) / 1000.0,
                        end=info.get("Completion Time", 0) / 1000.0,
                    )
    return list(jobs.values())


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


SESSION_METRICS = {
    "load_table": ("calls", "s", "jobs"),
    "parquet_num_rows": ("calls", "s"),
    "pin": ("calls", "s", "jobs"),
    "pin_eager": ("calls", "s"),
    "pin_eager_observed": ("calls", "s"),
}
OPERATOR_SUMS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
_JOB_FIELD = {"executor_run_s": "run_s", "executor_cpu_s": "cpu_s"}


@dataclass
class OpRecord:
    label: str  # query name, or drop label
    tag: str  # job-group prefix of the op
    start: float  # epoch seconds
    wall: float
    phases: dict  # build/plan/exec seconds (query ops)
    info: dict | None  # claims ops: candidates, scan_rows, malformed, files


def _metrics_call_line() -> int:
    """First source line of run_pipeline's metrics collect; jobs whose
    call site is at or after it are the metrics job."""
    import inspect

    from insurance_claim_data_pipeline_spark.plans import claim_pipeline

    lines, first = inspect.getsourcelines(claim_pipeline.run_pipeline)
    for i, line in enumerate(lines):
        if "metrics_frame(" in line:
            return first + i
    return 1 << 30


def per_layer(ops: list[OpRecord], jobs: list[Job], spans: list[Span], passes: int, cores: int, queries) -> dict:
    """Per-layer metrics as averages per traced pass: {name: (value, unit)}."""
    by_op: dict[str, list[Job]] = {}
    for job in jobs:
        by_op.setdefault("|".join(job.group.split("|")[:3]), []).append(job)
    out: dict[str, tuple[float, str]] = {}

    def put(name, total, unit):
        out[name] = (total / passes, unit)

    for fname, kinds in SESSION_METRICS.items():
        mine = [s for s in spans if s.name == f"session.{fname}"]
        own_jobs = [j for j in jobs if j.group.endswith(f"|session.{fname}")]
        values = {"calls": (len(mine), "count"), "s": (sum(s.end - s.start for s in mine), "s"), "jobs": (len(own_jobs), "count")}
        for kind in kinds:
            put(f"session.{fname}.{kind}", *values[kind])

    q_ops = [o for o in ops if o.info is None]
    q_jobs = [j for o in q_ops for j in by_op.get(o.tag, [])]
    phase_jobs = lambda p: [j for j in q_jobs if j.group.split("|")[3] == p]  # noqa: E731
    exec_s = sum(o.phases.get("exec", 0.0) for o in q_ops)
    for phase in ("build", "plan", "exec"):
        put(f"operators.{phase}_s", sum(o.phases.get(phase, 0.0) for o in q_ops), "s")
    put("operators.build_jobs", len(phase_jobs("build")), "count")
    put("operators.exec_jobs", len(phase_jobs("exec")), "count")
    for name in OPERATOR_SUMS:
        unit = "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"
        put(f"operators.{name}", sum(getattr(j, _JOB_FIELD.get(name, name)) for j in q_jobs), unit)
    gap = sum(o.wall - covered([b for j in by_op.get(o.tag, []) for b in j.busy], o.start, o.start + o.wall) for o in q_ops)
    put("operators.driver_gap_s", gap, "s")
    put("operators.unaccounted_s", sum(o.wall - sum(o.phases.values()) for o in q_ops), "s")
    exec_run = sum(j.run_s for j in phase_jobs("exec"))
    out["operators.slot_util"] = (exec_run / (exec_s * cores) if exec_s else 0.0, "ratio")
    for q in queries:
        mine = [o for o in q_ops if o.label == q]
        put(f"q.{q}.s", sum(o.wall for o in mine), "s")
        put(f"q.{q}.jobs", sum(len(by_op.get(o.tag, [])) for o in mine), "count")

    c_ops = [o for o in ops if o.info is not None]
    metrics_line = _metrics_call_line() if c_ops else 0
    load_s = cand_s = metr_s = self_s = scan_run = n_jobs = 0.0
    for o in c_ops:
        op_jobs = by_op.get(o.tag, [])
        n_jobs += len(op_jobs)
        loads = [s for s in spans if s.name == "sources.load_claims" and s.group.startswith(o.tag + "|")]
        load_s += sum(s.end - s.start for s in loads)
        for j in op_jobs:
            line = re.search(r":(\d+)$", j.call_site or "")
            if line and int(line.group(1)) >= metrics_line:
                metr_s += j.end - j.submit
            else:
                cand_s += j.end - j.submit
            scan_run += j.scan_run_s
        busy = covered([(j.submit, j.end) for j in op_jobs], o.start, o.start + o.wall)
        self_s += o.wall - sum(s.end - s.start for s in loads) - busy
    put("sources.load_claims.s", load_s, "s")
    put("sources.load_claims.files", sum(o.info["files"] for o in c_ops), "count")
    put("sources.scan_rows", sum(o.info["scan_rows"] for o in c_ops), "rows")
    put("sources.malformed_rows", sum(o.info["malformed"] for o in c_ops), "rows")
    put("sources.scan.executor_run_s", scan_run, "s")
    put("plans.run_pipeline.s", sum(o.wall for o in c_ops), "s")
    put("plans.run_pipeline.jobs", n_jobs, "count")
    put("plans.candidates_job_s", cand_s, "s")
    put("plans.metrics_job_s", metr_s, "s")
    put("plans.driver_self_s", self_s, "s")
    put("plans.candidate_rows", sum(o.info["candidates"] for o in c_ops), "rows")
    return out
