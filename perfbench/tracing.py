"""Tracing for the benchmark's `--trace 1` runs.

Three sources, all read from outside the engine:

- spans: (name, start, end, parent, run id, site) kept in memory and
  dumped at the end. Spans wrap calls into public functions (a pipeline
  stage, a stage's build(), a query's construction, a job operator).
- call sites: while tracing, every PySpark action (DataFrame actions,
  reader/writer calls) runs under a job description naming the engine
  file and line it was called from, and is recorded as an `action` span.
  The Spark event log then attributes each job to a call site.
- the Spark event log (uncompressed), parsed after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BENCH = os.path.join(REPO, "perfbench") + os.sep
_PYSPARK = os.sep + "pyspark" + os.sep


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, site: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["name"] if stack else None,
            "run_id": self.run_id,
            "site": site,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap_function(self, module, attr: str) -> None:
        """Put a span named `call:<attr>` around every call of ``module.attr``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(f"call:{attr}"):
                return orig(*args, **kwargs)

        self._patch(module, attr, traced)

    # -- call sites ------------------------------------------------------------
    def tag_actions(self) -> None:
        """Run every PySpark action under a job description naming its call
        site, and record it as an `action` span."""
        from pyspark.sql import DataFrameReader, DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        actions = {
            DataFrame: ("count", "collect", "toPandas", "take", "head", "first",
                        "isEmpty", "localCheckpoint", "checkpoint",
                        "foreach", "foreachPartition", "toLocalIterator"),
            DataFrameWriter: ("save", "parquet", "saveAsTable", "insertInto",
                              "json", "csv", "orc", "text"),
            DataFrameReader: ("parquet", "load", "json", "csv", "orc"),
        }
        for cls, names in actions.items():
            kind = "write" if cls is DataFrameWriter else (
                "read" if cls is DataFrameReader else "action")
            for attr in names:
                self._patch(cls, attr, self._tagged(getattr(cls, attr), kind, attr))

    def _tagged(self, orig, kind: str, attr: str):
        tracer = self

        @functools.wraps(orig)
        def tagged(*args, **kwargs):
            if getattr(tracer._local, "in_action", False):
                return orig(*args, **kwargs)
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            site = call_site()
            prev = sc.getLocalProperty("spark.job.description") if sc else None
            if sc:
                sc.setJobDescription(f"{site} {kind}:{attr}")
            tracer._local.in_action = True
            try:
                with tracer.span(f"{kind}:{attr}", site=site):
                    return orig(*args, **kwargs)
            finally:
                tracer._local.in_action = False
                if sc:
                    sc.setLocalProperty("spark.job.description", prev)

        return tagged

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def call_site() -> str:
    """The engine frames of the current stack, innermost first, as
    `file:line<file:line<...` (paths relative to the repo; PySpark and
    benchmark frames left out). Falls back to the innermost benchmark frame."""
    f = sys._getframe(2)
    chain, bench = [], None
    while f is not None:
        fn = f.f_code.co_filename
        if fn.startswith(REPO) and _PYSPARK not in fn:
            rel = f"{os.path.relpath(fn, REPO)}:{f.f_lineno}"
            if not fn.startswith(_BENCH):
                chain.append(rel)
            else:
                bench = bench or rel
        f = f.f_back
    return "<".join(chain) or bench or "?"


def site_file(site: str | None) -> str:
    """File of the innermost frame of a call site."""
    return (site or "").split("<")[0].split(":")[0]


def site_has(site: str | None, path: str) -> bool:
    """Whether any frame of a call site is in ``path``."""
    return any(fr.split(":")[0] == path for fr in (site or "").split("<"))


# -- event log ---------------------------------------------------------------
_PY_RUN = "time to run Python workers"
_PY_INIT = "time to initialize Python workers"


def read_eventlog(log_dir: str) -> dict:
    """Jobs, per-stage task totals and the application start time of the one
    application logged under ``log_dir``."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    app_start = None
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerApplicationStart":
                    app_start = ev["Timestamp"] / 1000.0
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or props.get("callSite.short") or ""
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "site": _desc_site(desc),
                        "kind": desc.split(" ")[-1] if " " in desc else "",
                    }
                    # a stage listed again by a later job was skipped there:
                    # its tasks ran for the first job that listed it
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["max_task_s"] = max(
                        st["max_task_s"], (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / (1 << 20)
                    )
                    st["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / (1 << 20)
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == _PY_RUN:
                            st["python_s"] += float(acc.get("Update", 0)) / 1000.0
                        elif acc.get("Name") == _PY_INIT:
                            st["python_init_s"] += float(acc.get("Update", 0)) / 1000.0
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": dict(stages), "app_start": app_start}


def _desc_site(desc: str) -> str:
    """Call site from a job description: our `file:line kind` tag, or
    PySpark's own `collect at /abs/file.py:line` for RDD actions."""
    if " at " in desc and desc.split(" at ", 1)[1].startswith(REPO):
        path = desc.split(" at ", 1)[1]
        return os.path.relpath(path, REPO)
    return desc.split(" ")[0] if desc else ""


def window_jobs(log: dict, t0: float, t1: float) -> dict[int, dict]:
    return {j: v for j, v in log["jobs"].items() if t0 <= v["start"] <= t1}


def stage_totals(log: dict, job_ids) -> dict[str, float]:
    """Task totals over the stages that ran for ``job_ids``."""
    ids = set(job_ids)
    out: dict[str, float] = defaultdict(float)
    for st in log["stages"].values():
        if st["job"] in ids:
            for k, v in st.items():
                if k == "max_task_s":
                    out[k] = max(out[k], v)
                elif k != "job":
                    out[k] += v
    return out


def engine_metrics(log: dict, job_ids) -> dict[str, float]:
    tot = stage_totals(log, job_ids)
    return {
        "spark.jobs": float(len(set(job_ids))),
        "spark.tasks": tot["tasks"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_mb": tot["shuffle_mb"],
        "spark.spill_mb": tot["spill_mb"],
    }
