"""The benchmark workloads.

Each workload has a set-up (inputs and warmup, timed as `setup_s`), one
timed iteration (`iterate`), an output check run outside the timed window,
and a per-layer split of one traced iteration (`layers`).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import shlex
import shutil
import subprocess
import sys
import time
from decimal import Decimal

import datagen
import procmon
import tracing

REPO = tracing.REPO
CANON_SITE = "amr_kg_spark/operators/canonicalize.py"
HEAVY_SITES = (CANON_SITE, "amr_kg_spark/operators/dedup.py")

# kg_build pipeline stages, by the layer that does their work
MENTION_STAGES = ("mentions", "mentions_flat")
TRIPLE_STAGES = ("pairs", "resolved", "nodes", "edges", "triples")
CANON_STAGES = ("nodes_canonical", "edges_canonical")


def _norm(v):
    """Hashable, order-stable form of one output value. Floats keep 8
    significant digits: a sum over a permuted input can differ in its last
    bits from seed to seed, a wrong result does not stay within 1e-8."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.8g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def rows_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a row multiset, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def df_hash(df) -> str:
    return rows_hash(df.columns, [tuple(r) for r in df.collect()])


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class StageTimer:
    """The `runner=` passed to `run_pipeline`: delegates to `StageRunner`,
    puts each stage under its own Spark job group, and (when tracing) wraps
    the stage and its build() in spans."""

    def __init__(self, inner, tracer=None):
        self.inner = inner
        self.tracer = tracer
        self.sc = inner.spark.sparkContext

    def run(self, stage, build):
        self.sc.setJobGroup(f"stage:{stage}", stage)
        try:
            if self.tracer is None:
                return self.inner.run(stage, build)

            def traced_build():
                with self.tracer.span(f"build:{stage}"):
                    return build()

            with self.tracer.span(f"stage:{stage}"):
                return self.inner.run(stage, traced_build)
        finally:
            _clear_group(self.sc)

    def __getattr__(self, name):
        return getattr(self.inner, name)


class KgBuild:
    """`run_pipeline(..., canonicalize=True)` over seeded synthetic transcripts,
    each iteration in a fresh workdir."""

    name = "kg_build"
    in_process = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_turns = ctx.scale["kg_turns"]
        self.iteration = 0

    def make_inputs(self, spark) -> None:
        self.spark = spark
        self.input = os.path.join(self.ctx.work, "transcripts")
        datagen.write_transcripts(spark, self.input, self.ctx.seed, self.n_turns)

    def warmup(self) -> None:
        """One cold pipeline run on the full input (JIT, codegen, Python
        workers), so the first timed iteration costs what the later ones do
        and a run's median does not depend on how many iterations fit."""
        self._run(self.spark.read.parquet(self.input), "warm", None)

    def _run(self, transcripts, tag, tracer):
        from amr_kg_spark.lineage import StageRunner
        from amr_kg_spark.pipeline import run_pipeline

        workdir = os.path.join(self.ctx.work, f"kg_{tag}")
        runner = StageTimer(StageRunner(self.spark, workdir, run_id=tag), tracer)
        return run_pipeline(self.spark, transcripts, runner=runner, canonicalize=True)

    def iterate(self, tracer=None):
        self.iteration += 1
        transcripts = self.spark.read.parquet(self.input)
        return self._run(transcripts, f"run{self.iteration}", tracer)

    def check(self, out) -> dict:
        t = out["triples"]
        got = {
            "triples": t.count(),
            "nodes": out["nodes"].count(),
            "edges": out["edges"].count(),
            "triple_hash": df_hash(t),
        }
        self.last_lineage_rows = out["lineage"].count()
        return got

    def layers(self, tracer, log, window) -> dict:
        spans = [s for s in tracer.spans if window[0] <= s["start"] <= window[1]]
        stage_spans = {s["name"][6:]: s for s in spans if s["name"].startswith("stage:")}
        builds = {s["name"][6:]: s["end"] - s["start"] for s in spans if s["name"].startswith("build:")}
        jobs = tracing.window_jobs(log, *window)
        own, lineage_s, lineage_jobs = {}, 0.0, 0
        for stage, sp in stage_spans.items():
            inner = [s for s in spans if s["parent"] == f"stage:{stage}" and s["name"].startswith("write:")]
            writes = [s for s in inner if tracing.site_file(s["site"]) == "amr_kg_spark/lineage.py"]
            write = writes[0] if writes else None
            own[stage] = builds.get(stage, 0.0) + (write["end"] - write["start"] if write else 0.0)
            lineage_s += (sp["end"] - sp["start"]) - own[stage]
            lineage_jobs += sum(
                1 for j in jobs.values()
                if j["group"] == f"stage:{stage}"
                and tracing.site_file(j["site"]) == "amr_kg_spark/lineage.py"
                and (write is None or j["site"] != write["site"])
            )
        canon_call = sum(s["end"] - s["start"] for s in spans if s["name"] == "call:canonicalize_kg")

        def group_jobs(stages):
            return [j for j, v in jobs.items() if v["group"] in {f"stage:{s}" for s in stages}]

        mention = tracing.stage_totals(log, group_jobs(MENTION_STAGES))
        triple = tracing.stage_totals(log, group_jobs(TRIPLE_STAGES))
        canon_jobs = set(group_jobs(CANON_STAGES)) | {
            j for j, v in jobs.items()
            if v["group"] is None and any(tracing.site_has(v["site"], f) for f in HEAVY_SITES)
        }
        wall = window[1] - window[0]
        m = {
            "mentions.wall_s": sum(own.get(s, 0.0) for s in MENTION_STAGES),
            "mentions.python_s": mention["python_s"],
            "mentions.python_init_s": mention["python_init_s"],
            "triples.wall_s": sum(own.get(s, 0.0) for s in TRIPLE_STAGES),
            "triples.shuffle_mb": triple["shuffle_mb"],
            "canonicalize.wall_s": canon_call + sum(own.get(s, 0.0) for s in CANON_STAGES),
            "canonicalize.jobs": float(len(canon_jobs)),
            "lineage.wall_s": lineage_s,
            "lineage.jobs": float(lineage_jobs),
            "lineage.rows_written": float(self.last_lineage_rows),
            "pipeline.construct_s": sum(builds.values()),
        }
        attributed = sum(m[k] for k in ("mentions.wall_s", "triples.wall_s",
                                        "canonicalize.wall_s", "lineage.wall_s"))
        m["pipeline.unattributed_s"] = wall - attributed
        return m

    def trace_hooks(self, tracer) -> None:
        from amr_kg_spark.operators import canonicalize

        tracer.wrap_function(canonicalize, "canonicalize_kg")


PREP_FLAGS = ["--tokenizer", "bpe", "--materialize", "--budget", "256"]


class PrepJob:
    """`jobs/prep_corpus.py` in a fresh process per iteration, on a seeded row
    permutation of a fixed document corpus."""

    name = "prep_job"
    in_process = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.iteration = 0

    def make_inputs(self, spark) -> None:
        self.input = os.path.join(self.ctx.work, "documents.parquet")
        datagen.write_permuted(
            datagen.documents_table(self.ctx.scale["prep_docs"]), self.input, self.ctx.seed
        )

    def warmup(self) -> None:
        """None: every run of the job is a cold start by design."""

    def command(self, out_dir: str, traced: bool) -> list[str]:
        job = os.path.join(REPO, "jobs", "prep_corpus.py")
        head = [sys.executable, os.path.join(REPO, "perfbench", "prep_child.py")] if traced else [sys.executable]
        return [*head, job, "--input", self.input, "--output", out_dir, *PREP_FLAGS]

    def iterate(self, tracer=None):
        self.iteration += 1
        out_dir = os.path.join(self.ctx.work, f"packed{self.iteration}")
        env = dict(self.ctx.env)
        conf = dict(self.ctx.session_conf)
        if tracer is not None:
            log_dir = os.path.join(self.ctx.work, f"eventlog_child{self.iteration}")
            conf.update(tracing.eventlog_conf(log_dir))
            env["PERFBENCH_SPANS"] = os.path.join(self.ctx.work, f"spans{self.iteration}.json")
            self.child_log = log_dir
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            ["--master", "local[4]", *[f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()],
             "pyspark-shell"]
        )
        self.spawned = time.time()
        proc = subprocess.Popen(
            self.command(out_dir, tracer is not None),
            cwd=self.ctx.work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        self.ctx.monitor_root(proc.pid, whole=True)
        try:
            stdout, stderr = proc.communicate(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise
        if proc.returncode != 0:
            raise RuntimeError(f"prep_corpus exited {proc.returncode}: {stderr[-1500:]}")
        if tracer is not None:
            with open(env["PERFBENCH_SPANS"]) as fh:
                self.child_spans = json.load(fh)
        counts = json.loads([ln for ln in stdout.splitlines() if ln.startswith("{")][-1])
        return counts, out_dir

    def check(self, out) -> dict:
        import pyarrow.parquet as pq

        # the job's JVM and Python workers outlive the job process briefly
        procmon.wait_gone(self.ctx.monitor.pids)
        counts, out_dir = out
        table = pq.read_table(out_dir)
        got = {k: counts[k] for k in ("rows_out", "n_sequences", "total_tokens")}
        got["packed_hash"] = rows_hash(table.column_names, [tuple(r.values()) for r in table.to_pylist()])
        shutil.rmtree(out_dir, ignore_errors=True)
        return got

    def layers(self, tracer, log, window) -> dict:
        spans = self.child_spans
        jobs = log["jobs"]

        def wall(pred):
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        def audit(site, kind):
            return tracing.site_file(site) == "jobs/prep_corpus.py" and kind.startswith("action:")

        audit_jobs = [j for j, v in jobs.items() if audit(v["site"], v["kind"])]
        write_jobs = [j for j, v in jobs.items() if v["kind"].startswith("write:")]
        return {
            # dedup reaches connected components through canonicalize.py
            "canonicalize.wall_s": wall(lambda s: tracing.site_has(s["site"], CANON_SITE)),
            "canonicalize.jobs": float(sum(1 for v in jobs.values() if tracing.site_has(v["site"], CANON_SITE))),
            "prep.jvm_start_s": log["app_start"] - self.spawned,
            "prep.audit_s": wall(lambda s: audit(s["site"], s["name"])),
            "prep.audit_jobs": float(len(audit_jobs)),
            "prep.dedup_s": wall(lambda s: s["name"] == "call:dedup_keep_representatives"),
            "prep.tokenize_s": wall(lambda s: s["name"] in ("call:sample_texts", "call:train_bpe", "call:build_vocab"))
            + tracing.stage_totals(log, write_jobs)["python_s"],
            "prep.write_s": wall(lambda s: s["name"].startswith("write:")),
            "prep.max_task_s": tracing.stage_totals(log, jobs)["max_task_s"],
        }

    def trace_hooks(self, tracer) -> None:
        pass


WORKLOADS = {w.name: w for w in (KgBuild, PrepJob)}
