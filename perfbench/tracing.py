"""Traced run: per-layer spans and counters from Spark's status store.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions; the library is not modified. Each span runs
under its own Spark job group, and its counters are read from the app
status store by that group (jobs, stages, tasks, executor and GC time,
shuffle, spill, input records, job submission and completion times) —
the same source `tools/shuffle_audit._stage_metrics` reads. Spans and
counters stay in memory and are written once, by `Tracer.write`.

Before any span is measured, triage runs its whole pipeline once into
the no-op sink and curate runs one untimed operation, so no layer
absorbs the first run's costs (JIT, code generation, page cache); hunt's
queries follow the triage operation, which made the same calls.

Triage layers are timed as cumulative prefixes of `build_pipeline`: the
pipeline is cut just before the call into the next layer (the call
raises `_Cut` carrying its input frame), the prefix is run into the
no-op sink, and a layer's numbers are the difference between its prefix
and the one before. The operation then runs once with a span around
each public call. Hunt runs one round of its queries with a span around
each call. Curate layers are the intervals between the funnel's stage
boundaries (`settle()` calls inside `curate_corpus`).

The tracing overhead is the wall time of the tracer's own status-store
reads inside a workload's span (each read waits for Spark's listener bus
to drain), timed directly.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import contextmanager

import pandas as pd

from workloads import MAX_ROWS, TRIAGE_RISK, Curate, Hunt, Triage, must_pass, rendered_rows

MB = 1e6


class _Cut(Exception):
    def __init__(self, df):
        super().__init__("pipeline cut")
        self.df = df


@contextmanager
def patched(module, name: str, value):
    """Temporarily replace `module.name`."""
    old = getattr(module, name)
    setattr(module, name, value)
    try:
        yield old
    finally:
        setattr(module, name, old)


class Tracer:
    """Spans (name, parent, start, end, job groups) and status-store
    counters for one traced run, kept in memory."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups = 0
        # wall time of the tracer's own status-store reads
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Time the block as span `name` under a job group of its own;
        its counters cover the jobs of its child spans too."""
        parent = self._stack[-1] if self._stack else None
        self._groups += 1
        group = f"{name}#{self._groups}"
        rec = {"name": name, "parent": parent and parent["name"], "groups": [group]}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        start_epoch, t0, ov0 = time.time(), time.perf_counter(), self.overhead_s
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["overhead_s"] = self.overhead_s - ov0
            rec["start"], rec["end"] = start_epoch, start_epoch + rec["wall_s"]
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent["groups"][0], parent["name"])
                parent["groups"] += rec["groups"]
            t1 = time.perf_counter()
            rec.update(self.counters(rec["groups"], rec["start"], rec["end"]))
            rec["counters_s"] = time.perf_counter() - t1
            self.overhead_s += rec["counters_s"]
            self.spans.append(rec)

    def counters(self, groups: list[str], start: float, end: float) -> dict:
        """Status-store counters of every job run under `groups`."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
        stage_ids: set[int] = set()
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            stage_ids.update(job.stageIds().apply(i) for i in range(job.stageIds().size()))
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1000.0,
                                  job.completionTime().get().getTime() / 1000.0))
        out = dict(jobs=len(job_ids), stages=0, tasks=0, executor_s=0.0, gc_s=0.0,
                   shuffle_mb=0.0, spill_mb=0.0, input_records=0, input_mb=0.0)
        for sid in sorted(stage_ids):
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB
            out["input_records"] += s.inputRecords()
            out["input_mb"] += s.inputBytes() / MB
        out["busy_s"] = _union(intervals, start, end)
        # the last job's own interval (job ids grow in submission order)
        out["last_job_s"] = intervals[-1][1] - intervals[-1][0] if intervals else 0.0
        return out

    def whole_run(self, prefix: str, rec: dict) -> dict:
        """Per-workload counters of span `rec`, net of the tracer's own
        status-store reads inside it, and those reads as the overhead."""
        overhead_s = rec["overhead_s"]
        wall = rec["wall_s"] - overhead_s
        return {
            f"{prefix}.executor_s": rec["executor_s"],
            f"{prefix}.gc_s": rec["gc_s"],
            f"{prefix}.shuffle_mb": rec["shuffle_mb"],
            f"{prefix}.spill_mb": rec["spill_mb"],
            f"{prefix}.core_util": rec["executor_s"] / (wall * self.cores),
            f"{prefix}.driver_gap_s": wall - rec["busy_s"],
            f"{prefix}.jobs": rec["jobs"],
            f"{prefix}.stages": rec["stages"],
            f"{prefix}.trace_overhead_s": overhead_s + rec["counters_s"],
        }

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as fp:
            json.dump({"metrics": metrics, "spans": self.spans}, fp, indent=1)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one interval."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _plan(df) -> None:
    """Force physical planning now, so the span around it owns the cost
    (the action that follows plans its own query again)."""
    df._jdf.queryExecution().executedPlan()


def trace_triage(tr: Tracer, w: Triage) -> dict:
    """Warm-up pipeline, cumulative-prefix layer split, then a spanned op."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import webloghunter_spark.engine as engine
    import webloghunter_spark.functions.risk as risk
    import webloghunter_spark.session as session
    from webloghunter_spark.detectors.burst import BURST_RULE_TITLE
    from webloghunter_spark.render import (
        display_projection,
        render_table,
        write_parquet_store,
    )

    spark = tr.spark
    m: dict = {}
    with tr.span("triage.warm_up"), session.materialized_scope():
        _noop(engine.build_pipeline(spark, w.paths)[0])

    # 1. cumulative prefixes, each cut before the next layer's call
    def cut(df, *args, **kwargs):
        raise _Cut(df)

    def prefix(module, name):
        with patched(module, name, cut):
            try:
                engine.build_pipeline(spark, w.paths)
            except _Cut as c:
                return c.df
        raise RuntimeError(f"build_pipeline never called {name}")

    sent = spark.sparkContext.accumulator(0)
    scored_rows = spark.sparkContext.accumulator(0)
    orig_udf = risk.uri_risk_udf

    def counting_uri_risk_udf(*args, **kwargs):
        inner = orig_udf(*args, **kwargs).func

        @F.pandas_udf(T.IntegerType())
        def _udf(uris: pd.Series) -> pd.Series:
            sent.add(len(uris))
            scored_rows.add(int(uris.notna().sum()))
            return inner(uris)

        return _udf

    layers = [
        ("sources.logparse", lambda: prefix(engine, "remove_cross_source_dups")),
        ("operators.dedup", lambda: prefix(engine, "with_utc_timestamp")),
        ("operators.sessionize", lambda: prefix(engine, "score")),
        ("rules.sigma", lambda: prefix(session, "materialize")),
        ("detectors", lambda: engine.build_pipeline(spark, w.paths)[0]),
    ]
    # per-layer counters beyond wall time, as deltas between prefixes
    kept = {
        "sources.logparse": ("executor_s", "tasks"),
        "operators.dedup": ("shuffle_mb",),
        "operators.sessionize": ("stages", "shuffle_mb"),
        "detectors": ("stages",),
    }
    prev = dict.fromkeys(("wall_s", "stages", "shuffle_mb", "executor_s", "tasks"), 0)
    rows = {}
    for name, build in layers:
        udf = counting_uri_risk_udf if name == "rules.sigma" else orig_udf
        with session.materialized_scope(), patched(risk, "uri_risk_udf", udf):
            df = build()
            obs = Observation(name)
            exprs = [F.count(F.lit(1)).alias("rows")]
            if name == "operators.sessionize":
                exprs.append(F.max("cluster").alias("max_cluster"))
            if name == "detectors":
                exprs.append(F.sum(((F.col("tool") != "")
                                    | (F.col("rule_applied") == BURST_RULE_TITLE)).cast("int"))
                             .alias("hits"))
            with tr.span(f"prefix.{name}") as rec:
                _noop(df.observe(obs, *exprs))
            rows[name] = obs.get
        m[f"{name}.wall_s"] = rec["wall_s"] - prev["wall_s"]
        for k in kept.get(name, ()):
            m[f"{name}.{k}"] = rec[k] - prev[k]
        prev = rec
    m["functions.risk.udf_rows"] = sent.value
    m["functions.risk.udf_scored_rows"] = scored_rows.value
    m["operators.dedup.rows_dropped"] = (rows["sources.logparse"]["rows"]
                                         - rows["operators.dedup"]["rows"])
    m["operators.sessionize.sessions"] = rows["operators.sessionize"]["max_cluster"] + 1
    m["detectors.hits"] = rows["detectors"]["hits"]

    # 2. the operation with a span around each public call; its own
    # counters are the whole run's
    with tr.span("triage.op") as op_rec:
        with session.materialized_scope():
            with tr.span("engine.plan") as rec:
                scored, errors = engine.build_pipeline(spark, w.paths)
                _plan(scored)
            m["engine.plan_s"] = rec["wall_s"]
            with tr.span("render.store_write") as rec:
                write_parquet_store(scored, w.store)
            # under AQE each shuffle stage is a job of its own; the last
            # job is the stage that writes the files
            m["render.store_write_s"] = rec["last_job_s"]
            with tr.span("triage.present"):
                table = render_table(
                    display_projection(engine.query(scored, risk_score=TRIAGE_RISK)),
                    max_rows=MAX_ROWS,
                )
            with tr.span("errors.count"):
                n_errors = errors.count()
    problems = w.check(table, n_errors)
    if problems:
        raise RuntimeError(f"traced triage op failed its checks: {problems}")
    m.update(tr.whole_run("triage", op_rec))
    m["sources.logparse.reads_per_line"] = op_rec["input_records"] / w.truth.lines
    return m


def trace_hunt(tr: Tracer, w: Hunt) -> dict:
    """One round with a span around each call. Expects the store to be
    written already, by a triage operation that also warmed the query
    path."""
    from webloghunter_spark.engine import query
    from webloghunter_spark.render import display_projection, render_table

    spark = tr.spark
    w.load_store(spark)
    per_query = []
    with tr.span("hunt.round") as round_rec:
        for _ in range(w.round_ops):
            i = w.next % len(w.queries)
            w.next += 1
            with tr.span("hunt.query") as q_rec:
                with tr.span("operators.filters.plan") as plan:
                    result = query(w.scored, **w.queries[i])
                    _plan(result)
                with tr.span("render.projection") as proj_rec:
                    proj = display_projection(result)
                with tr.span("render.table") as table_rec:
                    table = render_table(proj, max_rows=MAX_ROWS)
            n = w.expected[i]
            if rendered_rows(table) != (min(n, MAX_ROWS), n > MAX_ROWS):
                raise RuntimeError(f"traced hunt query {i} failed its check")
            per_query.append((plan["wall_s"], proj_rec["wall_s"], table_rec["wall_s"],
                              q_rec["jobs"], q_rec["input_mb"], min(n, MAX_ROWS)))
    plan_s, proj_s, table_s, jobs, input_mb, rows = zip(*per_query)
    m = {
        "operators.filters.plan_s": statistics.median(plan_s),
        "render.projection_s": statistics.median(proj_s),
        "render.table_s": statistics.median(table_s),
        "hunt.jobs_per_query": sum(jobs) / len(jobs),
        "hunt.input_mb_per_query": sum(input_mb) / len(input_mb),
        "hunt.rows_returned": sum(rows),
    }
    m.update(tr.whole_run("hunt", round_rec))
    return m


def trace_curate(tr: Tracer, w: Curate) -> dict:
    """Warm-up op, then whole-op counters and the funnel's per-stage
    walls and rows."""
    import webloghunter_spark.pipelines.curate as curate_mod
    import webloghunter_spark.session as session

    spark = tr.spark
    m: dict = {}
    with tr.span("curate.warm_up"):
        must_pass(w.op(spark), "curate warm-up")
    real_settle = session.settle
    calls = []
    boundaries = []

    def counting_settle(*args, **kwargs):
        calls.append(1)
        return real_settle(*args, **kwargs)

    def boundary_settle(*args, **kwargs):
        out = counting_settle(*args, **kwargs)
        boundaries.append(time.perf_counter())
        return out

    # every module-level alias of session.settle counts; curate_corpus's
    # own calls also mark the funnel's stage boundaries
    aliases = [mod for n, mod in list(sys.modules.items())
               if n.startswith("webloghunter_spark") and mod is not None
               and getattr(mod, "settle", None) is real_settle and mod is not curate_mod]
    for mod in aliases:
        mod.settle = counting_settle
    try:
        with patched(curate_mod, "settle", boundary_settle):
            with tr.span("curate.op") as op_rec, session.materialized_scope():
                out, funnel = w.run_curate(spark)
                ids = sorted(r[0] for r in out.select("doc_id").collect())
    finally:
        for mod in aliases:
            mod.settle = real_settle
    if ids != w.expected:
        raise RuntimeError("traced curate op failed its check")
    stages = [name for name, _, _ in funnel]
    walls = [b - a for a, b in zip(boundaries, boundaries[1:])]
    names = {
        "quality_gate": ("pipelines.gate.wall_s", "pipelines.gate.rows_out"),
        "normalized_dedup": ("pipelines.dedup.exact_s", "pipelines.dedup.exact_rows_out"),
        "near_dedup": ("pipelines.dedup.near_s", "pipelines.dedup.near_rows_out"),
        "containment_drop": ("pipelines.dedup.containment_s",
                             "pipelines.dedup.containment_rows_out"),
        "decontaminate": ("pipelines.decontam.wall_s", "pipelines.decontam.rows_out"),
    }
    for (stage, _, rows_out), wall in zip(funnel, walls):
        wall_name, rows_name = names[stage]
        m[wall_name] = wall
        m[rows_name] = rows_out
    if len(walls) != len(stages):
        raise RuntimeError(f"{len(boundaries)} stage boundaries for stages {stages}")
    m["session.settle.count"] = len(calls)
    m.update(tr.whole_run("curate", op_rec))
    return m
