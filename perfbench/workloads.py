"""The benchmark's workloads: seeded inputs, timed operations, checks.

Each workload is an object built from a work directory, a seed and a
size. `prepare()` writes the inputs and computes what it can of the
expected output without Spark; `warm_up(spark)` does the rest of the
set-up and runs untimed operations; `op(spark)` runs one operation the
way a user runs it and returns an `OpResult`: its wall time, the CPU
time it cost the whole process tree, and whether the output matched.
Timed operations come in whole rounds of `round_ops`, at least
`min_rounds` of them.

- `Hunt`: one analyst's seeded filter queries over the parquet store a
  triage pipeline wrote (query, display_projection, render_table), each
  checked against a DuckDB count of the same predicate over the store.
- `Curate`: curate_corpus with the registry's curate_pipeline settings on
  the 4x no-neardup documents fixture, checked id-for-id against the
  SQL_CURATE_PIPELINE DuckDB oracle.

`Triage`, the CLI lifecycle over seeded access logs (build_pipeline,
write_parquet_store, query(risk_score=40), display_projection,
render_table(max_rows=1000), errors.count()) checked against the
generator's planted truth, writes the hunt store and is what the traced
run splits into layers.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import duckdb

import docgen
import loggen

MAX_ROWS = 1000
TRIAGE_RISK = 40


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    ok: bool
    problems: list[str] = field(default_factory=list)


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, of this process and every process
    under it (the JVM and Spark's Python workers), reaped children
    included."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fp:
                f = fp.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICKS


class OpClock:
    """Wall time and process-tree CPU time of the block it wraps."""

    wall_s = cpu_s = 0.0

    def __enter__(self):
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0


def _expect(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


def must_pass(res: OpResult, what: str) -> None:
    if not res.ok:
        raise RuntimeError(f"{what} failed its checks: {res.problems}")


def rendered_rows(table: str) -> tuple[int, bool]:
    """(data rows, truncated) of a render_table string. A row's first
    line has a non-empty first cell; wrapped continuation lines do not."""
    lines = table.splitlines()
    truncated = bool(lines) and lines[-1].startswith("(output truncated")
    body = [ln for ln in lines if ln.startswith("| ")][1:]  # drop the header
    strip = re.compile(r"\x1b\[[0-9;]*m")
    rows = sum(1 for ln in body if strip.sub("", ln)[2:].split("|", 1)[0].strip())
    return rows, truncated


def _ignored_extension_sql() -> str:
    """DuckDB form of apply_filters' default static-extension exclusion."""
    from webloghunter_spark.operators.filters import DEFAULT_IGNORE_EXTENSIONS

    ext = "|".join(re.escape(e) for e in DEFAULT_IGNORE_EXTENSIONS)
    return f"regexp_matches(lower(split_part(request_uri, '?', 1)), '({ext})$')"


def _store_sql(store: str) -> str:
    return f"read_parquet('{store}/*/*.parquet', hive_partitioning = true)"


class Triage:
    name = "triage"

    def __init__(self, work_dir: str, seed: int, lines: int, files: int = 8):
        self.seed = seed
        self.lines = lines
        self.files = files
        self.log_dir = os.path.join(work_dir, "logs")
        self.store = os.path.join(work_dir, "store")
        self.truth: loggen.Truth | None = None

    def prepare(self) -> None:
        shutil.rmtree(self.log_dir, ignore_errors=True)
        self.truth = loggen.generate(self.log_dir, self.seed, self.lines, self.files)
        self.paths = sorted(glob.glob(os.path.join(self.log_dir, "*.log")))

    def op(self, spark) -> OpResult:
        from webloghunter_spark.engine import build_pipeline, query
        from webloghunter_spark.render import (
            display_projection,
            render_table,
            write_parquet_store,
        )
        from webloghunter_spark.session import materialized_scope

        with OpClock() as clock, materialized_scope():
            scored, errors = build_pipeline(spark, self.paths)
            write_parquet_store(scored, self.store)
            table = render_table(
                display_projection(query(scored, risk_score=TRIAGE_RISK)),
                max_rows=MAX_ROWS,
            )
            n_errors = errors.count()
        problems = self.check(table, n_errors)
        return OpResult(clock.wall_s, clock.cpu_s, not problems, problems)

    def check(self, table: str, n_errors: int) -> list[str]:
        """Compare one triage run with the planted truth and with an
        independent DuckDB count over the store it wrote."""
        from webloghunter_spark.detectors.burst import BURST_RULE_TITLE

        t = self.truth
        problems: list[str] = []
        _expect(problems, "unparseable lines", n_errors, t.garbage)
        con = duckdb.connect()
        try:
            rows, ds01, burst, risky = con.execute(
                f"""SELECT count(*),
                           count(*) FILTER (WHERE tool = 'DS01'),
                           count(*) FILTER (WHERE rule_applied = ?),
                           count(*) FILTER (WHERE risk_score >= {TRIAGE_RISK}
                                            AND NOT {_ignored_extension_sql()})
                    FROM {_store_sql(self.store)}""",
                [BURST_RULE_TITLE],
            ).fetchone()
        finally:
            con.close()
        _expect(problems, "stored rows", rows, t.rows_after_dedup)
        _expect(problems, "DirSearch stamps", ds01, t.dirsearch_stamps)
        _expect(problems, "burst-success rows", burst, t.burst_success_rows)
        _expect(problems, "rendered rows", rendered_rows(table),
                (min(risky, MAX_ROWS), risky > MAX_ROWS))
        return problems


def hunt_queries(seed: int, truth: loggen.Truth, n: int = 40) -> list[dict]:
    """`n` seeded `query()` keyword sets over the triage store.

    Eight kinds in a fixed rotation, so every run has the same mix
    whatever its seed; the seed picks the IPs, windows and paths.
    Selective: a scanner IP, tool_focus, a 15-minute time window, a
    burst IP's 500s. Broad: risk_score thresholds, a user-agent
    exclusion, a path keyword. Result sizes depend little on the seed.
    """
    rng = random.Random(seed * 7919 + 17)

    def window() -> dict:
        a = truth.start_epoch + rng.randrange(loggen.SPAN_S - 900)
        fmt = "%Y-%m-%d %H:%M:%S"
        return {"start_time": time.strftime(fmt, time.gmtime(a)),
                "end_time": time.strftime(fmt, time.gmtime(a + 900))}

    kinds = [
        lambda: {"ip_include": [loggen.scan_ip(rng.randrange(truth.files))]},
        lambda: {"risk_score": TRIAGE_RISK},
        lambda: {"tool_focus": True},
        lambda: {"ignore_useragent_keyword": ["Mozilla"]},
        window,
        lambda: {"risk_score": 60, "method_include": ["GET", "POST"]},
        lambda: {"ip_include": [loggen.burst_ip(rng.randrange(truth.files))],
                 "status_include": [500], "uripath_keyword": [loggen.BURST_URI]},
        lambda: {"uripath_keyword": [rng.choice(loggen.PATHS[1:20])], "status_ignore": [404]},
    ]
    return [kinds[i % len(kinds)]() for i in range(n)]


def hunt_count_sql(store: str, q: dict) -> str:
    """An independent DuckDB count of the rows `query(**q)` returns."""
    conds = [f"NOT {_ignored_extension_sql()}"]

    def quoted(values) -> str:
        return ", ".join("'" + str(v).replace("'", "''") + "'" for v in values)

    for key, value in q.items():
        if key == "ip_include":
            conds.append(f"ip IN ({quoted(value)})")
        elif key == "risk_score":
            conds.append(f"risk_score >= {value}")
        elif key == "method_include":
            conds.append(f"method IN ({quoted(value)})")
        elif key == "status_include":
            conds.append(f"status IN ({', '.join(map(str, value))})")
        elif key == "status_ignore":
            conds.append(f"status NOT IN ({', '.join(map(str, value))})")
        elif key == "uripath_keyword":
            conds.append(" OR ".join(f"contains(request_uri, {quoted([v])})" for v in value))
        elif key == "ignore_useragent_keyword":
            conds.append(" AND ".join(f"NOT contains(user_agent, {quoted([v])})" for v in value))
        elif key == "start_time":
            conds.append(f"utc_timestamp >= TIMESTAMP '{value}'")
        elif key == "end_time":
            conds.append(f"utc_timestamp <= TIMESTAMP '{value}'")
        elif key != "tool_focus":
            raise ValueError(f"no DuckDB form for filter {key!r}")
    where = " AND ".join(f"({c})" for c in conds)
    rel = _store_sql(store)
    if not q.get("tool_focus"):
        return f"SELECT count(*) FROM {rel} WHERE {where}"
    # first and last row in time of each (source, ip, tool) with a tool tag
    return f"""SELECT count(*) FROM (
        SELECT row_number() OVER (PARTITION BY source, ip, tool ORDER BY utc_timestamp) AS a,
               row_number() OVER (PARTITION BY source, ip, tool
                                  ORDER BY utc_timestamp DESC) AS d
        FROM {rel} WHERE {where} AND tool != '') WHERE a = 1 OR d = 1"""


class Hunt:
    """Seeded filter queries over a store written by the triage pipeline.

    Set-up runs the pipeline into the parquet store, counts each query's
    expected rows with DuckDB and runs one untimed round. One operation
    is one query: `query`, `display_projection`, `render_table`. Queries
    run in the seeded order, cycling; a round is one query of each kind.
    """

    name = "hunt"
    round_ops = 8
    min_rounds = 2

    def __init__(self, work_dir: str, seed: int, lines: int, files: int = 8):
        self.triage = Triage(work_dir, seed, lines, files)
        self.seed = seed
        self.queries: list[dict] = []
        self.expected: list[int] = []
        self.next = 0
        self.scored = None

    @property
    def store(self) -> str:
        return self.triage.store

    def prepare(self) -> None:
        self.triage.prepare()
        self.queries = hunt_queries(self.seed, self.triage.truth)

    def write_store(self, spark) -> None:
        from webloghunter_spark.engine import build_pipeline
        from webloghunter_spark.render import write_parquet_store
        from webloghunter_spark.session import materialized_scope

        with materialized_scope():
            scored, _errors = build_pipeline(spark, self.triage.paths)
            write_parquet_store(scored, self.store)

    def load_store(self, spark) -> OpClock:
        """Open the store for querying and count each query's expected
        rows with DuckDB; return the time the counts took."""
        self.scored = spark.read.parquet(self.store)
        with OpClock() as oracle:
            con = duckdb.connect()
            try:
                self.expected = [con.execute(hunt_count_sql(self.store, q)).fetchone()[0]
                                 for q in self.queries]
            finally:
                con.close()
        return oracle

    def warm_up(self, spark) -> OpClock:
        """Write the store, load it, run one round; return the time spent
        on the DuckDB oracle (not set-up proper)."""
        self.write_store(spark)
        oracle = self.load_store(spark)
        for _ in range(self.round_ops):
            must_pass(self.op(spark), "warm-up query")
        return oracle

    def op(self, spark) -> OpResult:
        from webloghunter_spark.engine import query
        from webloghunter_spark.render import display_projection, render_table

        i = self.next % len(self.queries)
        self.next += 1
        with OpClock() as clock:
            table = render_table(display_projection(query(self.scored, **self.queries[i])),
                                 max_rows=MAX_ROWS)
        problems: list[str] = []
        n = self.expected[i]
        _expect(problems, f"query {i} {json.dumps(self.queries[i])} rendered rows",
                rendered_rows(table), (min(n, MAX_ROWS), n > MAX_ROWS))
        return OpResult(clock.wall_s, clock.cpu_s, not problems, problems)


class Curate:
    name = "curate"
    round_ops = 2
    min_rounds = 1

    def __init__(self, work_dir: str, seed: int, base_docs: int, copies: int = 4):
        self.seed = seed
        self.base_docs = base_docs
        self.copies = copies
        self.path = os.path.join(work_dir, "documents.parquet")
        # the seed also picks the eval set's residue class mod 50
        self.eval_residue = random.Random(seed).randrange(50)
        self.expected: list[int] = []
        self.docs = 0

    def prepare(self) -> None:
        self.docs = docgen.generate(self.path, self.seed, self.base_docs, self.copies)
        self.expected = docgen.oracle_ids(self.path, self.eval_residue)

    def warm_up(self, spark) -> OpClock:
        must_pass(self.op(spark), "warm-up operation")
        return OpClock()  # the oracle ran in prepare()

    def run_curate(self, spark):
        """(survivors, funnel) of curate_corpus on the fixture; lazy
        survivors, eager stages (settle)."""
        from pyspark.sql import functions as F

        from webloghunter_spark.benchqueries import _fan
        from webloghunter_spark.pipelines.curate import curate_corpus

        docs = _fan(spark.read.parquet(self.path))
        ev = docs.filter(F.col("doc_id") % 50 == self.eval_residue)
        tr = docs.filter(F.col("doc_id") % 50 != self.eval_residue)
        return curate_corpus(tr, eval_df=ev, **docgen.CURATE_KWARGS)

    def op(self, spark) -> OpResult:
        from webloghunter_spark.session import materialized_scope

        with OpClock() as clock, materialized_scope():
            out, _funnel = self.run_curate(spark)
            ids = sorted(r[0] for r in out.select("doc_id").collect())
        problems: list[str] = []
        if ids != self.expected:
            missing = sorted(set(self.expected) - set(ids))[:5]
            extra = sorted(set(ids) - set(self.expected))[:5]
            problems.append(f"survivors: {len(ids)} ids, oracle {len(self.expected)}; "
                            f"missing {missing}, extra {extra}")
        return OpResult(clock.wall_s, clock.cpu_s, not problems, problems)
