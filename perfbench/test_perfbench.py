"""The benchmark's own tests: generators, toy-size workloads, checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests start one local session (a few minutes in all).
"""

from __future__ import annotations

import dataclasses
import filecmp
import os
import subprocess
import sys

import duckdb
import pytest

import docgen
import loggen
import run
import tracing
from workloads import MAX_ROWS, Curate, Hunt, OpClock, hunt_queries, rendered_rows

TOY_LINES = 3000
TOY_BASE_DOCS = 100


def test_loggen_same_seed_same_bytes(tmp_path):
    a = loggen.generate(str(tmp_path / "a"), seed=7, lines=3000)
    b = loggen.generate(str(tmp_path / "b"), seed=7, lines=3000)
    c = loggen.generate(str(tmp_path / "c"), seed=8, lines=3000)
    assert a == b
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == a.files == 8
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert any(not filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False)
               for n in names)


def test_loggen_truth_adds_up(tmp_path):
    t = loggen.generate(str(tmp_path), seed=3, lines=4000, files=4)
    text = "".join((tmp_path / n).read_text() for n in sorted(os.listdir(tmp_path)))
    assert text.count("\n") == t.lines
    assert text.count("malformed request") == t.garbage
    assert t.rows_after_dedup == t.lines - t.garbage - t.cross_dups
    assert t.dirsearch_stamps == 6 * 4 and t.burst_success_rows == 4


def test_hunt_queries_mix_selective_and_broad(tmp_path):
    t = loggen.generate(str(tmp_path), seed=2, lines=TOY_LINES)
    qs = hunt_queries(2, t)
    assert qs == hunt_queries(2, t) and len(qs) == 40
    kinds = [frozenset(q) for q in qs]
    assert kinds[:8] == kinds[8:16] and len(set(kinds)) == 8
    assert {"tool_focus"} in kinds and {"start_time", "end_time"} in kinds
    assert {"ignore_useragent_keyword"} in kinds and {"risk_score"} in kinds


def test_docgen_same_seed_same_rows(tmp_path):
    sql = "SELECT doc_id, text, lang, source, n_chars FROM '{}' ORDER BY doc_id"
    rows = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        path = str(tmp_path / f"{name}.parquet")
        assert docgen.generate(path, seed, base_docs=60) == 240
        rows.append(duckdb.sql(sql.format(path)).fetchall())
    assert rows[0] == rows[1] != rows[2]


def test_oracle_materialized_ctes_keep_the_result(tmp_path):
    path = str(tmp_path / "d.parquet")
    docgen.generate(path, 4, base_docs=80)
    fast = docgen.oracle_ids(path, 13)
    assert fast and fast == docgen.oracle_ids(path, 13, materialized=False)


def test_rendered_rows_counts_wrapped_and_colored_rows():
    table = "\n".join([
        "+----+----+", "| source | ip |", "+----+----+",
        "| \x1b[1;34ma.log\x1b[0m | 1.2.3.4 |",
        "|       | continued |",
        "| b.log | 5.6.7.8 |",
        "+----+----+", "(output truncated at 2 rows)",
    ])
    assert rendered_rows(table) == (2, True)


def test_op_clock_counts_child_cpu():
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    with OpClock() as clock:
        subprocess.run([sys.executable, "-c", spin], check=True)
    assert clock.cpu_s >= 0.25
    assert clock.wall_s >= 0.25


def test_union_of_job_intervals():
    assert tracing._union([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert tracing._union([(1, 3)], 2, 10) == 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    run.prepare_env(work)
    session = run.start_session(work)
    yield session
    run.stop_session(session)


@pytest.fixture(scope="module")
def hunt(spark, tmp_path_factory):
    w = Hunt(str(tmp_path_factory.mktemp("hunt")), seed=1, lines=TOY_LINES)
    w.prepare()
    return w


@pytest.fixture(scope="module")
def triage(hunt):
    return hunt.triage


@pytest.fixture(scope="module")
def curate(spark, tmp_path_factory):
    w = Curate(str(tmp_path_factory.mktemp("curate")), seed=1, base_docs=TOY_BASE_DOCS)
    w.prepare()
    return w


def test_triage_runs_at_toy_size(spark, triage):
    res = triage.op(spark)
    assert res.ok, res.problems
    assert res.wall_s > 0


def test_triage_wrong_expected_count_fails(spark, triage):
    good = triage.truth
    triage.truth = dataclasses.replace(good, garbage=good.garbage + 1)
    try:
        res = triage.op(spark)
    finally:
        triage.truth = good
    assert not res.ok
    assert any("unparseable lines" in p for p in res.problems)


def test_hunt_runs_at_toy_size(spark, hunt):
    hunt.warm_up(spark)  # raises when a warm-up query fails its check
    for _ in range(hunt.round_ops):
        res = hunt.op(spark)
        assert res.ok, res.problems


def test_hunt_wrong_expected_count_fails(spark, hunt):
    i = hunt.next % len(hunt.queries)
    hunt.expected[i] += 1
    try:
        res = hunt.op(spark)
    finally:
        hunt.expected[i] -= 1
    assert not res.ok
    assert any("rendered rows" in p for p in res.problems)


def test_curate_runs_at_toy_size(spark, curate):
    res = curate.op(spark)
    assert res.ok, res.problems
    assert curate.docs == 4 * TOY_BASE_DOCS


def test_curate_wrong_expected_ids_fail(spark, curate):
    good = curate.expected
    curate.expected = good[1:]
    try:
        res = curate.op(spark)
    finally:
        curate.expected = good
    assert not res.ok


def test_traced_pass_reports_every_layer(spark, hunt, curate):
    import json

    tr = tracing.Tracer(spark, run.cores())
    start = hunt.next
    metrics = {**tracing.trace_triage(tr, hunt.triage), **tracing.trace_hunt(tr, hunt),
               **tracing.trace_curate(tr, curate)}
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fp:
        wanted = {m["name"] for m in json.load(fp)["per_layer"]}
    assert wanted <= set(metrics)
    truth = hunt.triage.truth
    assert metrics["operators.dedup.rows_dropped"] == truth.cross_dups
    assert metrics["detectors.hits"] == truth.dirsearch_stamps + truth.burst_success_rows
    round_ids = [(start + k) % len(hunt.queries) for k in range(hunt.round_ops)]
    assert metrics["hunt.rows_returned"] == sum(min(hunt.expected[i], MAX_ROWS) for i in round_ids)
    assert metrics["pipelines.decontam.rows_out"] == len(curate.expected)
    assert metrics["session.settle.count"] >= 6
