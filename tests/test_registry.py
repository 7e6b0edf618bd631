"""Driver-contract invariants over the whole query registry.

The driver canonicalizes results pandas-side: rows are sorted and
hashed, so a top-level array/map/struct column is unhashable there and
ERRs the correctness row even when values are right (round 3's
quantize_emb).  This test analyzes every registered query's schema —
plan-only, no execution — and rejects complex top-level columns.
"""

import hashlib
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
MANIFEST = Path(__file__).with_name("registry_manifest.txt")

# Registry names whose plan holds a Window with no partition spec (all
# rows move to one partition), by library site. Each one runs over a
# small frame; a name missing here is a new single-partition window.
UNPARTITIONED_WINDOWS = {
    # operators/outliers.py ecdf_bp: over the value histogram
    "quality_ecdf",
    # pipelines/shard.py shard_balance: token total over the shard rows
    "shard_balance",
    # pipelines/dedup.py dup_source_matrix: pair total over source pairs
    "dup_source_matrix", "source_scorecard",
    # functions/text.py bm25_drift: rank over each top-k limit
    "bm25_drift",
    # pipelines/select.py: rank over a top-k token limit
    "tail_index", "vocab_coverage", "zipf_fit",
}


def test_all_queries_have_oracle_or_documented_skip():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = set(qs) - set(oracles)
    # every query is expected to carry an oracle; a deliberate omission
    # (non-SQL-expressible op) must be added here explicitly
    assert missing == set(), f"queries without oracle_sql: {sorted(missing)}"
    orphans = set(oracles) - set(qs)
    assert orphans == set(), f"oracles without queries: {sorted(orphans)}"


# retired twin name -> the survivor whose builder it must share
RETIRED_TWINS = {
    "doc_fingerprint_fast": "doc_fingerprint",
    "winnow_fingerprints_fast": "winnow_fingerprints",
    "semantic_dedup_fast": "semantic_dedup",
    "containment_pairs_hashed": "containment_pairs",
    "tfidf_topk_salted": "tfidf_topk",
}


@pytest.mark.parametrize("alias", sorted(RETIRED_TWINS))
def test_retired_twin_names_route_to_survivor(alias):
    """Each operator has one implementation: a retired twin's registry
    name stays (the driver tracks names) but runs the survivor's
    builder, so a second physical path cannot return under it."""
    from webloghunter_spark.benchqueries import QUERIES

    assert QUERIES[alias] is QUERIES[RETIRED_TWINS[alias]]


def test_registry_matches_manifest():
    """The registry's names, their order (the driver samples the first
    50) and each name's oracle text, against the committed manifest."""
    from webloghunter_spark.benchqueries import ORACLES, QUERIES

    expected = [
        tuple(line.split("  ")[::-1])
        for line in MANIFEST.read_text().splitlines()
        if not line.startswith("#")
    ]
    got = [(name, hashlib.sha256(ORACLES[name].encode()).hexdigest()) for name in QUERIES]
    assert [n for n, _ in got] == [n for n, _ in expected]
    assert got == expected


def _has_unpartitioned_window(plan) -> bool:
    """Whether a JVM plan tree, walked into cached relations, adaptive
    plans and query stages, holds a Window with no partition spec."""

    def seq(s):
        return [s.apply(i) for i in range(s.length())]

    seen, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node.hashCode() in seen:
            continue
        seen.add(node.hashCode())
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            return True
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            inner = [node.executedPlan()]
        elif kind.endswith("QueryStageExec"):
            inner = [node.plan()]
        elif kind == "ReusedExchangeExec":
            inner = [node.child()]
        else:
            inner = seq(node.innerChildren())
        stack += seq(node.children()) + inner
    return False


def test_no_complex_toplevel_columns(spark):
    """Schema sweep: driver canon requires scalar columns.

    Mostly plan analysis, but NOT execution-free: several kNN-family
    builders collect() their query vector / centroids during
    construction, so this runs small Spark jobs against SF_DIR. Each
    builder runs in its own materialized_scope(), and Spark's cache
    must be empty once the scope exits: a frame a builder persists
    outside materialize() is owned by no run and outlives it.

    The same sweep collects the names whose optimized plan, with the
    plans of the frames it reads from the cache, has a Window with an
    empty partition spec. Stages a builder settled (checkpointed) are
    not in the plan."""
    from webloghunter_spark.session import materialized_scope

    cache = spark._jsparkSession.sharedState().cacheManager()
    bad, unpartitioned, leaked = {}, set(), []
    for name, fn in entrymod.queries().items():
        with materialized_scope():
            df = fn(spark, SF_DIR)
            schema = df.schema
            plan = df._jdf.queryExecution().optimizedPlan()
        if not cache.isEmpty():
            leaked.append(name)
            spark.catalog.clearCache()  # judge the next name on its own
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
        if _has_unpartitioned_window(plan):
            unpartitioned.add(name)
    assert bad == {}, f"complex top-level columns break driver canon: {bad}"
    assert unpartitioned == UNPARTITIONED_WINDOWS
    assert leaked == [], f"cache entries outlive their builder's run: {leaked}"


def test_registry_tools_run_in_process(spark, monkeypatch, capsys, tmp_path):
    """tools/check_hash.py and tools/dump_plans.py on a settled funnel
    (curate_pipeline) and a builder that materializes its input
    (filter_api): the strict check passes, every plan is written, and
    each query's run releases its cache."""
    import sys

    import webloghunter_spark.session as session
    from tools import check_hash, dump_plans

    names = ["curate_pipeline", "filter_api"]
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(dump_plans, "get_spark", lambda **_: spark)
    cache = spark._jsparkSession.sharedState().cacheManager()

    monkeypatch.setattr(sys, "argv", ["check_hash.py", SF_DIR, *names])
    assert check_hash.main() == 0
    out = capsys.readouterr().out
    assert sorted(l.split()[1] for l in out.splitlines() if l.startswith("PASS")) == names
    assert out.rstrip().endswith("ALL PASS")
    assert cache.isEmpty()

    monkeypatch.setattr(sys, "argv", ["dump_plans.py", str(tmp_path), SF_DIR, *names])
    assert dump_plans.main() == 0
    for name in names:
        plan = (tmp_path / f"{name}.txt").read_text()
        assert plan.startswith("== Physical Plan ==")
    assert cache.isEmpty()


def test_bench_isolates_failing_query(spark, monkeypatch, capsys, tmp_path):
    """One failing query must not kill the bench run (round 3 lost its
    whole bench gate to a single AnalysisException)."""
    import bench
    import webloghunter_spark.benchqueries as bq

    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    monkeypatch.setitem(bq.QUERIES, "__boom__", boom)
    monkeypatch.setenv("WLH_BENCH_QUERIES", "train_split,__boom__")
    monkeypatch.setenv("WLH_BENCH_REPEATS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("WLH_BENCH_RUNS_PATH", str(tmp_path / "runs.json"))
    rc = bench.main()
    out = capsys.readouterr().out
    import json
    import os

    line = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert rc == 0
    # round 6: the stdout line is SUMMARY-ONLY (two rounds of driver
    # artifacts went unparseable from inlined per-query numbers);
    # per-query medians live in BENCH_runs.json
    assert "queries" not in line
    assert line["completed"] == 1
    assert line["failed"] == ["__boom__"]
    assert "injected failure" in line["errors"]["__boom__"]
    side = json.load(open(tmp_path / "runs.json"))
    assert side["queries"]["train_split"] is not None
    assert side["queries"]["__boom__"] is None


def test_bench_stdout_line_is_bounded_and_parseable(
    spark, monkeypatch, capsys, tmp_path
):
    """THE recurring round-4/5 failure: the driver tail-captures the
    last stdout line, and any per-query payload makes it grow with the
    registry until it truncates unparseable. Pin the contract: the
    line is summary-only, parseable, and small regardless of how many
    queries ran."""
    import json

    import bench

    monkeypatch.setenv("WLH_BENCH_QUERIES", "train_split,dedup_exact")
    monkeypatch.setenv("WLH_BENCH_REPEATS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("WLH_BENCH_RUNS_PATH", str(tmp_path / "runs.json"))
    rc = bench.main()
    out = capsys.readouterr().out
    line = [l for l in out.splitlines() if l.startswith("{")][-1]
    assert rc == 0
    parsed = json.loads(line)
    assert "queries" not in parsed and "runs" not in parsed
    assert set(parsed) <= {
        "metric", "value", "unit", "sf", "repeats",
        "completed", "failed", "errors",
    }
    # hard ceiling: even a 1000-query registry's summary fits a tail
    # capture (failed-name lists are the only registry-sized field,
    # and only on systemic failure)
    assert len(line) < 2000


def test_oracles_bind_flat_and_use_the_java_whitespace_class():
    """Fast oracle guard, no execution: every oracle binds in DuckDB
    over the fixture views (a broken fragment composition fails here,
    not in the full hash sweep), renders at most one WITH list, and
    spells whitespace as _WS — RE2's bare \\s/\\S omit \\x0b, which
    Spark's Java \\s includes."""
    import re

    import duckdb

    from tools.check_hash import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    unbound, nested, bare_ws = {}, [], []
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"DESCRIBE {sql}")
        except duckdb.Error as e:
            unbound[name] = str(e).splitlines()[0]
        if len(re.findall(r"\bWITH\b", sql)) > 1:
            nested.append(name)
        if re.search(r"\\[sS]", sql):
            bare_ws.append(name)
    assert unbound == {}
    assert nested == []
    assert bare_ws == []


# contam_matrix's two count-distincts, as two JVM runs plan them: the
# distinct groups' order follows expression-id hashes.
_EXPAND_GRAM_FIRST = """\
(88) Expand
Input [3]: [_gram#, doc_id#L, eval_set#]
Arguments: [[eval_set#, _gram#, null, 1], [eval_set#, null, doc_id#L, 2]], [eval_set#, _gram#, doc_id#L, gid#]

(89) HashAggregate
Input [4]: [eval_set#, _gram#, doc_id#L, gid#]
Keys [4]: [eval_set#, _gram#, doc_id#L, gid#]

(90) Exchange
Arguments: hashpartitioning(eval_set#, _gram#, doc_id#L, gid#, 4), ENSURE_REQUIREMENTS, [plan_id=]

(92) HashAggregate
Functions [2]: [partial_count(_gram#) FILTER (WHERE (gid# = 1)), partial_count(doc_id#L) FILTER (WHERE (gid# = 2))]
"""
_EXPAND_DOC_FIRST = """\
(88) Expand
Input [3]: [_gram#, doc_id#L, eval_set#]
Arguments: [[eval_set#, doc_id#L, null, 1], [eval_set#, null, _gram#, 2]], [eval_set#, doc_id#L, _gram#, gid#]

(89) HashAggregate
Input [4]: [eval_set#, doc_id#L, _gram#, gid#]
Keys [4]: [eval_set#, doc_id#L, _gram#, gid#]

(90) Exchange
Arguments: hashpartitioning(eval_set#, doc_id#L, _gram#, gid#, 4), ENSURE_REQUIREMENTS, [plan_id=]

(92) HashAggregate
Functions [2]: [partial_count(_gram#) FILTER (WHERE (gid# = 2)), partial_count(doc_id#L) FILTER (WHERE (gid# = 1))]
"""


def test_normalize_orders_distinct_expand_groups():
    """Both orders of a distinct-aggregate Expand normalize to one text,
    the name-ordered one; a rollup's Expand, whose grouping id is a bit
    mask, is left as it is."""
    from tools.dump_plans import normalize

    assert normalize(_EXPAND_DOC_FIRST) == _EXPAND_GRAM_FIRST
    assert normalize(_EXPAND_GRAM_FIRST) == _EXPAND_GRAM_FIRST
    rollup = (
        "Arguments: [[h#, null, 1], [null, d#, 2], [null, null, 3]], "
        "[h#, d#, spark_grouping_id#L]\n"
        "Keys [3]: [h#, d#, spark_grouping_id#L]\n"
    )
    assert normalize(rollup) == rollup
