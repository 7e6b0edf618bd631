"""The triage pipeline reads each input line once: one parse feeds the
scored entries, the errors side-channel and sessionize's group table."""

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from test_pipeline_e2e import logdir  # noqa: F401  (the e2e log fixture)

from webloghunter_spark.engine import build_pipeline
from webloghunter_spark.render import write_parquet_store
from webloghunter_spark.session import materialized_scope


# Reads of cached rows count one input record per cached batch, not per
# row: 16 in one triage run over the e2e fixture's 10 lines. Its files
# are repeated so that one extra read of every line stands out.
COPIES = 50


@pytest.fixture(scope="module")
def repeated_logdir(logdir, tmp_path_factory):  # noqa: F811
    d = tmp_path_factory.mktemp("repeated_logs")
    for p in glob.glob(os.path.join(logdir, "*")):
        with open(p) as fp:
            text = fp.read()
        (d / os.path.basename(p)).write_text(text * COPIES)
    return str(d)


def _input_records(spark, group: str) -> int:
    """Input records of every completed stage run under job `group`."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        ids = store.job(jid).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    total = 0
    for sid in stages:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:
            # Past spark.ui.retainedStages the store evicts skipped
            # stages first (they have no completion time); a skipped
            # stage read nothing.
            continue
        if s.status().toString() == "COMPLETE":
            total += s.inputRecords()
    return total


def test_triage_reads_each_line_once(spark, repeated_logdir, tmp_path):
    """build_pipeline, the store write and errors.count() read the input
    about once, cached-batch reads included; a second parse of every
    line would not fit under the bound."""
    lines = 0
    for p in glob.glob(os.path.join(repeated_logdir, "*")):
        with open(p) as fp:
            lines += len(fp.read().splitlines())
    sc = spark.sparkContext
    sc.setJobGroup("triage-reads", "triage-reads")
    try:
        with materialized_scope():
            scored, errors = build_pipeline(spark, repeated_logdir)
            write_parquet_store(scored, str(tmp_path / "store"))
            assert errors.count() == COPIES
    finally:
        sc._jsc.clearJobGroup()
    assert _input_records(spark, "triage-reads") < 1.5 * lines


def test_score_barrier_is_the_first_materialize_lookup(spark, logdir, monkeypatch):  # noqa: F811
    """perfbench's layer trace cuts build_pipeline at the first call made
    through the `session.materialize` attribute and reads the frame it
    gets as the rule engine's output (rules.sigma). The parse and
    session barriers bind `materialize` at import, so that first call
    is still score's, on the scored frame."""
    import webloghunter_spark.session as session

    class Cut(Exception):
        pass

    def cut(df, *args, **kwargs):
        raise Cut(df.columns)

    monkeypatch.setattr(session, "materialize", cut)
    with materialized_scope(), pytest.raises(Cut) as got:
        build_pipeline(spark, logdir)
    columns = got.value.args[0]
    assert {"cluster", "request_count", "uri_risk", "rule_applied"} <= set(columns)
