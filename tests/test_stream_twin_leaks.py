"""Per-batch leak guard for the streaming twins.

Each twin persists its frozen side (if any) once and runs its batch
operator's kernel, or its partial and finalize, per micro-batch. A
kernel that materialized inside foreachBatch would leak one cached
frame per micro-batch (and touch the single-threaded materialize
registry from the stream's thread), so after every batch neither the
registry nor the JVM's persisted RDDs may have grown, and `release`
must free everything the writer persisted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webloghunter_spark import session

_WORDS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    "the cat sat on the mat while the dog slept by the warm fire",
    "rivers carry water from high mountains down to the open sea",
    "markets opened higher today as traders weighed the new figures",
    "a short note about gardening tomatoes basil and fresh peppers",
    "engines need oil fuel and air to turn the crank shaft round",
]


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _with_columns(df):
    """Add the columns the aggregate and embedding twins read."""
    i = F.col("doc_id")
    return df.select(
        "doc_id",
        "text",
        F.concat(F.lit("s"), (i % 2).cast("string")).alias("source"),
        F.array(F.lit(1.0), (i % 2).cast("double"), F.lit(0.0), F.lit(0.0))
        .alias("embedding"),
    )


def _frames(spark):
    corpus = _with_columns(spark.createDataFrame(
        list(enumerate(_WORDS)), "doc_id long, text string"
    ))
    batches = [
        _with_columns(spark.createDataFrame(rows, "doc_id long, text string"))
        for rows in (
            [(100, _WORDS[0]),  # exact copy of a corpus doc
             (101, "gamma delta epsilon zeta eta theta iota"),  # contained
             (102, "completely novel words appearing nowhere else here ok")],
            [(103, _WORDS[2] + " today"),  # near copy
             (104, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12"),
             (105, "")],
        )
    ]
    return corpus, batches


def _writer(name, spark, corpus):
    """(foreachBatch function, release) for one twin."""
    rows = lambda rows, bid: None  # noqa: E731
    if name == "containment_pairs":
        from webloghunter_spark.streaming.incdedup import (
            containment_stream_writer,
        )

        fn = containment_stream_writer(rows, corpus)
    elif name == "containment_drop":
        from webloghunter_spark.streaming.incdedup import (
            containment_drop_stream_writer,
        )

        fn = containment_drop_stream_writer(rows, corpus)
    elif name == "incremental_dedup":
        from webloghunter_spark.streaming.incdedup import (
            incremental_dedup_stream_writer,
        )

        fn = incremental_dedup_stream_writer(
            rows, corpus, num_hashes=4, band_size=2
        )
    elif name == "quality_gate":
        from webloghunter_spark.streaming.gate import (
            quality_gate_stream_writer,
        )

        fn = quality_gate_stream_writer(
            corpus, lambda df, bid: df.collect(), min_tokens=3,
            min_quality_bp=0, min_avg_ll=-6.0,
        )
    elif name == "oov":
        from webloghunter_spark.streaming.oov import (
            frozen_vocab,
            oov_rate_stream_writer,
        )

        vocab = frozen_vocab(corpus, vocab_size=20)
        return oov_rate_stream_writer(rows, vocab), vocab.unpersist
    elif name == "curate":
        from webloghunter_spark.streaming.curate import (
            curate_against_stream_writer,
        )

        fn = curate_against_stream_writer(
            rows, corpus, eval_df=corpus.filter(F.col("doc_id") == 3),
            min_quality_bp=0, min_tokens=3, dedup_num_hashes=4,
            decontam_n=4,
        )
    elif name in _MERGE_TWINS:
        fn = _MERGE_TWINS[name](rows, corpus)
    elif name == "bigram_ll":
        from webloghunter_spark.functions.lm import bigram_lm_model
        from webloghunter_spark.streaming.lm import bigram_ll_stream_writer

        model = bigram_lm_model(corpus)  # the caller's to unpersist
        fn = bigram_ll_stream_writer(model, rows)
        return fn, lambda: [
            f() for f in (fn.release, model["cb"].unpersist,
                          model["cu"].unpersist)
        ]
    else:
        fn = _ROW_LOCAL_TWINS[name](rows, corpus)
    return fn, fn.release


def _mix(name, **kw):
    """A writer of streaming/mix.py taking (sink, corpus)."""
    from webloghunter_spark.streaming import mix

    return lambda sink, corpus: getattr(mix, name)(sink, **kw)


def _drift(sink, corpus):
    from webloghunter_spark.streaming.drift import dist_drift_stream_writer

    return dist_drift_stream_writer(corpus, sink)


def _hll(sink, corpus):
    from webloghunter_spark.streaming.hll import hll_distinct_stream_writer

    return hll_distinct_stream_writer(sink, "text", ["source"])


_MERGE_TWINS = {
    "mix_temperature": _mix("mix_temperature_stream_writer"),
    "shard_balance": _mix("shard_balance_stream_writer", n_shards=4),
    "unimax_alloc": _mix("unimax_alloc_stream_writer"),
    "len_quantiles": _mix("len_quantiles_stream_writer"),
    "dist_drift": _drift,
    "hll_distinct": _hll,
}


def _quality_scores(sink, corpus):
    from webloghunter_spark.streaming.classify import (
        quality_scores_stream_writer,
    )

    return quality_scores_stream_writer([(0, 500_000), (7, -250_000)], sink)


def _boilerplate(sink, corpus):
    from webloghunter_spark.pipelines.dedup import boilerplate_keys
    from webloghunter_spark.streaming.dedup import boilerplate_stream_writer

    return boilerplate_stream_writer(
        boilerplate_keys(corpus, seg_tokens=3, min_df=1), sink, seg_tokens=3
    )


def _spans(sink, corpus):
    from webloghunter_spark.streaming.decontam import (
        contamination_spans_stream_writer,
    )

    return contamination_spans_stream_writer(corpus, sink, n=4)


def _semantic(sink, corpus):
    from webloghunter_spark.streaming.decontam import (
        semantic_contam_stream_writer,
    )

    return semantic_contam_stream_writer(
        corpus, sink, threshold=0.5, num_planes=2, dim=4, id_col="doc_id"
    )


_ROW_LOCAL_TWINS = {
    "quality_scores": _quality_scores,
    "boilerplate": _boilerplate,
    "contamination_spans": _spans,
    "semantic_contam": _semantic,
}
# twins whose writer persists nothing: the rest must persist a side
_STATELESS = set(_MERGE_TWINS) - {"dist_drift"} | {"quality_scores"}


@pytest.mark.parametrize(
    "name",
    ["containment_pairs", "containment_drop", "incremental_dedup",
     "quality_gate", "oov", "curate", *_MERGE_TWINS, "bigram_ll",
     *_ROW_LOCAL_TWINS],
)
def test_stream_twin_batches_leak_nothing(spark, name):
    session.release_materialized()
    corpus, batches = _frames(spark)
    before = _persisted(spark)
    fn, release = _writer(name, spark, corpus)
    built = _persisted(spark)
    frozen = built - before
    assert bool(frozen) != (name in _STATELESS), f"{name}: frozen side"
    registry = len(session._MATERIALIZED)
    for bid, batch in enumerate(batches):
        fn(batch, bid)
        assert len(session._MATERIALIZED) == registry, name
        now = _persisted(spark)
        assert now - built == set(), f"{name}: batch {bid} left RDDs cached"
        assert frozen <= now, f"{name}: batch {bid} dropped the frozen side"
    release()
    assert _persisted(spark) & frozen == set(), f"{name}: release leaked"
