"""Per-batch leak guard for the frozen-corpus streaming twins.

Each twin persists its frozen side once and calls its batch operator's
kernel per micro-batch. A kernel that materialized inside foreachBatch
would leak one cached frame per micro-batch (and touch the
single-threaded materialize registry from the stream's thread), so
after every batch neither the registry nor the JVM's persisted RDDs may
have grown, and `release` must free everything the writer persisted.
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


def _frames(spark):
    corpus = spark.createDataFrame(
        list(enumerate(_WORDS)), "doc_id long, text string"
    )
    batches = [
        spark.createDataFrame(rows, "doc_id long, text string")
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
    else:
        from webloghunter_spark.streaming.curate import (
            curate_against_stream_writer,
        )

        fn = curate_against_stream_writer(
            rows, corpus, eval_df=corpus.filter(F.col("doc_id") == 3),
            min_quality_bp=0, min_tokens=3, dedup_num_hashes=4,
            decontam_n=4,
        )
    return fn, fn.release


@pytest.mark.parametrize(
    "name",
    ["containment_pairs", "containment_drop", "incremental_dedup",
     "quality_gate", "oov", "curate"],
)
def test_stream_twin_batches_leak_nothing(spark, name):
    session.release_materialized()
    corpus, batches = _frames(spark)
    before = _persisted(spark)
    fn, release = _writer(name, spark, corpus)
    built = _persisted(spark)
    frozen = built - before
    registry = len(session._MATERIALIZED)
    for bid, batch in enumerate(batches):
        fn(batch, bid)
        assert len(session._MATERIALIZED) == registry, name
        now = _persisted(spark)
        assert now - built == set(), f"{name}: batch {bid} left RDDs cached"
        assert frozen <= now, f"{name}: batch {bid} dropped the frozen side"
    release()
    assert _persisted(spark) & frozen == set(), f"{name}: release leaked"
