"""Streaming near-duplicate candidate detection (online MinHash LSH).

The batch pipeline (pipelines/dedup.py) banding-joins a materialized
signature table against itself; an INGEST stream can't self-join, so
this variant keeps per-bucket state: documents stream in, each emits
its LSH band hashes, and a stateful operator keyed by (band, bh)
remembers which doc ids have landed in the bucket, emitting a
candidate pair (earlier_id, new_id) for every prior occupant.

Scale/state contract:
- state per bucket is the doc-id list — bounded by bucket occupancy,
  the same Σ|bucket| budget as the batch join's Σ|bucket|² work;
- an idle timeout evicts buckets (pairs only form within the timeout
  horizon — the dropDuplicatesWithinWatermark trade-off; pass 0 to
  keep buckets forever for exact parity with the batch candidates);
- output pairs are per-band: docs sharing several bands emit the pair
  once per shared band. Batch parity is `.distinct()` downstream —
  kept out of this operator so the stream stays append-only.

Verification is exact-Jaccard downstream, identical to batch (the
candidate set is what matters here).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from webloghunter_spark.pipelines.dedup import lsh_band_signatures

PAIR_SCHEMA = "band int, bh string, id_a long, id_b long"
BUCKET_STATE_SCHEMA = "ids array<long>"


def _bucket_fn(idle_timeout_ms: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        band, bh = key
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["band", "bh", "id_a", "id_b"])
            return
        (seen,) = state.get if state.exists else ([],)
        seen = list(seen)
        rows = []
        new_ids: list[int] = []
        for pdf in pdfs:
            new_ids.extend(int(i) for i in pdf["doc_id"])
        for nid in sorted(set(new_ids) - set(seen)):
            for sid in seen:
                a, b = (sid, nid) if sid < nid else (nid, sid)
                rows.append((band, bh, a, b))
            seen.append(nid)
        state.update((seen,))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=["band", "bh", "id_a", "id_b"])

    return fn


def lsh_pairs_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    idle_timeout_ms: int = 0,
) -> DataFrame:
    """Streaming twin of `lsh_candidate_pairs`: (band, bh, id_a, id_b)
    candidate rows in append mode. Same signature/banding math as the
    batch pipeline (md5-portable), so a drained stream's
    `.select("id_a","id_b").distinct()` equals the batch candidates."""
    banded = lsh_band_signatures(
        docs, text_col, id_col, num_hashes, band_size, shingle_k
    ).select(F.col(id_col).alias("doc_id"), "band", "bh")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band", "bh").applyInPandasWithState(
        _bucket_fn(idle_timeout_ms),
        outputStructType=PAIR_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
