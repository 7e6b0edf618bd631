"""Blocked fuzzy (edit-distance) entity resolution with a block-depth
guard.

The record-linkage shape: equi-join on a cheap BLOCK key so the
expensive predicate (levenshtein) only runs within blocks — codegen on
both sides, probes broadcast when small, never all-pairs. Cost is
Σ |probe-block| x |corpus-block|, so it lives or dies on block-key
quality: the round-5 32x probe measured 27 s → 146 s pathologies when
degenerate keys (identical-entity copies, alignment-shifting salts)
blew per-block depth 32-1000x. A scale limit that lives in a docstring
gets violated (the simhash_pairs lesson), so the guard is ENFORCED
here: a cheap pre-join depth histogram on the corpus side — one
map-side-combinable count per block, a few-row driver collect — raises
before the quadratic join can run away.

Blocking-key guidance (from the measured pathologies, SCALING.md):
the key must discriminate WITHIN whatever prefix the entities share;
prefixes of a shared template ("Customer#000...") are the canonical
degenerate key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_fuzzy_join(
    probes: DataFrame,
    corpus: DataFrame,
    probe_col: str,
    corpus_col: str,
    block_len: int = 16,
    max_dist: int = 1,
    max_block_depth: int | None = 10_000,
) -> DataFrame:
    """Join probe rows to corpus rows with
    levenshtein(probe, corpus) <= max_dist, blocked on the first
    `block_len` chars of each string. Returns probes' columns +
    corpus' columns + `dist`. When `probe_col == corpus_col` the
    corpus side's column comes back renamed `<name>_corpus` (record
    linkage routinely matches a column against itself, and an
    ambiguous-reference error there would be a trap).

    `max_block_depth` guards the quadratic-within-block cost: if any
    block holds more rows, raise with the worst offenders instead of
    launching a join that is Σ|block|² in the degenerate key. Only the
    corpus side is audited: the probe frame is broadcast, small by
    declaration, so Σ|probe-block|x|corpus-block| is already bounded
    by |probes| x max_block_depth. The check is one combinable
    aggregate + a 5-row collect — O(scan), never O(pairs). Pass None
    to skip (only when the keys are already audited)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")

    if max_block_depth is not None:
        block = F.substring(corpus_col, 1, block_len).alias("_bk")
        deep = (
            corpus.groupBy(block)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_block_depth)
            .orderBy(F.col("_n").desc())
            .limit(5)
            .collect()
        )
        if deep:
            worst = ", ".join(f"{r._bk!r}x{r._n}" for r in deep)
            raise ValueError(
                f"blocked_fuzzy_join: corpus block(s) deeper than "
                f"{max_block_depth} — the block key does not "
                f"discriminate and the within-block join would be "
                f"quadratic (worst: {worst}). Use a longer/more "
                f"selective block key, or raise max_block_depth "
                f"deliberately."
            )

    right = corpus
    right_col = corpus_col
    if probe_col == corpus_col:
        right_col = f"{corpus_col}_corpus"
        right = corpus.withColumnRenamed(corpus_col, right_col)
    return (
        F.broadcast(probes).join(
            right,
            (
                F.substring(probe_col, 1, block_len)
                == F.substring(right_col, 1, block_len)
            )
            & (F.levenshtein(probe_col, right_col) <= max_dist),
        )
        .withColumn("dist", F.levenshtein(probe_col, right_col))
    )
