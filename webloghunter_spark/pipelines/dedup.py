"""Document deduplication pipelines for training-data preparation.

Four families, all shuffle-lean and portable to an external SQL oracle
(hashing is md5-based, available everywhere, rather than engine-
specific hash functions):

- exact: md5 over normalized text, keep the lowest id per key
  (one hash shuffle, map-side combinable);
- MinHash + LSH: token-shingle minhash signatures (per-seed min of
  md5(seed|shingle)); banding buckets near-duplicate candidates so the
  candidate join is |bucket|^2 within tiny buckets, never n^2 global;
- n-gram Jaccard: exact similarity on candidate pairs only;
- SimHash: 64-bit md5-derived fingerprint, hamming-close pairs.

At 100 TB: every stage is a narrow projection followed by a hash
shuffle on a compact key (16-64 bytes), and candidate generation is
bounded by bucket size. The only quadratic work is within-bucket.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from webloghunter_spark.functions.text import (
    _PY_WS_RE,
    fingerprint_expr,
    shingles_expr,
    tokens_expr,
)
from webloghunter_spark.session import drop_materialized, materialize, settle


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One surviving row id per normalized-text group + group size."""
    return (
        df.select(F.col(id_col), fingerprint_expr(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_sig_udf(num_hashes: int = 8, shingle_k: int = 3):
    """Arrow-vectorized UDF: text -> minhash signature array.

    Construction (portable — md5 only, reproducible in SQL engines):
    shingle hash group g = seed // 4 is md5(g + '|' + shingle); minhash
    `seed` is the minimum of 8-hex-digit chunk (seed % 4) of that
    digest — 4 independent 32-bit minwise hashes per md5 evaluation.

    Tokens are `tokens_expr`'s: spaces trimmed, split on the Java
    whitespace class. Python's `str.strip()` and regex whitespace class
    would also eat U+00A0 and other Unicode spaces, which Spark and the
    oracles keep.

    Why a UDF and not Column exprs: Spark's higher-order array
    functions are interpreted (not codegen'd) and projection collapsing
    re-inlines the shared hashed-shingle array into every per-seed
    reference, re-hashing everything num_hashes times. A Python UDF is
    extracted into its own plan node and its Arrow batches stream at
    ~md5 speed. It is evaluated once per row only if no filter on its
    output can be pushed beneath it: `select(udf(text).alias("s"))
    .filter(col("s").isNotNull())` lets Catalyst push the filter below
    the projection with the alias substituted, and the planner then
    runs the UDF in two ArrowEvalPython nodes, the filter's and the
    projection's. So does `posexplode("s")`, whose inferred
    `isnotnull(s) AND size(s) > 0` filter is pushed the same way. Drop
    the NULL rows inside a generator over a non-attribute input
    instead (`_explode_signed`). Returns NULL for docs with < k
    tokens.
    """
    import hashlib
    import re as _re

    import numpy as np

    ws = _re.compile(_PY_WS_RE)
    n_groups = (num_hashes + 3) // 4

    def sig(text) -> list | None:
        if text is None:
            return None
        t = text.strip(" ")
        toks = ws.split(t) if t else []
        if len(toks) < shingle_k:
            return None
        shingles = [
            " ".join(toks[i : i + shingle_k])
            for i in range(len(toks) - shingle_k + 1)
        ]
        out = []
        for g in range(n_groups):
            # raw digests, minimized as big-endian u32 words (guide
            # §4.2 — vectorize the per-batch inner loop): the numeric
            # min of word c EQUALS the lexicographic min of hexdigest
            # chunk [8c:8c+8] (fixed-width lowercase hex preserves
            # order), so format(min, '08x') reproduces the historical
            # per-chunk string min byte for byte.
            raw = b"".join(
                hashlib.md5(f"{g}|{s}".encode()).digest() for s in shingles
            )
            mins = np.frombuffer(raw, dtype=">u4").reshape(-1, 4).min(axis=0)
            for c in range(4):
                if g * 4 + c >= num_hashes:
                    break
                out.append(format(int(mins[c]), "08x"))
        return out

    @F.pandas_udf("array<string>")
    def minhash_sig(texts: pd.Series) -> pd.Series:
        return texts.map(sig)

    return minhash_sig


def _explode_signed(sig: str, *items: Column) -> Column:
    """explode(CASE WHEN sig IS NOT NULL THEN array(items) END): the
    items as rows where the UDF output column `sig` is not NULL, no
    row where it is. The NULL rows go inside the generator, and its
    input is not a bare attribute, so Catalyst infers no filter on
    `sig` that it could push beneath the UDF (see `minhash_sig_udf`):
    the UDF runs once per row."""
    return F.explode(F.when(F.col(sig).isNotNull(), F.array(*items)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, seed, minhash) — long form; docs with < k tokens are dropped."""
    udf = minhash_sig_udf(num_hashes, shingle_k)
    wide = df.select(F.col(id_col), udf(F.col(text_col)).alias("_sig"))
    seeds = [
        F.struct(
            F.lit(s).cast("long").alias("seed"),
            F.element_at("_sig", s + 1).alias("minhash"),
        )
        for s in range(num_hashes)
    ]
    return wide.select(id_col, _explode_signed("_sig", *seeds).alias("m")).select(
        id_col, "m.seed", "m.minhash"
    )


def lsh_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, bh) LSH band-hash rows — the INDEX representation:
    one 32-byte hash per band per doc. Persist this for a corpus and
    any future batch joins against it on (band, bh) without
    re-signaturing the corpus (incremental_near_dedup's shape)."""
    udf = minhash_sig_udf(num_hashes, shingle_k)
    base = df.select(F.col(id_col), udf(F.col(text_col)).alias("_sig"))
    n_bands = num_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        parts = [
            F.element_at("_sig", b * band_size + s + 1) for s in range(band_size)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bh"))
        )
    return base.select(
        id_col, _explode_signed("_sig", *band_cols).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from LSH banding.

    Signature split into bands of `band_size` rows; docs sharing any
    band hash become a candidate pair. Join cost is sum over buckets of
    |bucket|^2 — bounded, never global n^2.
    """
    # Materialize the (tiny: id + band + 32-byte hash) banded table once;
    # a plain self-join would recompute the full shingle+md5 pipeline on
    # both sides.
    banded = materialize(
        lsh_band_signatures(
            df, text_col, id_col, num_hashes, band_size, shingle_k
        )
    )
    # deliberately UNHINTED (cf. ngram_jaccard_pairs, which IS
    # pinned): the banded frame is narrow — its static estimate
    # scales with row count, so a broadcast is only chosen when the
    # side genuinely fits, and a forced shuffle join loses AQE's
    # skew handling on dup-saturated band buckets
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bh") == F.col("r.bh"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
    )
    return pairs.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
    carry_cols: tuple = (),
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs.

    `carry_cols` rides extra per-doc columns THROUGH the verify joins
    (emitted as <col>_a / <col>_b) so downstream per-pair labeling
    (e.g. dup_source_matrix's sources) costs zero additional joins —
    at dup-stress pair volumes every extra pair-keyed shuffle is the
    dominant term (measured at the 32x probe: labeling pairs by a
    separate corpus join 66.5 s / 18.6x; carrying the column
    46.3 s / 8.9x, the pair family's machinery rate).

    Jaccard is computed over 60-bit hashed shingle keys, not string
    shingles: past ~2^30 distinct corpus grams, birthday collisions
    merge a few gram classes and can nudge a pair's ratio by ~1e-11 —
    negligible, and mirrored exactly by the oracle, which hashes the
    same way."""
    # Materialize the shingle table once: it feeds BOTH sides of the
    # pair join, and an unmaterialized plan recomputes the full
    # tokenize+shingle pipeline per side.
    #
    # Shingles are POSTING-COMPRESSED to 60-bit md5-prefix ints
    # (hashed_shingles_expr — the round-13 migration that already
    # carried the containment family): |A∩B| / |A∪B| over the hashed
    # sets equals the string-set Jaccard (the transform is injective
    # on any collision-free corpus slice, and under a collision the
    # oracle — which hashes identically — merges the same pair), while
    # the verify's shuffle moves 8-byte ints instead of ~30-byte
    # strings and array_intersect compares at word speed.
    sh = materialize(df.select(
        F.col(id_col),
        hashed_shingles_expr(text_col, shingle_k).alias("_sh"),
        *[F.col(c) for c in carry_cols],
    ))
    return _jaccard_verify(pairs, sh, sh, id_col, threshold, carry_cols)


def _jaccard_verify(
    pairs: DataFrame,
    a_sh: DataFrame,
    b_sh: DataFrame,
    id_col: str,
    threshold: float,
    carry_cols: tuple = (),
) -> DataFrame:
    """ngram_jaccard_pairs' verify: join each (id_a, id_b) pair to its
    two (id, _sh) hashed shingle sets — id_a's from `a_sh`, id_b's from
    `b_sh` — and keep the pairs with Jaccard >= threshold. The batch
    operators pass one materialized table as both sides; the streaming
    twin passes the micro-batch and its persisted corpus index."""
    # shuffle_hash hint: the shingle table scales WITH THE CORPUS, so
    # it is never broadcastable at scale — but the planner estimates
    # the persisted projection from parquet stats, under-sizing the
    # ~8x shingle blow-up, and happily plans a BroadcastHashJoin that
    # dies building a multi-GB broadcast (measured: the 32x
    # non-saturated control fixture OOM'd broadcast-exchange before
    # this hint). Shuffle-hash joins on the id key instead: both
    # sides partition on id, the build side is one partition's
    # shingles, and no sort touches the wide arrays.
    a = a_sh.alias("a").hint("shuffle_hash")
    b = b_sh.alias("b").hint("shuffle_hash")
    j = (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("a._sh", "b._sh")).cast("double")
                / F.size(F.array_union("a._sh", "b._sh")).cast("double")
            ).alias("jaccard"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols],
        )
    )
    from webloghunter_spark.functions.similarity import grid_round_expr

    # stored-value half-up grid, not F.round (shortest-repr HALF_UP
    # diverges from DuckDB round() on grid-line doubles)
    return j.filter(F.col("jaccard") >= threshold).withColumn(
        "jaccard", grid_round_expr(F.col("jaccard"), 4)
    )


def _check_pairs_args(threshold: float, max_df: int, min_max_df: int = 1) -> None:
    """The containment-pairs argument checks (self and against forms)."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if max_df < min_max_df:
        raise ValueError(f"max_df must be >= {min_max_df}, got {max_df}")


def _check_drop_args(
    threshold_bp: int, size_ratio_bp: int, max_df: int, min_max_df: int = 1
) -> None:
    """The containment-drop argument checks (shingle, winnow and
    against forms). max_df below the floor freezes an EMPTY inverted
    index, and every doc would pass with no error."""
    if not 5000 <= threshold_bp <= 10000:
        raise ValueError(
            f"threshold_bp must be in [5000, 10000], got {threshold_bp}"
        )
    if size_ratio_bp < 10000:
        raise ValueError(
            f"size_ratio_bp must be >= 10000 (container not smaller), "
            f"got {size_ratio_bp}"
        )
    if max_df < min_max_df:
        raise ValueError(f"max_df must be >= {min_max_df}, got {max_df}")


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(id, _sh): each doc's distinct shingles as 60-bit hashed ints."""
    return df.select(
        F.col(id_col),
        hashed_shingles_expr(text_col, shingle_k).alias("_sh"),
    )


def _rare_postings(
    sh: DataFrame, id_col: str, max_df: int, min_df: int = 1
) -> DataFrame:
    """(id, _g) postings of the shingles whose document frequency in
    `sh` lies in [min_df, max_df] — the discriminative inverted index
    candidate pairs are drawn from (Σ df² <= max_df · Σ df)."""
    inv = sh.select(F.col(id_col), F.explode("_sh").alias("_g"))
    n = F.col("_n")
    keep = n <= int(max_df) if min_df <= 1 else (n >= min_df) & (n <= int(max_df))
    rare = (
        inv.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(keep)
        .select("_g")
    )
    return inv.join(rare, "_g", "left_semi")


def _containment_verify(
    cand: DataFrame,
    a_sh: DataFrame,
    b_sh: DataFrame,
    id_col: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact verify of (id_a, id_b) candidates against their (id, _sh)
    sets — id_a's from `a_sh`, id_b's from `b_sh`: emits (id_a, id_b,
    n_common, _na, _nb). shuffle_hash on both sides: the shingle table
    scales with the corpus — never broadcast it.

    `carry_cols` rides extra per-doc attributes (quality, source ...)
    THROUGH the verify joins as <c>_a / <c>_b — the dup_source_matrix
    lesson (measured 18.6x -> 8.88x there): a consumer joining them
    back onto the pair frame afterwards pays pair-keyed shuffles of a
    corpus-sized side, which dominate exactly when pair volume is
    high."""
    a = a_sh.alias("a").hint("shuffle_hash")
    b = b_sh.alias("b").hint("shuffle_hash")
    inter = F.size(F.array_intersect("a._sh", "b._sh")).cast("long")
    return (
        cand.join(a, cand.id_a == F.col(f"a.{id_col}"))
        .join(b, cand.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            inter.alias("n_common"),
            F.size("a._sh").cast("long").alias("_na"),
            F.size("b._sh").cast("long").alias("_nb"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols],
        )
    )


def _containment_ex(
    sh: DataFrame,
    id_col: str,
    max_df: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Self containment machinery: given a MATERIALIZED (id, _sh)
    frame, emit verified candidate pairs (id_a < id_b, n_common, _na,
    _nb, carry). Candidates come from the df-bounded inverted-index
    join on discriminative shingles (2 <= df <= max_df)."""
    rinv = _rare_postings(sh, id_col, max_df, min_df=2)
    cand = (
        rinv.alias("l")
        .join(
            rinv.alias("r"),
            (F.col("l._g") == F.col("r._g"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return _containment_verify(cand, sh, sh, id_col, carry_cols)


def _probe_verify(
    pbase: DataFrame, csh: DataFrame, rcinv: DataFrame, id_col: str
) -> DataFrame:
    """Probe-vs-frozen-corpus containment kernel: candidates are the
    probe docs of `pbase` (id, _sh) sharing a posting of the corpus
    index `rcinv` (_rare_postings of `csh`), verified exactly against
    `csh`; emits _containment_verify's (id_a=probe, id_b=corpus,
    n_common, _na, _nb). The batch operators and the streaming twins
    call this one function; it never materializes, so a twin may run
    it inside foreachBatch."""
    psh = pbase.filter(F.size("_sh") > 0)
    pinv = psh.select(F.col(id_col), F.explode("_sh").alias("_g"))
    cand = (
        pinv.alias("p")
        .join(rcinv.alias("c"), F.col("p._g") == F.col("c._g"))
        .select(
            F.col(f"p.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return _containment_verify(cand, psh, csh, id_col)


def _pairs_decision(ex: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, n_common, contain_ab, contain_ba) for the verified
    pairs whose max-direction containment is >= threshold."""
    from webloghunter_spark.functions.similarity import grid_round_expr

    c_ab = F.col("n_common").cast("double") / F.col("_na")
    c_ba = F.col("n_common").cast("double") / F.col("_nb")
    return (
        ex.filter(F.greatest(c_ab, c_ba) >= F.lit(float(threshold)))
        .select(
            "id_a",
            "id_b",
            "n_common",
            # stored-value grid, not F.round (similarity.py:45)
            grid_round_expr(c_ab, 4).alias("contain_ab"),
            grid_round_expr(c_ba, 4).alias("contain_ba"),
        )
    )


def _pairs_against(
    pbase: DataFrame,
    csh: DataFrame,
    rcinv: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """containment_pairs_against's decision over _probe_verify."""
    return _pairs_decision(_probe_verify(pbase, csh, rcinv, id_col), threshold)


def _inside(
    n_in: str, n_out: str, threshold_bp: int, size_ratio_bp: int
) -> Column:
    """The exact-integer contained-in rule on a verified pair: the doc
    with `n_in` shingles lies in the doc with `n_out` shingles."""
    t = F.lit(int(threshold_bp))
    r = F.lit(int(size_ratio_bp))
    return (F.col("n_common") * 10000 >= t * F.col(n_in)) & (
        F.col(n_out) * 10000 >= r * F.col(n_in)
    )


def _keep_best_drops(
    scored: DataFrame, id_col: str, threshold_bp: int, size_ratio_bp: int
) -> DataFrame:
    """(id, n_containers) over self pairs carrying quality (_qa, _qb):
    one direction drops the contained doc; mutual containment drops
    the worse quality (tie -> the higher id; id_a < id_b always, so a
    tie drops B)."""
    a_in_b = _inside("_na", "_nb", threshold_bp, size_ratio_bp)
    b_in_a = _inside("_nb", "_na", threshold_bp, size_ratio_bp)
    # Mutually exclusive by construction: mutual containment resolves
    # to exactly one drop side.
    drop_a = a_in_b & (~b_in_a | (F.col("_qa") < F.col("_qb")))
    drop_b = b_in_a & (~a_in_b | (F.col("_qa") >= F.col("_qb")))
    victim = F.when(drop_a, F.col("id_a")).when(drop_b, F.col("id_b"))
    return (
        scored.select(victim.alias(id_col))
        .filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_containers"))
    )


def _drop_verdicts(stats: DataFrame, drops: DataFrame, id_col: str) -> DataFrame:
    """One row per doc of the narrow `stats` frame: its columns, then
    n_containers (drop events naming the doc) and dropped 0/1."""
    n = F.coalesce("n_containers", F.lit(0))
    return stats.join(drops, id_col, "left").select(
        *stats.columns,
        n.cast("long").alias("n_containers"),
        (n > 0).cast("long").alias("dropped"),
    )


def _drop_against(
    pbase: DataFrame,
    csh: DataFrame,
    rcinv: DataFrame,
    id_col: str,
    threshold_bp: int,
    size_ratio_bp: int,
) -> DataFrame:
    """containment_drop_against's decision over _probe_verify: (id,
    n_shingles, n_containers, dropped) per probe doc of `pbase`."""
    drops = (
        _probe_verify(pbase, csh, rcinv, id_col)
        .filter(_inside("_na", "_nb", threshold_bp, size_ratio_bp))
        .groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("n_containers"))
        .withColumnRenamed("id_a", id_col)
    )
    stats = pbase.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("n_shingles"),
    )
    return _drop_verdicts(stats, drops, id_col)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int = 20,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT near-dup pairs — the doc-in-doc
    signal the Jaccard family structurally misses: a 50-shingle doc
    fully embedded in a 5,000-shingle doc has Jaccard ~0.01 (so
    MinHash-LSH, which approximates Jaccard, never even surfaces the
    pair) but containment |A∩B|/|A| = 1.0. This is how quote farms,
    wrapper pages, and chunk-level plagiarism show up in a crawl.
    Returns (id_a, id_b, n_common, contain_ab, contain_ba) for pairs
    with max-direction containment >= `threshold`; id_a < id_b,
    contain_ab = |A∩B|/|A| (how much of A lives inside B).

    Candidate generation is an inverted-index join restricted to
    DISCRIMINATIVE shingles (2 <= document frequency <= `max_df`):
    Σ df(g)² over kept grams is bounded by max_df · Σ df(g) — O(corpus
    shingle volume · max_df), never all-pairs. The documented miss: a
    pair sharing ONLY ubiquitous shingles (df > max_df) is skipped —
    acceptable for containment, where a contained doc shares ALL its
    shingles with the container, rare ones included; a doc made
    entirely of boilerplate shingles is template spam for
    boilerplate_segments, not containment. Verification is exact on
    the distinct shingle arrays with the same shuffle_hash discipline
    as ngram_jaccard_pairs (the shingle table scales with the corpus —
    never broadcast it).

    Shingles are POSTING-COMPRESSED to 60-bit md5-prefix ints
    (hashed_shingles_expr): the verify intersects int64 arrays and the
    inverted index is int-keyed (SCALING.md, "One implementation per
    operator": faster than string shingles at sf0.1 and at the 32x
    control). Counts differ from the string definition only if two
    shingles of one doc pair collide in 60 bits."""
    _check_pairs_args(threshold, max_df, min_max_df=2)
    sh = materialize(
        _shingle_sets(df, text_col, id_col, shingle_k).filter(
            F.size("_sh") > 0
        )
    )
    return _pairs_decision(_containment_ex(sh, id_col, max_df), threshold)


def containment_pairs_against(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int = 20,
) -> DataFrame:
    """Asymmetric PROBE-vs-CORPUS containment — each probe doc checked
    for doc-in-doc overlap against an accepted corpus (the decontam /
    incremental_dedup shape; the continuous-ingest sibling of
    containment_pairs). Returns (id_a=probe, id_b=corpus, n_common,
    contain_ab, contain_ba) for pairs with max-direction containment
    >= threshold. Candidates share >= 1 shingle whose CORPUS document
    frequency is <= max_df (frozen-index discriminativeness — the
    probe side never contributes to df, so per-batch results don't
    depend on batch slicing). Because probes are only compared against
    the corpus — never each other — the union of per-batch results
    over any slicing equals the one-shot run exactly.

    Composition: the corpus side (shingle sets + _rare_postings) is
    built once, then _pairs_against scores the probe against it. The
    streaming twin (streaming/incdedup.containment_stream_writer)
    persists the same corpus side and calls _pairs_against per
    micro-batch.
    Shingles are posting-compressed to 60-bit md5-prefix ints
    (hashed_shingles_expr; oracle exact by construction — see
    containment_drop's note)."""
    _check_pairs_args(threshold, max_df)
    csh = materialize(
        _shingle_sets(corpus, text_col, id_col, shingle_k).filter(
            F.size("_sh") > 0
        )
    )
    return _pairs_against(
        _shingle_sets(probe, text_col, id_col, shingle_k),
        csh,
        _rare_postings(csh, id_col, max_df),
        id_col,
        threshold,
    )


def containment_drop_against(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> DataFrame:
    """The INCREMENTAL intervention form of containment: drop an
    INCOMING probe doc when it is contained (exact-integer bp rules,
    containment_drop's) in a not-smaller doc of an accepted FROZEN
    corpus — the continuous-ingest quote-farm gate
    (containment_pairs_against finds; this decides). The corpus is
    AUTHORITATIVE (the incremental_near_dedup convention): there is
    no keep-best tie-break — a probe contained in a same-size corpus
    doc drops regardless of quality, because the corpus doc is
    already committed and re-litigating it would make per-batch
    results depend on what else arrived in the batch.

    Because probes are only compared against the corpus — never each
    other — the union of per-batch decisions over ANY slicing equals
    the one-shot run exactly; the streaming twin
    (streaming/incdedup.containment_drop_stream_writer) persists this
    operator's corpus side and calls the same `_drop_against` per
    micro-batch.

    Output: one row per probe doc —
    (id, n_shingles, n_containers, dropped 0/1).

    Documented miss (containment_pairs', restated for gate consumers):
    candidates need >= 1 shared shingle with corpus df <= max_df, so a
    probe fully contained in a corpus doc can still SURVIVE when every
    shared shingle is heavily duplicated across the corpus
    (df > max_df) — n_shingles is reported for every probe row, but
    candidate generation saw only the discriminative subset. Raise
    max_df (cost: candidate volume) if the corpus is boilerplate-heavy.

    Scale shape: frozen-corpus discriminative inverted index (corpus
    df <= max_df — the probe side never contributes, so batch
    slicing cannot change candidates), candidates joined per batch,
    exact verify with sizes carried THROUGH the verify joins (the
    containment_drop carry lesson — no join-back of a corpus-sized
    side onto the pair frame), one drop-event fold, one left join
    onto the narrow per-probe stats frame. Shingles are
    posting-compressed to 60-bit md5-prefix ints
    (hashed_shingles_expr; oracle exact by construction — see
    containment_drop's note).
    """
    _check_drop_args(threshold_bp, size_ratio_bp, max_df)
    csh = materialize(
        _shingle_sets(corpus, text_col, id_col, shingle_k).filter(
            F.size("_sh") > 0
        )
    )
    # the probe shingles feed both the verify and the per-probe stats
    pbase = materialize(_shingle_sets(probe, text_col, id_col, shingle_k))
    return _drop_against(
        pbase,
        csh,
        _rare_postings(csh, id_col, max_df),
        id_col,
        threshold_bp,
        size_ratio_bp,
    )


def containment_drop(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str | None = "source",
    shingle_k: int = 3,
    threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> DataFrame:
    """The INTERVENTION form of containment_pairs — the quote-farm /
    wrapper-page removal policy: a doc is DROPPED when it is contained
    in a (not-smaller) other doc, with dedup_keep_best's keep-best
    discipline breaking mutual-containment ties. containment_pairs
    *finds* doc-in-doc pairs; this decides who survives.

    Per verified pair (A, B) with distinct-shingle counts n_a, n_b
    (all rules EXACT-INTEGER on the bp grid — no float anywhere in
    the decision):

    - A is contained-in B iff n_common * 10000 >= threshold_bp * n_a
      AND n_b * 10000 >= size_ratio_bp * n_a (B is at least
      size_ratio_bp/10000 times A's size); symmetrically for B in A.
    - One direction only -> drop the contained doc.
    - Mutual (possible only when size_ratio_bp <= 10000, i.e. two
      same-size near-identical docs both above threshold) -> keep the
      BEST: higher quality_bp survives, ties keep the lower id (the
      dedup_keep_best rule, dedup.py `dedup_keep_best`).

    A doc is dropped iff ANY pair designates it the drop side — the
    container itself surviving is NOT required (if B is itself inside
    C, A's content still lives on through C), so the rule needs no
    iteration and a SQL oracle expresses it as one EXISTS.

    Output: one row per input doc —
    (id, source, n_shingles, quality_bp, n_containers, dropped) with
    the `source` column omitted when `source_col=None` (the
    curate-funnel internal form — stage frames carry no source), and
    n_containers = how many pairs designate this doc the drop side
    and dropped = 0/1. Survivors are `dropped = 0`; per-source drop
    counts are a groupBy away.

    Scale shape: ONE shingle pass feeds both the pair machinery
    (shared `_containment_ex`, df-bounded inverted index, shuffle_hash
    verify) and the per-doc stats (size/quality computed in the same
    map stage — text is read and tokenized ONCE); quality rides
    THROUGH the verify joins as carry_cols (the dup_source_matrix
    lesson — joining it back onto the pair frame afterwards costs two
    pair-keyed shuffles of a corpus-sized side and measured 18.1x at
    the 32x control probe; the carry form removes them); each pair
    yields at most one drop event, folded by one groupBy on id; the
    final left join puts decisions back on the NARROW per-doc stats
    frame (n_shingles pre-computed, so the shingle arrays never move
    through that join). The documented containment_pairs miss (pairs
    sharing only df>max_df shingles) carries over unchanged.

    Pinned at threshold_bp >= 5000: candidates come from the shared
    pair pass at its max-direction-0.5 base threshold, so a weaker
    drop threshold would need pairs this pass never surfaced.

    Shingles are POSTING-COMPRESSED to 60-bit md5-prefix ints
    (hashed_shingles_expr — migrated round 13, measured 1.9x at the
    32x control when the verify saturates the box): n_shingles /
    n_common count distinct hashed shingles, equal to distinct string
    shingles unless two of a doc's shingles md5-collide in 60 bits
    (none observed at any tested scale; the paired oracle hashes
    identically, so exactness holds by construction regardless).
    """
    _check_drop_args(threshold_bp, size_ratio_bp, max_df, min_max_df=2)
    from webloghunter_spark.functions.text import quality_bp_expr

    src = (
        [F.col(source_col).alias("source")] if source_col is not None else []
    )
    base = materialize(
        df.select(
            F.col(id_col),
            *src,
            hashed_shingles_expr(text_col, shingle_k).alias("_sh"),
            F.coalesce(quality_bp_expr(text_col), F.lit(0))
            .cast("long")
            .alias("_q"),
        )
    )
    sh = base.filter(F.size("_sh") > 0).select(F.col(id_col), "_sh", "_q")
    scored = _containment_ex(
        sh, id_col, max_df, carry_cols=("_q",)
    ).withColumnsRenamed({"_q_a": "_qa", "_q_b": "_qb"})
    drops = _keep_best_drops(scored, id_col, threshold_bp, size_ratio_bp)
    srcname = ["source"] if source_col is not None else []
    stats = base.select(
        F.col(id_col),
        *srcname,
        F.size("_sh").cast("long").alias("n_shingles"),
        F.col("_q").alias("quality_bp"),
    )
    return _drop_verdicts(stats, drops, id_col)


def simhash_udf(shingle_k: int = 3, bits: int = 16):
    """Arrow-vectorized SimHash: one md5 per shingle, bit b from nibble
    b of the digest (bit index b % 4), majority vote over shingles.
    Same UDF-over-exprs rationale, tokens and filter-pushdown trap as
    `minhash_sig_udf`; `simhash_fingerprints` applies it safely. NULL
    for docs with < k tokens."""
    import hashlib
    import re as _re

    import numpy as np

    ws = _re.compile(_PY_WS_RE)
    nbytes = (bits + 1) // 2
    # per-bit shift: bit b reads bit (b % 4) of hex nibble b
    shifts = np.arange(bits, dtype=np.uint8) % 4

    def sh(text):
        if text is None:
            return None
        t = text.strip(" ")
        toks = ws.split(t) if t else []
        if len(toks) < shingle_k:
            return None
        shingles = [
            " ".join(toks[i : i + shingle_k])
            for i in range(len(toks) - shingle_k + 1)
        ]
        # Vectorized majority vote (guide §4.2): hexdigest char b is
        # the HIGH nibble of digest byte b//2 when b is even, LOW when
        # odd — int(hexdigest[b], 16) == nibble, bit (b % 4) of it is
        # the vote, identical to the historical per-char loop.
        raw = b"".join(
            hashlib.md5(s.encode()).digest()[:nbytes] for s in shingles
        )
        by = np.frombuffer(raw, dtype=np.uint8).reshape(-1, nbytes)
        nib = np.empty((by.shape[0], nbytes * 2), dtype=np.uint8)
        nib[:, 0::2] = by >> 4
        nib[:, 1::2] = by & 0x0F
        votes = (nib[:, :bits] >> shifts) & 1
        ones = votes.sum(axis=0, dtype=np.int64)
        n = by.shape[0]
        mask = (2 * ones >= n).astype(np.uint64)
        return int((mask << np.arange(bits, dtype=np.uint64)).sum())

    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        return texts.map(sh)

    return simhash


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) per document with >= k tokens. The docs without a
    fingerprint are dropped by `_explode_signed`, not by a filter, so
    `simhash_udf` runs once per row (see `minhash_sig_udf`)."""
    udf = simhash_udf(shingle_k, bits)
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("_sh")).select(
        id_col, _explode_signed("_sh", F.col("_sh")).alias("simhash")
    )


def simhash_expr(text_col: Column | str, shingle_k: int = 3, bits: int = 16) -> Column:
    """SimHash fingerprint over token shingles.

    For each of `bits` bit positions, the bit is 1 iff the majority of
    shingle hashes have that bit set. Bit b of a shingle is derived from
    one hex nibble of md5 (portable to SQL). Returns a long.
    """
    sh = shingles_expr(text_col, shingle_k) if isinstance(text_col, str) else text_col
    n = F.size(sh)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        # nibble b of the md5 hex digest, bit (b % 4)
        nib = F.transform(
            sh, lambda s: F.conv(F.substring(F.md5(s), b + 1, 1), 16, 10).cast("int")
        )
        bitvals = F.transform(nib, lambda x: F.shiftright(x, b % 4).bitwiseAND(F.lit(1)))
        ones = F.aggregate(bitvals, F.lit(0), lambda a, x: a + x)
        acc = acc + F.when(ones * 2 >= n, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return acc


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the one-call path a training
    pipeline actually runs: MinHash signatures -> LSH band candidates ->
    exact n-gram Jaccard on candidates only -> drop every document with
    a LOWER-id near-duplicate at >= threshold.

    The survival rule is deliberately non-transitive (a doc is dropped
    iff a lower-id doc is directly similar to it): deterministic, one
    pass, no iterative connected components — and therefore exactly
    reproducible by a SQL oracle. For cluster-representative semantics
    run graph components over `ngram_jaccard_pairs` output instead.

    Scale: candidates are bounded by LSH bucket sizes (never global
    n^2), the drop list is a distinct-id projection (one shuffle), and
    the final filter is a left-anti join — broadcastable whenever the
    duplicate fraction is small, AQE's call otherwise.
    """
    pairs = lsh_candidate_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k,
    )
    sims = ngram_jaccard_pairs(
        df, pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k, threshold=threshold,
    )
    drop = sims.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label connected components over an undirected edge list
    (`id_a`, `id_b`): returns (id_col, comp) with comp = the smallest
    id reachable from the node (singletons map to themselves).

    Each round does (1) edge relaxation — a node's label drops to the
    min of its neighbors' labels — and (2) pointer jumping — a node's
    label drops to its label's label. Relaxation alone needs
    O(diameter) rounds; with jumping, label trees halve in depth each
    round, so convergence is O(log diameter) — the standard large-scale
    CC recipe (cf. Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14). Near-dup clusters are almost always
    shallow, so typical runs converge in 2-3 rounds.

    Per round: two joins + one min-aggregate (3 shuffles on the id
    key) and one convergence action. Each round's label frame is
    localCheckpoint'ed EAGERLY: persist alone truncates execution but
    NOT the logical plan — each round references the prior frame three
    times, so the plan tree grows ~3^rounds and merely RENDERING it
    (explain, error messages) OOMs the driver after enough rounds
    (found by the union-find property test on a long path graph).
    Checkpointing makes each round's plan a leaf, so both lineage and
    plan size stay O(1) in the round count; on a real cluster swap
    localCheckpoint for a reliable checkpoint dir if executor loss
    matters. Each superseded round is unpersisted at once; the returned
    frame is registered in the caller's run (session.materialized_scope)
    like any materialize()d frame.
    """
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = materialize(sym)

    cc = materialize(
        nodes.select(F.col(id_col).alias("id")).distinct()
        .withColumn("comp", F.col("id"))
    )
    for _ in range(max_iterations):
        # (1) edge relaxation: min over own + neighbors' labels. The
        # node's previous label rides along (as _prev, via min of an
        # identical pair) so convergence is a filter on the SAME frame,
        # not an extra id-keyed join per round.
        nbr = sym.join(cc, sym.dst == cc.id).select(
            sym.src.alias("id"), F.col("comp"), F.lit(None).cast("long").alias("_prev")
        )
        relaxed = (
            cc.select("id", "comp", F.col("comp").alias("_prev"))
            .unionByName(nbr)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("_prev").alias("_prev"))
        )
        # (2) pointer jumping: comp <- comp's comp (labels are node ids,
        # so the label's own label is a valid, never-larger label)
        parent = cc.select(
            F.col("id").alias("p_id"), F.col("comp").alias("p_comp")
        )
        jumped = (
            relaxed.join(parent, relaxed.comp == parent.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))
                ).alias("comp"),
                "_prev",
            )
        )
        # eager localCheckpoint: materializes AND truncates the plan
        # (persist would leave a ~3^rounds logical tree — see docstring),
        # whatever SETTLE_LINEAGE says
        new_cc = settle(jumped, lineage=False)
        changed = new_cc.filter(F.col("comp") != F.col("_prev")).limit(1).count()
        drop_materialized(cc)
        cc = new_cc
        if changed == 0:
            break
    return cc.select(F.col("id").alias(id_col), "comp")


def near_dedup_cc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Cluster-representative near-dedup — the variant `near_dedup`'s
    docstring defers: build the >=threshold similarity graph on LSH
    candidates, run connected components, and label every document
    with its cluster representative (`rep` = min doc id in the
    component; singletons are their own rep).

    Unlike near_dedup's direct-neighbor rule this IS transitive: A~B
    and B~C put A, C in one cluster even if A!~C. Keep one row per rep
    (`WHERE id == rep`) for the deduped corpus, or aggregate per rep
    for cluster stats."""
    pairs = lsh_candidate_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k,
    )
    sims = ngram_jaccard_pairs(
        df, pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k, threshold=threshold,
    )
    cc = connected_components(
        sims.select("id_a", "id_b"), df.select(id_col), id_col=id_col
    )
    return df.join(cc, on=id_col, how="left").withColumn(
        "rep", F.coalesce(F.col("comp"), F.col(id_col))
    ).drop("comp")


def _n_seg_expr(text_col: str, seg_tokens: int) -> Column:
    toks = tokens_expr(text_col)
    return F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")


def _doc_segments(
    df: DataFrame, text_col: str, id_col: str, seg_tokens: int
) -> DataFrame:
    """Explode each document into its consecutive `seg_tokens`-token
    segments: (id, n_seg, seg_idx, seg, seg_key) — the shared front
    end of segment_dedup (keep-first) and boilerplate_segments
    (drop-all-copies). seg_key is the 60-bit md5-prefix BIGINT
    (hashed_shingles_expr's posting compression, round-14): every
    consumer groups/joins on the key, so 8-byte ints cross the
    exchanges instead of 32-char md5 hex (measured at the 32x
    control: segment_dedup 47.2->44.5 s, boilerplate_segments
    73.7->69.8 s). Oracles hash identically, so a 60-bit collision
    merges the same two segments in both engines."""
    toks = tokens_expr(text_col)
    n_seg = _n_seg_expr(text_col, seg_tokens)
    return (
        df.select(
            F.col(id_col),
            n_seg.alias("n_seg"),
            F.posexplode_outer(
                F.transform(
                    # sequence(0, -1) DESCENDS in Spark; guard n_seg=0
                    F.when(
                        n_seg > 0, F.sequence(F.lit(0), n_seg - 1)
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.array_join(
                        F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
        .withColumn(
            "seg_key",
            F.conv(F.substring(F.md5(F.col("seg")), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
) -> DataFrame:
    """Sub-document exact dedup at fixed token-segment granularity —
    the scalable stand-in for exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    split each document into consecutive `seg_tokens`-token segments,
    keep only the globally FIRST occurrence of every distinct segment
    (ordered by (id, seg_idx)), and reassemble each document from its
    surviving segments.

    Returns (id_col, n_seg, n_kept, new_text); documents whose every
    segment already appeared elsewhere come back with n_kept=0 and
    new_text='' (the boilerplate-only docs a pipeline then drops).

    Scale notes: the keeper per segment is a min(struct) HASH AGGREGATE
    on md5(segment) — map-side combinable and skew-immune (a boilerplate
    segment repeated 10^7 times still reduces to one row per partition
    before the exchange), deliberately NOT a row_number window whose
    hot-key partitions would straggle. Reassembly shuffles once on the
    id. Three narrow exchanges total, all on compact keys.

    Data-loss caveat of the 60-bit segment key (see _doc_segments):
    two DIFFERENT segments whose keys collide count as one, so the
    later occurrence is cut from its document as if it were a repeat.
    That deletes real text, and the oracle cannot catch it because it
    hashes identically. Expected colliding pairs are ~n^2 / 2^61 for n
    distinct segments: ~4e-7 at 10^6, ~0.4 at 10^9, ~4e5 at 10^12 —
    past ~10^9 distinct segments, expect some documents to lose a
    segment they did not duplicate.
    """
    segs = _doc_segments(df, text_col, id_col, seg_tokens)
    keepers = (
        segs.filter(F.col("seg").isNotNull())
        .groupBy("seg_key")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("k")
        )
        .select(
            "seg_key",
            F.col("k")[id_col].alias(id_col),
            F.col("k.seg_idx").alias("seg_idx"),
        )
    )
    kept = segs.join(keepers, on=["seg_key", id_col, "seg_idx"], how="left_semi")
    stats = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_idx", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("new_text"),
        )
    )
    # NULL text => size(null) is null; coalesce so n_seg is consistent
    # with the coalesced n_kept/new_text (downstream `n_kept < n_seg`
    # filters must not see a NULL/0 mix for the same document).
    base = df.select(
        F.col(id_col),
        F.coalesce(_n_seg_expr(text_col, seg_tokens), F.lit(0)).alias(
            "n_seg"
        ),
    )
    return (
        base.join(stats, on=id_col, how="left")
        .select(
            id_col,
            "n_seg",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def boilerplate_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 5,
    min_df: int = 3,
) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al. 2020 dedupe
    paragraph-hashes across shards; nav bars / cookie banners appear in
    thousands of pages): a segment whose DOCUMENT frequency across the
    corpus reaches `min_df` is boilerplate and is removed from EVERY
    document — including the first, unlike segment_dedup's keep-first
    semantics (there the signal is redundancy; here it is that the
    text belongs to the site template, not the document).

    Returns (id_col, n_seg, n_kept, new_text) — same contract as
    segment_dedup so downstream `n_kept < n_seg` / empty-doc drops
    compose unchanged.

    Scale: document frequency is a two-level combinable aggregate —
    distinct (seg_key, id) then count per seg_key — on 8-byte hashed
    keys (a boilerplate segment in 10^7 docs collapses map-side before
    either exchange). The removal is one left_anti hash join of the
    exploded segments against the (typically tiny) boilerplate key
    set, then one groupBy(id) rebuild. No windows, no all-pairs, skew
    bounded by the distinct-first shape.
    """
    boiler = boilerplate_keys(df, text_col, id_col, seg_tokens, min_df)
    return remove_boilerplate(df, boiler, text_col, id_col, seg_tokens)


def boilerplate_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 5,
    min_df: int = 3,
) -> DataFrame:
    """The boilerplate MODEL: (seg_key) 60-bit md5-prefix keys of every
    segment whose document frequency reaches min_df. Train once on a corpus
    snapshot, then apply with remove_boilerplate — batch-side here, or
    frozen in streaming/dedup.boilerplate_stream_writer (the CCNet
    pinned-reference discipline, like the frozen bigram LM)."""
    segs = _doc_segments(df, text_col, id_col, seg_tokens)
    return (
        segs.filter(F.col("seg").isNotNull())
        .select("seg_key", id_col)
        .distinct()
        .groupBy("seg_key")
        .agg(F.count(F.lit(1)).alias("seg_df"))
        .filter(F.col("seg_df") >= int(min_df))
        .select("seg_key")
    )


def remove_boilerplate(
    df: DataFrame,
    boiler: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 5,
) -> DataFrame:
    """Apply a boilerplate key set (from boilerplate_keys, or any
    (seg_key) frame) to a document frame: per-doc removal depends only
    on the doc's own segments and the static key set, so this is
    stateless per document — the property the streaming twin's parity
    rests on.

    Raises TypeError on a model whose seg_key is not a BIGINT: a model
    persisted before the 60-bit key format has string keys, which
    never equal a segment's bigint key, so nothing would be removed."""
    key_type = boiler.schema["seg_key"].dataType
    if not isinstance(key_type, LongType):
        raise TypeError(
            f"boilerplate model seg_key is {key_type.simpleString()}, "
            "expected the 60-bit bigint key; retrain it with "
            "boilerplate_keys()"
        )
    segs = _doc_segments(df, text_col, id_col, seg_tokens)
    kept = segs.filter(F.col("seg").isNotNull()).join(
        boiler, on="seg_key", how="left_anti"
    )
    stats = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("new_text"),
    )
    base = df.select(
        F.col(id_col),
        F.coalesce(_n_seg_expr(text_col, seg_tokens), F.lit(0)).alias(
            "n_seg"
        ),
    )
    return base.join(stats, on=id_col, how="left").select(
        id_col,
        "n_seg",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def exact_jaccard_pairs(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT all-pairs shingle Jaccard >= tau — no sketches, no bands.

    Not the n^2 crossJoin: a pair with Jaccard > 0 must share a
    shingle, so candidates come from the gram-key self-join (the
    source_overlap bound: sum over grams of per-gram doc-cardinality
    squared), then one count aggregate per pair gives |A ∩ B| exactly
    (shingle sets are distinct per doc, so join rows == shared grams).
    This is the ground-truth side of the LSH recall audit — run it on
    an audit sample at 100 TB, never the full corpus: boilerplate
    grams make the per-gram bound explode exactly when dedup matters
    most.
    """
    from webloghunter_spark.session import materialize

    sh = materialize(
        df.select(
            F.col(id_col),
            F.array_distinct(shingles_expr(text_col, shingle_k)).alias("_s"),
        ).filter(F.size("_s") > 0)
    )
    sizes = sh.select(id_col, F.size("_s").alias("_n"))
    grams = sh.select(id_col, F.explode("_s").alias("_g"))
    shared = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a._g") == F.col("b._g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed(id_col, "id_a")
                    .withColumnRenamed("_n", "_na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("_n", "_nb"), "id_b")
        .filter(
            F.col("_shared")
            >= F.lit(tau) * (F.col("_na") + F.col("_nb") - F.col("_shared"))
        )
        .select("id_a", "id_b")
    )


def lsh_recall_audit(
    df: DataFrame,
    tau: float = 0.5,
    num_hashes: int = 4,
    band_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    sample_bp: int = 2_000,
) -> DataFrame:
    """One-row audit of the MinHash-LSH candidate generator against
    exact ground truth: (n_true, n_cand, n_caught, recall_bp) where
    recall_bp = caught/true in integer basis points. The dedup
    deployment check ann_recall is for vectors — band/hash settings
    are only trustworthy once this row says the true near-dup pairs
    actually land in candidate buckets.

    `sample_bp` ENFORCES the audit-sample contract (the
    simhash_pairs lesson: a scale limit that lives only in a
    docstring gets violated): below 10000, the audit runs on a
    deterministic md5-bucket subset of documents — recall estimated
    on a sample is statistically the point of the audit, and the
    exact-truth side's gram join is quadratic in duplicate-family
    size, which on a dup-saturated corpus kills the job outright
    (measured: the 32x dup-stress fixture OOMs the full audit).

    The DEFAULT is therefore a bounded 2000-bp (20%) sample: the
    round-5 probe measured the unguarded full audit killing the JVM at
    the 32x dup-stress while sample_bp=300 finished in 10.6 s with
    recall_bp within 150 bp of truth. The exact all-pairs audit is an
    explicit opt-in (`sample_bp=10_000`), never the default."""
    if not 0 < sample_bp <= 10_000:
        raise ValueError(f"sample_bp must be in (0, 10000], got {sample_bp}")
    if sample_bp < 10_000:
        from webloghunter_spark.pipelines.split import split_bucket_expr

        df = df.filter(
            split_bucket_expr(id_col, "lshaudit") < sample_bp
        )
    truth = exact_jaccard_pairs(df, tau, id_col, text_col, shingle_k)
    cand = lsh_candidate_pairs(
        df, num_hashes=num_hashes, band_size=band_size,
        id_col=id_col, text_col=text_col, shingle_k=shingle_k,
    ).select("id_a", "id_b")
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    g = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        t.crossJoin(c)
        .crossJoin(g)
        .select(
            "n_true",
            "n_cand",
            "n_caught",
            F.when(
                F.col("n_true") > 0,
                F.floor(F.col("n_caught") * 10000 / F.col("n_true")),
            ).otherwise(F.lit(-1)).cast("long").alias("recall_bp"),
        )
    )


def repeated_window_spans(
    df: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr shape, re-expressed relationally): a `window`-token
    span is DUPLICATED if its 60-bit md5-prefix key appears 2+ times
    anywhere in the corpus — across documents or repeated within one
    (past ~2^30 distinct windows, birthday collisions mark a vanishing
    fraction of extra spans; the oracle hashes identically). Returns, per
    document that contains at least one duplicated window,
    (id, ntok, n_rep_windows, dup_tokens, dup_bp) where dup_tokens is
    the UNION length of the covered token spans (overlapping windows
    don't double-count) and dup_bp = dup_tokens/ntok in basis points.
    Downstream policy (cut the spans, drop the doc, weight it down)
    composes on top; suffix-array exactness is traded for the fixed
    window the hash join needs.

    Scale shape:
    - windows are one shingle projection (no shuffle), hashed to a
      60-bit md5-prefix BIGINT;
    - the repeat set is one combinable count per distinct hash; the
      join back is a semi-join on the 8-byte key — Σ volume bounded
      by window count, never pairwise;
    - the span-union is the running-max interval merge: one window
      function per doc ordered by position, where each span
      contributes max(0, end - max(start, max_prev_end)) — O(hits)
      rows through the exchange, never O(ntok).

    The repeat set is a hash aggregate, not the suffix-ordering sort
    of the ExactSubstr pipeline: the partial map-side combine shrinks
    the exchange to |distinct| keys, where a range-partitioned sort
    moves the full window volume (0.99-2.31x the hash form's wall in
    every measured regime, SCALING.md round 9).
    """
    if window <= 0:
        raise ValueError(f"window must be > 0, got {window}")
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col), F.size(tokens_expr(text_col)).cast("long").alias("ntok")
    )
    wins = df.select(
        F.col(id_col),
        F.posexplode(shingles_expr(text_col, window)).alias("_pos", "_g"),
    ).select(
        id_col,
        "_pos",
        # 60-bit md5-prefix window key (round-14 posting compression):
        # the repeat-set groupBy and the semi-join probe both move the
        # full window volume keyed on _h — 8-byte ints instead of
        # 32-char md5 hex cut those exchanges ~3x in key width
        # (32x control: substring_dedup 78.3->60.6 s, substring_remove
        # ~66-72->~60-62 s interleaved). The oracle hashes identically,
        # so a collision merges the same windows in both engines.
        F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    wins = materialize(wins)
    repeated = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
    )
    rep = wins.join(repeated, "_h", "left_semi")
    w = (
        W.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    end = F.col("_pos") + F.lit(window)
    prev_end = F.max(F.col("_pos") + F.lit(window)).over(w)
    contrib = F.greatest(
        end - F.greatest(F.col("_pos"), F.coalesce(prev_end, F.col("_pos"))),
        F.lit(0),
    )
    per_doc = (
        rep.withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_rep_windows"),
            F.sum("_c").cast("long").alias("dup_tokens"),
        )
    )
    return per_doc.join(base, id_col).select(
        id_col,
        "ntok",
        "n_rep_windows",
        "dup_tokens",
        F.floor(F.col("dup_tokens") * 10000.0 / F.col("ntok") + F.lit(0.5))
        .cast("long")
        .alias("dup_bp"),
    )


def remove_repeated_spans(
    df: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ExactSubstr INTERVENTION repeated_window_spans only
    measures (Lee et al. 2022 delete the duplicated spans from the
    training text; reference parity: this is the cleanup step a
    curation pipeline runs after the span audit): rewrite every
    document with all tokens covered by a duplicated `window`-token
    span removed. Returns one row per input document —
    (id, ntok, removed_tokens, clean_text) — where clean_text is the
    surviving tokens joined by single spaces (whitespace is
    normalized by tokenization; a fully-duplicated doc comes back
    with clean_text = '' rather than being dropped, so the caller
    decides the drop policy).

    Scale shape, beyond repeated_window_spans':
    - covered token indices explode only REPEATED windows (x window,
      then distinct caps at ntok per doc) — proportional to the
      duplicated volume, not the corpus;
    - only AFFECTED documents (>= 1 repeated window) take the
      posexplode / anti-join / rebuild path; clean documents pass
      through as a single array_join projection, no explode and no
      shuffle beyond the left_anti probe;
    - the rebuild is one groupBy(id) with array_sort(collect_list) —
      per-doc memory O(ntok), the same bound as holding the document.

    Data-loss caveat of the 60-bit window key: two DIFFERENT windows
    whose keys collide both count as repeated, so every token they
    cover is removed. That deletes real text, and the oracle cannot
    catch it because it hashes identically. Expected colliding pairs
    are ~n^2 / 2^61 for n distinct windows: ~4e-7 at 10^6, ~0.4 at
    10^9, ~4e5 at 10^12 — past ~10^9 distinct windows, expect some
    documents to lose up to `window` tokens each that were not
    duplicated.
    """
    if window <= 0:
        raise ValueError(f"window must be > 0, got {window}")
    wins = df.select(
        F.col(id_col),
        F.posexplode(shingles_expr(text_col, window)).alias("_pos", "_g"),
    ).select(
        id_col,
        "_pos",
        # 60-bit md5-prefix window key (round-14 posting compression):
        # the repeat-set groupBy and the semi-join probe both move the
        # full window volume keyed on _h — 8-byte ints instead of
        # 32-char md5 hex cut those exchanges ~3x in key width
        # (32x control: substring_dedup 78.3->60.6 s, substring_remove
        # ~66-72->~60-62 s interleaved). The oracle hashes identically,
        # so a collision merges the same windows in both engines.
        F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    wins = materialize(wins)
    repeated = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
    )
    rep = wins.join(repeated, "_h", "left_semi")
    covered = materialize(
        rep.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(window - 1))
            ).alias("_i"),
        ).distinct()
    )
    # covered/affected/rebuilt scale with duplicated volume but all
    # sit DOWNSTREAM OF SHUFFLES (distinct/groupBy), so AQE sizes
    # them from runtime stats — a broadcast here is only chosen when
    # the side genuinely fits (contrast the statically-estimated wide
    # shingle table in ngram_jaccard_pairs, which is pinned)
    affected = covered.select(id_col).distinct()
    base = df.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    aff = materialize(base.join(affected, id_col, "left_semi"))
    kept = aff.select(
        F.col(id_col), F.posexplode("_toks").alias("_i", "_t")
    ).join(covered, [id_col, "_i"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_i").alias("i"), F.col("_t").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("_clean"),
    )
    ntok = F.size("_toks").cast("long").alias("ntok")
    aff_out = aff.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        ntok,
        (F.size("_toks") - F.coalesce(F.col("_kept"), F.lit(0)))
        .cast("long")
        .alias("removed_tokens"),
        F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
    )
    clean_out = base.join(affected, id_col, "left_anti").select(
        F.col(id_col),
        ntok,
        F.lit(0).cast("long").alias("removed_tokens"),
        F.array_join("_toks", " ").alias("clean_text"),
    )
    return aff_out.unionByName(clean_out)


def component_representatives(
    cc: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "rep",
    score_col: str = "quality_bp",
) -> DataFrame:
    """Pick each near-dup component's BEST-scoring member as the
    survivor instead of the min-id default: `cc` is a
    near_dedup_cc-style (id, rep) labeling, `scores` a per-id score
    table; returns (id, rep, score, is_rep) with exactly one
    is_rep=true per component — highest score wins, ties to the
    lowest id. The keep-the-best-quality-copy policy real curation
    pipelines want (the min-id rule keeps an arbitrary copy).

    Scale: the argmax is a combinable groupBy(rep) aggregate over
    max(struct(score, -id)) — no per-component window, so a
    dup-saturated giant component costs a wide aggregate cell, not a
    single-task sort; the keep table joins back on rep (hash join,
    |components| rows — do NOT broadcast, components ~ docs)."""
    j = cc.join(scores, id_col)
    best = (
        j.groupBy(rep_col)
        .agg(
            F.max(
                F.struct(
                    F.col(score_col).alias("s"),
                    (-F.col(id_col)).alias("ni"),
                )
            ).alias("_b")
        )
        .select(
            rep_col,
            (-F.col("_b.ni")).cast("long").alias("_keep_id"),
        )
    )
    return j.join(best, rep_col).select(
        id_col,
        rep_col,
        score_col,
        (F.col(id_col) == F.col("_keep_id")).alias("is_rep"),
    )


def _band_candidates(nb: DataFrame, cb: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a=new, id_b=corpus) pairs sharing an LSH band hash:
    the equi-join of two lsh_band_signatures frames on (band, bh)."""
    n, c = nb.alias("n"), cb.alias("c")
    return (
        n.join(
            c,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bh") == F.col("c.bh")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _near_drop(
    new: DataFrame,
    cand: DataFrame,
    new_sh: DataFrame,
    corpus_sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """incremental_near_dedup's decision: the rows of `new` with no
    band candidate in `cand` whose exact Jaccard (over the (id, _sh)
    sets `new_sh` / `corpus_sh`) reaches threshold. Never
    materializes, so the streaming twin runs it per micro-batch."""
    sims = _jaccard_verify(cand, new_sh, corpus_sh, id_col, threshold)
    drop = sims.select(F.col("id_a").alias(id_col)).distinct()
    return new.join(drop, id_col, "left_anti")


def incremental_near_dedup(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """ASYMMETRIC near-dedup — the daily-ingest production shape: drop
    every NEW-batch document with a >= threshold Jaccard near-dup in
    the already-accepted corpus, WITHOUT re-deduping the corpus
    (near_dedup re-scans everything; at 100 TB the corpus's band
    signatures are written once — `lsh_band_signatures` is the index
    — and each ingest batch only signatures ITSELF). Ids must be
    globally unique across both frames. New-vs-new duplicates are
    deliberately NOT dropped here — run near_dedup on the batch first
    if ingest batches self-duplicate.

    Cost: |batch| signatures + an equi-join on (band, bh) whose volume
    is Σ batch-bucket x corpus-bucket — bounded by bucket sizes, never
    |batch| x |corpus| — then exact Jaccard on candidates only and a
    left-anti drop. Only documents that actually appear in a candidate
    pair are shingled for the exact-Jaccard pass (a left_semi prunes
    new ∪ corpus to the candidate id set first), so the corpus is
    never re-tokenized wholesale per ingest batch.

    Composition: _band_candidates, then _near_drop. The streaming twin
    (streaming/incdedup.incremental_dedup_stream_writer) calls the same
    two functions per micro-batch; it persists the corpus band
    signatures and shingle sets once instead of pruning."""
    nb = materialize(
        lsh_band_signatures(
            new, text_col, id_col, num_hashes, band_size, shingle_k
        )
    )
    cb = lsh_band_signatures(
        corpus, text_col, id_col, num_hashes, band_size, shingle_k
    )
    # cand feeds three consumers (the id-universe prune below plus both
    # sides of the pair join) — materialize so the banded join runs once
    cand = materialize(_band_candidates(nb, cb, id_col))
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    u = (
        new.select(id_col, text_col)
        .union(corpus.select(id_col, text_col))
        .join(cand_ids, id_col, "left_semi")
    )
    # the pruned shingle table feeds both sides of the pair join
    sh = materialize(_shingle_sets(u, text_col, id_col, shingle_k))
    return _near_drop(new, cand, sh, sh, id_col, threshold)


def dup_source_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Cross-source near-duplicate FLOW MATRIX — the diagnostic that
    decides dedup scope before anything is dropped: for every
    unordered source pair, how many >=threshold near-dup pairs live
    there (diagonal = within-source churn, off-diagonal = one crawl /
    snapshot copying another). At 100 TB this is what tells you
    whether per-source dedup suffices or the expensive cross-source
    pass is warranted, and which source pairs to scope it to.

    Rides the same MinHash->LSH->exact-Jaccard machinery as
    near_dedup (identical candidates and threshold semantics; raw
    jaccard >= threshold implies grid-rounded >= threshold whenever
    the threshold sits ON the 1e-4 grid, and shingle-set ratios are
    too coarse to land inside 5e-5 of it — the near_dedup boundary
    argument). Sources ride THROUGH the verify joins as carried
    columns (ngram_jaccard_pairs carry_cols) — zero additional joins
    or pair-keyed shuffles beyond the verify itself; the first
    design labeled pairs with a separate role-exploded corpus join
    and ran 66.5 s / 18.6x at the 32x dup-stress probe, the carried
    form 46.3 s / 8.9x — inside the pair family's documented stress
    band (near_dedup 6.3-8.4x, dup_stats 8.1x). share_bp is
    the half-up integer share of all surviving pairs, computed by an
    unpartitioned window on the <=|sources|^2-row matrix only. NULL
    sources coalesce to '' (cross-engine least/greatest NULL
    semantics differ)."""
    pairs = lsh_candidate_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k,
    )
    sims = ngram_jaccard_pairs(
        df, pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k, threshold=threshold,
        carry_cols=(source_col,),
    )
    sa = F.coalesce(F.col(f"{source_col}_a"), F.lit(""))
    sb = F.coalesce(F.col(f"{source_col}_b"), F.lit(""))
    mat = (
        sims.groupBy(
            F.least(sa, sb).alias("source_lo"),
            F.greatest(sa, sb).alias("source_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    from pyspark.sql import Window as W

    # exact integer share (the shard_balance div convention) — never
    # float division + floor
    return (
        mat.select(
            "source_lo",
            "source_hi",
            "n_pairs",
            F.sum("n_pairs").over(W.partitionBy()).alias("_tot"),
        )
        .select(
            "source_lo",
            "source_hi",
            "n_pairs",
            F.expr("(n_pairs * 20000 + _tot) div (2 * _tot)")
            .cast("long")
            .alias("share_bp"),
            (F.col("source_lo") != F.col("source_hi")).alias("cross_source"),
        )
    )


def dedup_sensitivity(
    df: DataFrame,
    thresholds_bp: tuple = (7000, 8000, 9000),
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup attrition vs Jaccard threshold — the choose-the-knob
    curve run BEFORE committing a dedup pass (contam_sensitivity's
    sibling): for each candidate threshold, how many >=t pairs exist
    and how many documents the lower-id-wins rule would drop. ONE
    MinHash->LSH->exact-Jaccard pass shared across every threshold
    (the expensive part is threshold-independent); thresholds attach
    as a broadcast |thresholds|-row frame and the comparison runs on
    the integer bp grid (the stored grid-rounded jaccard re-derives
    its bp exactly in both engines — never a float >= against a
    decimal literal). n_docs_dropped is monotone non-increasing in
    t_bp; a threshold with no surviving pairs emits no row (both
    engines filter-then-group)."""
    for t in thresholds_bp:
        if not 0 <= int(t) <= 10000:
            raise ValueError(f"thresholds_bp must be in [0, 10000], got {t}")
    pairs = lsh_candidate_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k,
    )
    sims = ngram_jaccard_pairs(
        df, pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k, threshold=0.0,
    )
    jbp = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("long")
    tdf = df.sparkSession.createDataFrame(
        [(int(t),) for t in thresholds_bp], "t_bp long"
    )
    j = sims.select("id_a", "id_b", jbp.alias("_jbp")).join(
        F.broadcast(tdf), F.col("_jbp") >= F.col("t_bp")
    )
    return j.groupBy("t_bp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("id_b").alias("n_docs_dropped"),
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style overlap pairs from WINNOWED fingerprints (Schleimer
    et al., SIGMOD 2003) — the cheap candidate generator winnowing
    exists for: a doc's fingerprint set is ~|text| / ((window+1)/2)
    selected hashes instead of every shingle, so the inverted index
    this self-join rides is an order of magnitude sparser than the
    shingle index containment_pairs uses, at the cost of the
    winnowing guarantee (only matches of length >= kgram + window - 1
    chars are certain to share a fingerprint). Returns (id_a, id_b,
    n_shared, overlap_bp) for pairs sharing >= min_shared selected
    fingerprints; overlap_bp = n_shared / min(|A|, |B|) on the
    integer bp grid (pure integer division — no float grid exposure).

    Candidates come from DISCRIMINATIVE fingerprints (2 <= df <=
    max_df, the containment_pairs bound: sum df^2 <= max_df * sum df,
    never all-pairs); verification is exact on the per-doc sorted
    distinct fingerprint arrays with the same shuffle_hash discipline
    (the fingerprint table scales with the corpus — never broadcast).
    Fingerprints come from with_winnowed_fingerprints (the Arrow
    scan path), pinned to the winnow oracle by the registry and the
    property tests."""
    from webloghunter_spark.functions.text import with_winnowed_fingerprints

    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # No filter on _fp: Catalyst would push it beneath the UDF and run
    # the UDF twice (see minhash_sig_udf). A doc without fingerprints
    # explodes to no rows, so it never enters a candidate pair.
    sh = materialize(
        with_winnowed_fingerprints(
            df.select(F.col(id_col), F.col(text_col)),
            text_col, out_col="_fp", kgram=kgram, window=window,
        ).select(F.col(id_col), F.col("_fp"))
    )
    inv = sh.select(F.col(id_col), F.explode("_fp").alias("_g"))
    rare = (
        inv.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= int(max_df)))
        .select("_g")
    )
    rinv = inv.join(rare, "_g", "left_semi")
    cand = (
        rinv.alias("l")
        .join(
            rinv.alias("r"),
            (F.col("l._g") == F.col("r._g"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    ex = (
        cand.join(a, cand.id_a == F.col(f"a.{id_col}"))
        .join(b, cand.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("a._fp", "b._fp"))
            .cast("long")
            .alias("n_shared"),
            F.size("a._fp").cast("long").alias("_na"),
            F.size("b._fp").cast("long").alias("_nb"),
        )
    )
    return (
        ex.filter(F.col("n_shared") >= int(min_shared))
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("n_shared * 10000 div least(_na, _nb)")
            .cast("long")
            .alias("overlap_bp"),
        )
    )


def hashed_shingles_expr(text_col: Column | str, k: int = 3) -> Column:
    """Distinct token k-gram shingles POSTING-COMPRESSED to 60-bit
    ints: conv(substring(md5(shingle), 1, 15), 16, 10) — chosen
    because DuckDB computes the identical value as
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT), so an oracle
    hashes bit-identically and the exactness gate holds BY
    CONSTRUCTION even if two shingles ever collide (both engines
    merge the same pair). 15 hex chars = 60 bits < 2^63: the cast
    never overflows.

    Why: the containment family's dominant cost is the exact verify's
    array_intersect over STRING shingle arrays plus the string-keyed
    inverted index. 8-byte ints cut shuffle width ~3x and compare at
    word speed — measured 195 -> 73 s (2.7x) for the containment_pairs
    shape at the 32x control fixture, identical pair sets
    (SCALING.md round-12 note)."""
    sh = F.array_distinct(shingles_expr(text_col, k))
    return F.array_distinct(
        F.transform(
            sh,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )


def winnow_containment_drop(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 4,
    threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> DataFrame:
    """containment_drop's intervention on WINNOWED fingerprints
    (Schleimer et al., SIGMOD 2003) instead of full shingle sets —
    the same quote-farm / wrapper-page removal policy at
    ~1/((window+1)/2) the index density: a doc's fingerprint set is
    the winnow-selected subsample of its k-gram hashes, so the
    inverted index the candidate join rides, the per-doc arrays the
    exact verify intersects, and the stats frame are all an order of
    magnitude smaller than the shingle forms'.

    Decision rules are containment_drop's, verbatim, on fingerprint
    counts (n_a, n_b = distinct selected fingerprints, n_common =
    shared ones; all EXACT-INTEGER on the bp grid):

    - A contained-in B iff n_common * 10000 >= threshold_bp * n_a
      AND n_b * 10000 >= size_ratio_bp * n_a;
    - one direction -> drop the contained doc; mutual -> keep-best
      (higher quality_bp survives, ties keep the lower id —
      dedup_keep_best's rule);
    - dropped iff ANY pair designates the doc the drop side (the
      container itself surviving is NOT required, so no iteration;
      a SQL oracle expresses it as one EXISTS).

    Semantics caveat vs the shingle form: winnowing guarantees shared
    fingerprints only for matches >= kgram + window - 1 chars, and a
    contained doc loses window-boundary fingerprints at its edges —
    threshold_bp absorbs the boundary loss, but a doc SHORTER than
    kgram + window - 1 normalized chars (empty fingerprint set) can
    never be dropped. The df-bounded candidate miss (pairs sharing
    only df > max_df fingerprints) carries over from containment_drop.

    Output: one row per input doc — (id, n_fps, quality_bp,
    n_containers, dropped), n_fps = 0 for too-short docs.

    Scale shape: ONE text pass (the Arrow winnow UDF) computes fingerprints AND quality; quality rides
    through the verify joins as carry_cols (the containment_drop /
    dup_source_matrix lesson); candidates come from discriminative
    fingerprints (2 <= df <= max_df: sum df^2 <= max_df * sum df,
    never all-pairs); verification is exact array-intersect under
    shuffle_hash (the fingerprint table scales with the corpus —
    never broadcast it)."""
    _check_drop_args(threshold_bp, size_ratio_bp, max_df, min_max_df=2)
    from webloghunter_spark.functions.text import (
        quality_bp_expr,
        with_winnowed_fingerprints,
    )

    # one text pass: winnowed fingerprints (already distinct-sorted)
    # and quality in the same scan; materialize is the pushdown
    # barrier the winnow UDF needs (explode-inferred size filters
    # would re-run it below the projection)
    base = materialize(
        with_winnowed_fingerprints(
            df.select(
                F.col(id_col),
                F.col(text_col),
                F.coalesce(quality_bp_expr(text_col), F.lit(0))
                .cast("long")
                .alias("_q"),
            ),
            text_col,
            out_col="_sh",
            kgram=kgram,
            window=window,
        ).select(F.col(id_col), "_sh", "_q")
    )
    sh = base.filter(F.size("_sh") > 0)
    scored = _containment_ex(
        sh, id_col, max_df, carry_cols=("_q",)
    ).withColumnsRenamed({"_q_a": "_qa", "_q_b": "_qb"})
    drops = _keep_best_drops(scored, id_col, threshold_bp, size_ratio_bp)
    stats = base.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("n_fps"),
        F.col("_q").alias("quality_bp"),
    )
    return _drop_verdicts(stats, drops, id_col)


def dedup_keep_best(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup keeping the BEST duplicate, not the first: per
    normalized-text fingerprint group, the surviving row is the one
    with the highest quality_bp (ties -> lowest id). The CCNet /
    RefinedWeb keep rule — duplicates differ in case/whitespace/
    punctuation even when their normalized text is identical, and a
    pipeline wants the cleanest variant, which min-id (exact_dedup)
    picks only by accident.

    Output: (fingerprint, doc_id, quality_bp, n_dups).

    Scale shape: identical to exact_dedup — ONE combinable aggregate
    on the md5 fingerprint; the argmax is a lexicographic struct
    MIN ((-bp, id)), so no per-group window or second pass, and the
    quality score is computed in the map stage (codegen, no Python).
    Integer basis points make the argmax engine-exact.
    """
    from webloghunter_spark.functions.text import (
        fingerprint_expr,
        quality_bp_expr,
    )

    keyed = df.select(
        F.col(id_col),
        fingerprint_expr(text_col).alias("fingerprint"),
        quality_bp_expr(text_col).alias("_bp"),
    )
    best = keyed.groupBy("fingerprint").agg(
        F.min(
            F.struct(
                (-F.col("_bp")).alias("nb"), F.col(id_col).alias("i")
            )
        ).alias("_w"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return best.select(
        "fingerprint",
        F.col("_w.i").alias(id_col),
        (-F.col("_w.nb")).cast("long").alias("quality_bp"),
        "n_dups",
    )


def dup_ngram_frac(
    df: DataFrame,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of its DISTINCT token k-gram shingles
    that also appear in at least one OTHER document — the
    against-the-corpus repetition signal (RefinedWeb/Gopher family):
    rep_signals reads repetition WITHIN a doc; this reads how much of
    a doc is boilerplate shared across the corpus. High dup_bp + low
    quality flags template farms; high dup_bp on one source flags a
    mirror.

    Output: (id, n_shingles, n_dup, dup_bp) — dup_bp the exact
    integer (n_dup * 10000) div n_shingles, 0 for shingle-less docs.
    Shingle identity is the 60-bit hashed key (hashed_shingles_expr):
    past ~2^30 distinct corpus grams, birthday collisions merge a few
    gram classes and can inflate n_dup by a vanishing fraction vs
    string-shingle semantics; the oracle hashes identically, so
    engine/oracle parity is unaffected.

    Scale shape: the tfidf family — one exchange to the distinct
    (shingle, doc) posting frame, document frequency as a COUNT
    window over the shingle partition on that same layout (no second
    shuffle for df, unlike a groupBy+join-back), then one groupBy id
    to fold per-doc counts. Shingle text never moves twice: the
    posting rows carry (md5-sized shingle string, id) only. For
    stopword-shingle skew at 100 TB, salt the df aggregation like
    tfidf_topk's salted path.
    """
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    from pyspark.sql import Window as W

    # posting rows carry (60-bit hashed shingle, id) — the round-13
    # posting compression: the one exchange and the df window key move
    # 8-byte ints instead of shingle strings (oracle hashes
    # identically; a collision merges the same grams in both engines)
    posting = df.select(
        F.col(id_col),
        F.explode(hashed_shingles_expr(text_col, shingle_k)).alias("_sh"),
    )
    dfreq = F.count(F.lit(1)).over(W.partitionBy("_sh"))
    per_doc = (
        posting.withColumn("_df", dfreq)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") >= 2).cast("long")).alias("n_dup"),
        )
    )
    out = (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
        )
    )
    return out.withColumn(
        "dup_bp",
        F.when(
            F.col("n_shingles") > 0,
            F.expr("(n_dup * 10000) div n_shingles"),
        ).otherwise(F.lit(0)).cast("long"),
    )
