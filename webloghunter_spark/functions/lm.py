"""Corpus-trained n-gram language-model scoring — the perplexity
quality filter of web-corpus pipelines (CCNet / Gopher / RefinedWeb
filter on LM perplexity; here the LM is a self-trained add-alpha
token-bigram model so the whole computation stays inside the engine
and an external SQL oracle reproduces it bit-for-bit).

Model: P(w2 | w1) = (C(w1 w2) + alpha) / (C(w1 ·) + alpha * V), with
C counted over the corpus's bigram occurrences and V the corpus
unigram vocabulary size. A document's score is the mean natural-log
likelihood of its bigrams; low scores mark gibberish / boilerplate /
wrong-language text relative to the corpus distribution.

Scale shape (100 TB corpus):
- bigram extraction is a narrow projection + explode (no shuffle);
- the count tables aggregate map-side-combinable on compact keys
  ((w1, w2) strings); their size is bounded by OBSERVED n-gram
  vocabulary, not corpus size;
- scoring joins each doc's bigram rows to the count tables — shuffle
  joins on (w1, w2) and (w1). Hot bigrams ("of the") skew those joins;
  AQE's skew-join splitting handles it, and a salted layout (two-stage
  counts, count tables replicated S ways) measured ~1.6x slower at
  both 32x fixtures (SCALING.md round 14);
- the vocabulary size V is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from webloghunter_spark.functions.similarity import grid_round_expr

from webloghunter_spark.functions.text import tokens_expr
from webloghunter_spark.session import materialize


def _bigram_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) per consecutive lowercased token pair; docs with
    fewer than 2 tokens contribute no rows.

    Built as arrays_zip of two slices rather than a transform-over-
    indices HOF: slice/arrays_zip stay inside whole-stage codegen while
    transform+element_at is interpreted per element — at a 32x corpus
    the HOF form was the profile's hot spot."""
    toks = F.lower(F.concat_ws(" ", tokens_expr(text_col)))
    t = F.split(toks, " ")  # re-split the lowercased join: one lower() call
    n = F.size(t)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1)),
    )
    return (
        df.select(F.col(id_col), F.explode(pairs).alias("_p"))
        .select(id_col, F.col("_p.0").alias("w1"), F.col("_p.1").alias("w2"))
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """(id, n_bigrams, avg_ll): mean ln-likelihood of each document's
    token bigrams under the corpus's own add-alpha bigram model.
    Documents with < 2 tokens return n_bigrams=0, avg_ll NULL."""
    # The bigram table feeds THREE consumers (cb, cu, the probe side);
    # without materialization the interpreted-HOF extraction re-runs per
    # consumer and the query goes superlinear at scale (13x wall at a
    # 32x corpus, vs ~2x once cached — SCALING.md round 4).
    bi = materialize(_bigram_rows(df, text_col, id_col))
    vocab = (
        df.select(
            F.explode(
                F.transform(tokens_expr(text_col), lambda t: F.lower(t))
            ).alias("_tok")
        )
        .agg(F.count_distinct("_tok").alias("_v"))
    )
    a = F.lit(float(alpha))
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cb"))
    cu = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("_cu"))
    scored = (
        bi.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log((F.col("_cb") + a) / (F.col("_cu") + a * F.col("_v"))).alias("_lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        grid_round_expr(F.avg("_lp"), round_digits).alias("avg_ll"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("avg_ll"),
        )
    )


def perplexity_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 0.5,
    max_boundary_rows: int | None = 1_000_000,
) -> DataFrame:
    """CCNet's head/middle/tail perplexity banding: per language,
    split the scoreable corpus into equal-height terciles of the
    bigram-LM likelihood (`bigram_logprob`) — best-modeled third is
    'head', worst is 'tail'; the keep policy (`kept` = head|middle,
    CCNet keeps head+middle for LM pretraining) drops the
    highest-perplexity third. Documents with < 2 tokens can't be
    scored: band 'empty', kept=false, excluded from the terciles.

    Semantics are EXACTLY ntile(3) OVER (PARTITION BY lang ORDER BY
    ll_q DESC, id) — but the implementation never runs that window:
    at 100 TB a per-lang ntile puts an entire language's corpus in
    ONE window partition (a single-task sort for 'en'). Instead, the
    token_budget_select discipline:
      1. one combinable (lang, ll_q) histogram — ll_q is avg_ll on
         the 1e-4 integer grid (avg_ll is already 4-digit-rounded,
         so ll_q is exact), bounded by the score grid x #langs, not
         the corpus;
      2. a driver walk over the tiny histogram finds each lang's two
         boundary cells and how many of each cell's docs fall above
         the cut;
      3. non-boundary docs band by two integer compares (codegen'd
         scan); ONLY the <= 2*#langs boundary cells take a
         row_number window, partitioned by their own cell — the
         ordered scan covers single cells, never the corpus. The
         collect guard (`max_boundary_rows`) is the fuzzy-join
         depth-guard discipline: a cell so deep the tie-split frame
         would dominate a task should fail loudly.
    """
    scores = bigram_logprob(df, text_col, id_col, alpha=alpha)
    base = (
        df.select(id_col, F.col(lang_col).alias("lang"))
        .join(scores, id_col)
        .select(
            id_col,
            "lang",
            "n_bigrams",
            F.coalesce("avg_ll", F.lit(0.0)).alias("avg_ll"),
            F.floor(F.coalesce("avg_ll", F.lit(0.0)) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("_llq"),
        )
    )
    # three consumers (histogram, boundary cells, final band scan) —
    # and upstream sits the whole LM scoring join; re-running that per
    # consumer is the superlinear trap bigram_logprob documents
    base = materialize(base)
    hist = (
        base.filter(F.col("n_bigrams") > 0)
        .groupBy("lang", "_llq")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    by_lang: dict = {}
    for r in hist:
        by_lang.setdefault(r["lang"], []).append((int(r["_llq"]), int(r["_n"])))
    # per lang: descending-score walk to the ntile(3) boundaries.
    # head_n/mid_n replicate ntile's allocation (first buckets take
    # the remainder), so the oracle can be the plain window form.
    cuts = {}  # lang -> (cut1, take1, cut2, take2)
    for lang, cells in by_lang.items():
        cells.sort(key=lambda c: -c[0])
        n = sum(c[1] for c in cells)
        head_n = n // 3 + (1 if n % 3 >= 1 else 0)
        mid_n = head_n + n // 3 + (1 if n % 3 >= 2 else 0)
        cum = 0
        cut1 = take1 = cut2 = take2 = None
        for q, cn in cells:
            if cut1 is None and cum + cn >= head_n:
                cut1, take1 = q, head_n - cum
            if cut2 is None and cum + cn >= mid_n:
                cut2, take2 = q, mid_n - cum
                break
            cum += cn
        cuts[lang] = (cut1, take1, cut2, take2)
    # NULL lang is its own partition (the oracle's ntile does the
    # same); a plain == would three-value every NULL-lang row into
    # the default band
    def _is_lang(lang):
        return F.col("lang").eqNullSafe(F.lit(lang).cast("string"))

    # tie-split ranks for the boundary cells only (<= 2 cells/lang)
    bnd_pred = F.lit(False)
    for lang, (cut1, _t1, cut2, _t2) in cuts.items():
        cells = {cut1, cut2}
        bnd_pred = bnd_pred | (
            _is_lang(lang) & F.col("_llq").isin(list(cells))
        )
    bnd = base.filter(bnd_pred & (F.col("n_bigrams") > 0)).select(
        id_col, "lang", "_llq"
    )
    if max_boundary_rows is not None:
        depth = bnd.count()
        if depth > max_boundary_rows:
            raise ValueError(
                f"perplexity_bands: boundary cells hold {depth} rows"
                f" (> {max_boundary_rows}) — the 1e-4 score grid is too"
                f" coarse for this corpus; raise max_boundary_rows"
                f" deliberately or band on a finer score."
            )
    from pyspark.sql import Window

    w = Window.partitionBy("lang", "_llq").orderBy(F.col(id_col).asc())
    rn = bnd.select(
        id_col, "lang", "_llq", F.row_number().over(w).alias("_rn")
    )
    joined = base.join(rn.select(id_col, "_rn"), id_col, "left")
    # per-lang banding expression from the driver-side cuts: a chain
    # over #langs branches of integer compares — pure codegen
    band = F.lit("tail")
    for lang, (cut1, take1, cut2, take2) in cuts.items():
        is_lang = _is_lang(lang)
        head = (F.col("_llq") > F.lit(cut1)) | (
            (F.col("_llq") == F.lit(cut1)) & (F.col("_rn") <= F.lit(take1))
        )
        middle = (F.col("_llq") > F.lit(cut2)) | (
            (F.col("_llq") == F.lit(cut2)) & (F.col("_rn") <= F.lit(take2))
        )
        band = F.when(
            is_lang, F.when(head, F.lit("head")).when(middle, F.lit("middle")).otherwise(F.lit("tail"))
        ).otherwise(band)
    band = F.when(F.col("n_bigrams") == 0, F.lit("empty")).otherwise(band)
    return joined.select(
        id_col,
        "lang",
        "n_bigrams",
        "avg_ll",
        band.alias("band"),
        band.isin(["head", "middle"]).alias("kept"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    phrase-mining primitive (Church & Hanks 1990) a tokenizer/vocab
    pipeline runs to find multi-word units worth merging: for each
    corpus bigram, PMI = ln(C(w1,w2) * N / (C_left(w1) * C_right(w2)))
    with N the total bigram count; pairs below `min_count` are noise
    (PMI's low-frequency bias) and are dropped before ranking.
    Returns (w1, w2, n_pair, pmi_micro) — PMI in micro-nats on the
    1e-6 integer grid (ln over identical IEEE doubles is
    engine-portable; the grid makes the rank order explicit) — the
    global top `k` by (pmi_micro DESC, w1, w2).

    Scale: the three count tables are map-side-combinable aggregates
    bounded by OBSERVED vocabulary; the min_count filter shrinks the
    pair table before any join; the two margin joins shuffle on
    single-token keys (stopword skew — same AQE/salting note as
    bigram_logprob); the top-k is orderBy+limit, which Spark executes
    as TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    bi = materialize(_bigram_rows(df, text_col, id_col))
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    c2 = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("_c2"))
    n = bi.agg(F.count(F.lit(1)).alias("_n"))
    ratio = (
        F.col("n_pair").cast("double") * F.col("_n").cast("double")
    ) / (F.col("_c1").cast("double") * F.col("_c2").cast("double"))
    return (
        cb.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.floor(F.log(ratio) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(k)
    )


def bigram_lm_model(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict:
    """Train-once artifact for frozen-LM scoring: the two count
    frames and the vocabulary size, persisted (stream-lifetime state,
    so plain persist — NOT session.materialize: the frozen side
    outlives any run). The dict is the model: pass it to
    `bigram_logprob_frozen` / the streaming scorer."""
    # the bigram frame feeds both count tables: persist it so the
    # extraction runs once, and free it once they are filled
    bi = _bigram_rows(df, text_col, id_col).persist()
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cb")).persist()
    cu = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("_cu")).persist()
    v = int(
        df.select(
            F.explode(
                F.transform(tokens_expr(text_col), lambda t: F.lower(t))
            ).alias("_tok")
        )
        .agg(F.count_distinct("_tok").alias("_v"))
        .collect()[0]["_v"]
    )
    cb.count(), cu.count()  # pin state before the source frame moves on
    bi.unpersist()
    return {"cb": cb, "cu": cu, "v": v}


def bigram_logprob_frozen(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """Score documents under a FROZEN bigram LM (CCNet's deployment
    shape: the LM is trained on a reference corpus once, then scores
    the crawl). Unseen bigrams take the smoothed floor the add-alpha
    model assigns them ((0+a)/(0+a*V) = 1/V for an unseen left
    token). Scoring a corpus under its own model reproduces
    `bigram_logprob` exactly — the parity surface the streaming twin
    tests. Same output schema as bigram_logprob.

    Scale: two left joins against vocabulary-bounded count frames —
    the same exchange shape as batch scoring; the model frames are
    reused across calls/batches without recomputation."""
    bi = _bigram_rows(df, text_col, id_col)
    a = F.lit(float(alpha))
    v = F.lit(int(model["v"]))
    scored = (
        bi.join(model["cb"], ["w1", "w2"], "left")
        .join(model["cu"], "w1", "left")
        .select(
            id_col,
            F.log(
                (F.coalesce("_cb", F.lit(0)) + a)
                / (F.coalesce("_cu", F.lit(0)) + a * v)
            ).alias("_lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        grid_round_expr(F.avg("_lp"), round_digits).alias("avg_ll"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("avg_ll"),
        )
    )
