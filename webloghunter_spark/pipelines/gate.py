"""Document intake gate: the composed keep/drop decision of a
training-corpus filter chain (C4 / Gopher / RefinedWeb-style rule
stacks): length bounds, encoding damage, heuristic quality, and
corpus-LM likelihood, applied in a FIXED order with the first failing
rule recorded as the drop reason — the audit trail a data pipeline
needs to answer "why did this document disappear".

Engine-portability: every threshold compare is integer arithmetic
(token counts, quality basis points, and an integer cross-multiply for
the non-printable ratio — npr * 10000 > max_bp * nchar — so no
double-rounding boundary can diverge between engines); only the LM
rule compares a rounded double.

Scale shape: one narrow whole-stage-codegen pass over the text for the
counting rules (no shuffle), plus — only when the LM rule is enabled —
the bigram_logprob join (its own scale notes in functions/lm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.lm import bigram_logprob
from webloghunter_spark.functions.text import (
    NON_PRINTABLE_ASCII,
    STOPWORDS,
    quality_bp_expr,
    token_count_expr,
    tokens_expr,
)

GATE_RULES = ("too_short", "too_long", "encoding", "low_quality", "low_lm")


def _gate_metrics(c):
    """The four row-local gate metrics as raw Columns — the ONE
    definition quality_gate and gate_keep_expr both build from, so the
    join-free funnel filter can never drift from the audited verdict
    frame."""
    ntok = F.coalesce(token_count_expr(c), F.lit(0))
    nchar = F.greatest(
        F.coalesce(F.length(c).cast("long"), F.lit(0)), F.lit(1)
    )
    npr = F.coalesce(
        (F.length(c) - F.length(F.regexp_replace(c, NON_PRINTABLE_ASCII, "")))
        .cast("long"),
        F.lit(0),
    )
    qbp = F.coalesce(quality_bp_expr(c), F.lit(0))
    return ntok, nchar, npr, qbp


def gate_keep_expr(
    text_col,
    min_tokens: int = 30,
    max_tokens: int = 5000,
    max_nonprintable_bp: int = 1000,
    min_quality_bp: int = 5000,
):
    """Row-local boolean form of quality_gate's keep decision with the
    LM rule OFF — `keep == (reason == '')` for the four counting rules,
    by construction (same metric exprs, conjunction of the negated rule
    conditions; every metric is coalesced so no compare is ever NULL).

    Exists so funnel gate stages can run as ONE whole-stage-codegen
    filter pass over the text instead of building the (id, keep,
    reason) verdict frame and semi-joining it back — the verdict path
    scans the text twice (once for keep ids, once probing the join)
    and pays a join; this is the guide-§2.4 shuffle/scan removal.
    Callers that need the drop REASON still use quality_gate."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    ntok, nchar, npr, qbp = _gate_metrics(c)
    return (
        (ntok >= min_tokens)
        & (ntok <= max_tokens)
        & (npr * 10000 <= F.lit(max_nonprintable_bp) * nchar)
        & (qbp >= min_quality_bp)
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 5000,
    max_nonprintable_bp: int = 1000,
    min_quality_bp: int = 5000,
    min_avg_ll: float | None = None,
    lm_alpha: float = 0.5,
) -> DataFrame:
    """(id, keep, reason): keep=false rows carry the FIRST failing rule
    from GATE_RULES; keep=true rows have reason=''.

    `min_avg_ll=None` disables the LM rule (and its join entirely —
    the gate is then a single scan pass). With the rule on, the LM is
    self-trained on `df` (bigram_logprob); the streaming twin scores
    under a frozen model instead and shares the verdict, _gate_verdicts."""
    ll = None
    if min_avg_ll is not None:
        ll = bigram_logprob(df, text_col, id_col, alpha=lm_alpha)
    return _gate_verdicts(
        df, ll, text_col, id_col, min_tokens, max_tokens,
        max_nonprintable_bp, min_quality_bp, min_avg_ll,
    )


def _gate_verdicts(
    df: DataFrame,
    ll: DataFrame | None,
    text_col: str,
    id_col: str,
    min_tokens: int,
    max_tokens: int,
    max_nonprintable_bp: int,
    min_quality_bp: int,
    min_avg_ll: float | None,
) -> DataFrame:
    """quality_gate's (id, keep, reason) rule stack over `df`, with the
    LM rule reading `avg_ll` from the per-doc score frame `ll` (left
    joined on id; a doc without a score fails it). `ll=None` leaves
    the LM rule out."""
    c = F.col(text_col)
    ntok, nchar, npr, qbp = _gate_metrics(c)

    out = df.select(
        F.col(id_col),
        ntok.alias("_ntok"),
        nchar.alias("_nc"),
        npr.alias("_npr"),
        qbp.alias("_qbp"),
    )
    if ll is not None:
        out = out.join(ll.select(id_col, "avg_ll"), id_col, "left")

    reason = (
        F.when(F.col("_ntok") < min_tokens, "too_short")
        .when(F.col("_ntok") > max_tokens, "too_long")
        .when(
            F.col("_npr") * 10000 > F.lit(max_nonprintable_bp) * F.col("_nc"),
            "encoding",
        )
        .when(F.col("_qbp") < min_quality_bp, "low_quality")
    )
    if ll is not None:
        reason = reason.when(
            F.col("avg_ll").isNull() | (F.col("avg_ll") < min_avg_ll), "low_lm"
        )
    reason = reason.otherwise("")
    return out.select(
        id_col,
        (reason == "").alias("keep"),
        reason.alias("reason"),
    )


GOPHER_RULES = (
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "alpha_words",
    "stopwords",
    "bullet_lines",
    "ellipsis_lines",
)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl_deci: int = 30,
    max_mwl_deci: int = 100,
    max_symbol_bp: int = 1000,
    min_alpha_bp: int = 8000,
    min_stopwords: int = 2,
    max_bullet_bp: int = 9000,
    max_ellipsis_bp: int = 3000,
) -> DataFrame:
    """The Gopher repetition-free quality-rule matrix (Rae et al. 2021,
    §A1.1 "Massive-Text quality filtering"): per document, one boolean
    PER RULE plus the failure count — the full audit matrix, unlike
    quality_gate's first-failing-reason collapse. Rules (defaults are
    the published values, expressed on integer grids):

    - word_count: min_words <= ntok <= max_words
    - mean_word_len: mean token length in [min_mwl_deci, max_mwl_deci]
      deci-chars (Gopher: 3..10 chars) — integer cross-multiply
      ``sumlen*10 vs bound*ntok``, no float division
    - symbol_ratio: ('#' chars + '...' runs) / ntok <= max_symbol_bp
    - alpha_words: fraction of tokens containing an ASCII letter
      >= min_alpha_bp (Gopher: 0.8)
    - stopwords: at least min_stopwords DISTINCT words from the shared
      STOPWORDS list appear (counted by filtering the 10-element
      literal list against the token array — never a token-side
      distinct)
    - bullet_lines / ellipsis_lines: fraction of lines starting with a
      bullet (-, *, •) / ending with an ellipsis <= the bp bound
      (Gopher: 0.90 / 0.30)

    Empty/NULL text: the two COUNT rules (word_count, stopwords) fail;
    every RATIO rule passes vacuously (0-vs-0 cross-multiplies) —
    deterministic in both engines, and the document is dead either way.

    Scale: ONE whole-stage-codegen projection — token array, line
    array, and every count are per-row expressions; no shuffle, no
    join, no UDF. At 100 TB this runs at parquet scan speed and is
    exactly as parallel as the input splits.

    Reference parity: extends the intake-gate surface (reference
    triage.py's single-score gate) with the per-rule matrix its audit
    log prints.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens_expr(c)
    ntok = F.size(toks).cast("long")
    sumlen = F.length(F.array_join(toks, "")).cast("long")
    n_hash = (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).cast("long")
    n_ell = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in STOPWORDS]),
            lambda s: F.array_contains(toks, s),
        )
    ).cast("long")
    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    ).cast("long")
    n_ellipsis_l = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("long")

    r = {
        "word_count": (ntok >= min_words) & (ntok <= max_words),
        "mean_word_len": (sumlen * 10 >= F.lit(min_mwl_deci) * ntok)
        & (sumlen * 10 <= F.lit(max_mwl_deci) * ntok),
        "symbol_ratio": (n_hash + n_ell) * 10000 <= F.lit(max_symbol_bp) * ntok,
        "alpha_words": n_alpha * 10000 >= F.lit(min_alpha_bp) * ntok,
        "stopwords": n_stop >= min_stopwords,
        "bullet_lines": n_bullet * 10000 <= F.lit(max_bullet_bp) * n_lines,
        "ellipsis_lines": n_ellipsis_l * 10000
        <= F.lit(max_ellipsis_bp) * n_lines,
    }
    n_failed = sum(
        (~r[name]).cast("int") for name in GOPHER_RULES
    ).cast("long")
    return df.select(
        F.col(id_col),
        *[r[name].alias(f"r_{name}") for name in GOPHER_RULES],
        n_failed.alias("n_failed"),
        (n_failed == 0).alias("pass_all"),
    )
