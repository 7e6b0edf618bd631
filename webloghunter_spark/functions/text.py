"""Text-analysis functions for large-scale document pipelines.

Most of these are pure Column expressions (JVM-side, codegen'd) so they
run at full scan speed over 100 TB of documents — no Python per row.
Per-character work (the rolling-hash and winnowing fingerprints) runs
in Arrow-batched pandas UDFs instead. Formulas are deliberately simple
closed forms so an external SQL oracle can replicate them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Punctuation class shared with the SQL oracle (keep in sync).
PUNCT_CLASS = r"""[.,;:!?'"()\[\]{}-]"""

STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "on", "for")

# Disjoint marker-token sets per language for the n-gram/stopword
# language-ID heuristic. Ties resolve in declaration order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "les", "et", "une", "est"),
}


def hash_bucket_expr(col: Column | str, n_buckets: int) -> Column:
    """Stable bucket in [0, n_buckets) from md5 of the value — THE
    cross-engine feature-hash (dsir/drift/divergence/classifier/mix
    family). This expression is a parity surface: every SQL oracle
    mirrors it as CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % B,
    so any change here must change every oracle in lockstep."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    )


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokenization; empty/blank/NULL text -> empty array
    (NULL used to propagate, leaking NULL ntok/size(-1) into every
    downstream count — the bad-record reality of real ingest)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count_expr(col: Column | str) -> Column:
    return F.size(tokens_expr(col)).cast("long")


# GPT-2-style pretokenizer pattern, restricted to constructs shared by
# Java regex and RE2 (no lookahead) so a SQL oracle can replicate it:
# contractions, optionally space-prefixed letter runs / digit runs /
# punctuation runs, then residual whitespace runs.
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count_expr(col: Column | str) -> Column:
    """Token count under the BPE-ish pretokenization regex — the
    LLM-pipeline sizing metric (whitespace tokens undercount code/punct
    heavy text). Pure whole-stage-codegen'd expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")


def punct_count_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))).cast("long")


def stopword_count_expr(col: Column | str) -> Column:
    toks = tokens_expr(col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))).cast("long")


def quality_score_raw_expr(col: Column | str) -> Column:
    """Heuristic quality in [0, 1] (unrounded):
    0.5 * min(tokens/100, 1)  — enough content
    + 0.3 * (1 - punct_ratio) — not punctuation soup
    + 0.2 * min(5*stop_ratio, 1) — natural-language function words
    """
    c = F.col(col) if isinstance(col, str) else col
    ntok = token_count_expr(c).cast("double")
    nchar = F.greatest(F.length(c).cast("double"), F.lit(1.0))
    punct_ratio = punct_count_expr(c).cast("double") / nchar
    stop_ratio = stopword_count_expr(c).cast("double") / F.greatest(ntok, F.lit(1.0))
    return (
        F.least(ntok / 100.0, F.lit(1.0)) * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
    )


def quality_bp_expr(col: Column | str) -> Column:
    """Quality in integer basis points (0-10000). floor(x*1e4 + 0.5)
    over identical IEEE doubles is engine-portable, unlike decimal
    rounding of a double that can sit on a .xxxx5 boundary."""
    return F.floor(quality_score_raw_expr(col) * 10000.0 + 0.5).cast("long")


def lang_id_expr(col: Column | str) -> Column:
    """Marker-token argmax language guess; 'und' (undetermined) if no
    marker hits. Ties resolve in LANG_MARKERS declaration order."""
    toks = F.transform(tokens_expr(col), lambda t: F.lower(t))
    counts = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        counts[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    langs = list(LANG_MARKERS)
    expr = None
    for i, lang in enumerate(langs):
        cond = counts[lang] > 0
        for other in langs[:i]:
            cond = cond & (counts[lang] > counts[other])
        for other in langs[i + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(F.lit("und"))


def fingerprint_expr(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the lowercased,
    whitespace-collapsed text (the exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(norm)


# Rabin–Karp rolling-hash parameters, shared with the SQL oracle.
# M * B + 127 must stay below 2^63 (no overflow in either engine).
RH_BASE = 257
RH_MOD = 999_999_999_999_989  # largest prime < 10^15


# Normalization shared with the SQL oracle (_NORM_SQL in the query
# registry): trim spaces, lowercase, collapse whitespace runs to one
# space, drop every char outside printable ASCII. The whitespace class
# is Java regex \s spelled out ([ \t\n\x0B\f\r]); Python re \s would
# also eat unicode whitespace (\xa0) and RE2 \s omits \x0B.
_PY_WS_RE = "[ \t\n\x0b\x0c\r]+"
_PY_NONPRINT_RE = "[^\x20-\x7e]"

_RH_POW_CACHE: "list" = [1]  # B^j mod M, grown on demand


def _rh_powers(n: int):
    """numpy int64 array of B^0..B^(n-1) mod M."""
    import numpy as np

    while len(_RH_POW_CACHE) < n:
        _RH_POW_CACHE.append(_RH_POW_CACHE[-1] * RH_BASE % RH_MOD)
    return np.asarray(_RH_POW_CACHE[:n], dtype=np.int64)


def _norm_codes_py(s) -> "bytes | None":
    """The normalized text's bytes (all chars are printable ASCII after
    the final substitution, so byte values are the char codes)."""
    import re

    if s is None:
        return None
    s = re.sub(_PY_WS_RE, " ", s.strip(" ").lower())
    s = re.sub(_PY_NONPRINT_RE, "", s)
    return s.encode("ascii")


def rolling_fp_udf():
    """pandas_udf behind with_rolling_fingerprint: h = fold of
    (acc * B + c) mod M == sum(c_i * B^(n-1-i)) mod M, evaluated as one
    vectorized dot-with-mod per row. None for empty normalized text."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _one(s):
        b = _norm_codes_py(s)
        if not b:
            return None
        codes = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        n = len(codes)
        # terms < M * 127 ~ 1.27e17 each after the elementwise mod;
        # chunk the sum so partial sums stay below 2^63
        terms = codes * _rh_powers(n)[::-1] % RH_MOD
        acc = 0
        for i in range(0, n, 8192):
            acc = (acc + int(terms[i : i + 8192].sum())) % RH_MOD
        return acc

    @pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        return texts.map(_one).astype("object")

    return _fp


def winnow_fps_udf(kgram: int = 8, window: int = 4):
    """pandas_udf behind with_winnowed_fingerprints: per row, k-gram
    rolling hashes are k shifted vector multiply-adds, window minima a
    strided sliding view — C speed throughout."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _one(s):
        b = _norm_codes_py(s)
        if b is None:
            b = b""
        codes = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        m = len(codes) - kgram + 1
        if m < window:  # fewer than one full window of grams
            return []
        pw = _rh_powers(kgram)
        g = np.zeros(m, dtype=np.int64)
        # sum of kgram terms each < M*127 ~ 1.27e17: safe below 2^63
        # for kgram <= ~72 without intermediate mods
        for j in range(kgram):
            g += codes[j : j + m] * int(pw[kgram - 1 - j])
        g %= RH_MOD
        mins = np.lib.stride_tricks.sliding_window_view(g, window).min(axis=1)
        return np.unique(mins).tolist()

    @pandas_udf("array<long>")
    def _fps(texts: pd.Series) -> pd.Series:
        return texts.map(_one)

    return _fps


def with_rolling_fingerprint(
    df, col: str = "text", out_col: str = "rolling_fp"
):
    """Whole-document Rabin–Karp polynomial fingerprint of the
    normalized text: h = sum(c_i * B^(n-1-i)) mod M, i.e. the fold
    acc = (acc * B + c) mod M. NULL for empty normalized text.

    Runs in an Arrow-batched pandas UDF (one numpy dot-with-mod per
    row, no Python per character); an interpreted per-character
    higher-order aggregate computing the same value measured slower
    (SCALING.md, "One implementation per operator")."""
    return df.withColumn(out_col, rolling_fp_udf()(F.col(col)))


def with_winnowed_fingerprints(
    df, col: str = "text", out_col: str = "winnow_fps",
    kgram: int = 8, window: int = 4,
):
    """Winnowing (Schleimer et al., SIGMOD 2003): rolling hashes of
    char k-grams of the normalized text, then the minimum of each
    sliding window of `window` consecutive hashes — the standard local
    fingerprint set for near-dup / plagiarism detection. Adds `out_col`
    as a sorted distinct array; empty when the normalized text is
    shorter than kgram + window - 1 chars.

    Runs in an Arrow-batched pandas UDF. Callers that filter or explode
    `out_col` should persist/materialize first: pushdown would
    otherwise re-run the UDF below the projection."""
    return df.withColumn(out_col, winnow_fps_udf(kgram, window)(F.col(col)))


def shingles_expr(col: Column | str, k: int = 3) -> Column:
    """Token k-gram shingles (space-joined), [] when fewer than k tokens.

    Built by zipping k shifted copies of the token array (k slices
    total) rather than slicing per position (n slices) — higher-order
    functions are interpreted, so per-element slicing is ~10x slower.
    """
    toks = tokens_expr(col)
    n = F.size(toks)
    m = n - F.lit(k - 1)
    shifted = [F.slice(toks, F.lit(i + 1), m) for i in range(k)]
    zipped = F.arrays_zip(*shifted)
    joined = F.transform(
        zipped, lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(k)])
    )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(joined)


def clean_html_expr(col: Column | str) -> Column:
    """Boilerplate strip for web-scraped training text: drop
    script/style blocks, strip tags, decode the common entities,
    collapse whitespace. Pure chained regexp_replace — codegen'd,
    scan-speed — and every pattern is RE2-compatible (no
    backreferences; script/style handled as separate patterns) so a
    SQL oracle replicates it bit-for-bit. Entity order matters:
    &amp; decodes LAST so '&amp;lt;' yields '&lt;', not '<'."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]:
        out = F.regexp_replace(out, ent, ch)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def dup_line_frac_expr(col: Column | str) -> Column:
    """Fraction of newline-separated lines that are duplicates of an
    earlier line (Gopher-style repetition signal), in integer basis
    points: floor(x*1e4 + 0.5) — engine-portable, no decimal-rounding
    boundary. 0 for empty/single-line text."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    n = F.size(lines)
    dup = (n - F.size(F.array_distinct(lines))).cast("double")
    frac = F.when(n > 0, dup / n.cast("double")).otherwise(F.lit(0.0))
    return F.floor(frac * 10000.0 + 0.5).cast("long")


def top_token_frac_expr(col: Column | str) -> Column:
    """Fraction of tokens taken by the single most frequent lowercased
    token, in basis points; 0 for empty text. High values flag
    degenerate repetition ('buy buy buy ...').

    The top token count equals the longest run of equal adjacent
    elements in the SORTED token array, so this is one native
    array_sort plus a single O(n) aggregate pass carrying
    (prev, run, best) — replacing the original O(distinct x tokens)
    nested-HOF counting that measured 6.1x wall at the 32x probe
    (same linear-pass trade as bigram_logprob's arrays_zip rewrite).
    The aggregate lambda is still interpreted, but linear; identical
    results, oracle unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.transform(tokens_expr(c), lambda t: F.lower(t))
    n = F.size(toks)
    srt = F.array_sort(toks)
    run1 = F.lit(1).cast("long")
    top = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(run1)
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(run1),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    ).cast("double")
    frac = F.when(n > 0, top / n.cast("double")).otherwise(F.lit(0.0))
    return F.floor(frac * 10000.0 + 0.5).cast("long")


def symbol_ratio_expr(col: Column | str, symbols: str = "#…") -> Column:
    """Symbol-to-character ratio in basis points (Gopher uses '#' and
    ellipsis); 0 for empty text. `symbols` are placed in a regex
    character class verbatim — don't pass class metachars (]^-\\)."""
    c = F.col(col) if isinstance(col, str) else col
    cls = "[" + symbols + "]"
    n = F.length(c)
    hits = (n - F.length(F.regexp_replace(c, cls, ""))).cast("double")
    frac = F.when(n > 0, hits / n.cast("double")).otherwise(F.lit(0.0))
    return F.floor(frac * 10000.0 + 0.5).cast("long")


def vocab_topk(df, text_col: str = "text", k: int = 100):
    """Corpus vocabulary heavy hitters: the k most frequent lowercased
    whitespace tokens with their total counts (ties -> token asc).

    Scale shape: explode to bare tokens, hash aggregate with MAP-SIDE
    partial counts (hot stopword keys collapse to one partial row per
    task before the exchange, so token skew does not skew the shuffle),
    then TakeOrderedAndProject for the top k — no global sort. This is
    the exact-count path for vocabulary building; for streaming
    approximations swap the aggregate for a count-min sketch.
    """
    from pyspark.sql import functions as _F

    toks = df.select(
        _F.explode(
            _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(_F.count(_F.lit(1)).alias("n"))
    return counts.orderBy(_F.col("n").desc(), _F.col("token")).limit(k)


def tfidf_topk(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
):
    """Per-document top-k terms by TF-IDF (plain ln(N/df), no
    smoothing, so any SQL engine reproduces it bit-for-bit after
    rounding): (id, token, tf, tfidf), ties -> token asc.

    Scale shape: one shuffle to (doc, token) term counts (map-side
    combinable); document frequencies aggregate FROM the tf table
    (compact, one row per distinct doc-token) rather than rescanning
    text; the per-doc top-k is a bounded window, ordered on the ROUNDED
    score so float ULP differences across engines cannot flip ranks.
    The tf->df join is a plain shuffle join on token: AQE splits a hot
    stopword partition, and a salted (token, salt) layout measured no
    faster (SCALING.md, "One implementation per operator").
    """
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    toks = df.select(
        _F.col(id_col),
        _F.explode(
            _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))
        ).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(_F.count(_F.lit(1)).alias("tf"))
    ndocs = df.agg(_F.count(_F.lit(1)).alias("n_docs"))
    dfreq = tf.groupBy("token").agg(_F.count(_F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "token")
    from webloghunter_spark.functions.similarity import grid_round_expr

    # stored-value grid, not F.round (similarity.py:45)
    scored = scored.crossJoin(_F.broadcast(ndocs)).withColumn(
        "tfidf",
        grid_round_expr(
            _F.col("tf") * _F.log(_F.col("n_docs").cast("double") / _F.col("df")), 4
        ),
    )
    w = _W.partitionBy(id_col).orderBy(_F.col("tfidf").desc(), _F.col("token"))
    return (
        scored.withColumn("_rn", _F.row_number().over(w))
        .filter(_F.col("_rn") <= k)
        .select(id_col, "token", "tf", "tfidf")
    )


# PII patterns restricted to the regex subset Java and RE2 share
# (character classes, bounded repeats, \b, non-capturing groups — no
# lookaround), so a SQL oracle applies the IDENTICAL patterns. Order
# matters and is part of the contract: emails first (their host part
# would otherwise be eaten by later patterns), then IPs, then phones.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d()\- ]{7,}\d", "<PHONE>"),
)


def redact_pii_expr(col: Column | str) -> Column:
    """Text with all PII_PATTERNS replaced by their placeholder tokens.
    Pure chained regexp_replace — whole-stage codegen, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts_exprs(col: Column | str) -> list[Column]:
    """One match-count column per PII category (aliased n_<name>),
    computed on the RAW text (counts reflect the original content, not
    post-redaction residue)."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


# --- charset / encoding-damage quality signals ------------------------------
# Mojibake and encoding damage are a top-of-funnel web-corpus filter:
# control bytes, U+FFFD replacement chars (the decoder's "I gave up"
# marker), and unusual non-printable-ASCII density flag documents whose
# upstream decode went wrong. Pure codegen'd length/regexp arithmetic;
# the character classes avoid constructs RE2 lacks so a SQL oracle
# replicates them verbatim.

CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
NON_PRINTABLE_ASCII = r"[^\x09\x0A\x0D\x20-\x7E]"


def _class_count(col: Column | str, cls: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, cls, ""))).cast("long")


def charset_stats_exprs(col: Column | str) -> list[Column]:
    """[n_chars, n_ctrl, n_repl, non_printable_ascii_ratio, digit_ratio,
    upper_ratio] — the encoding-damage signal vector. Ratios are
    length-guarded (empty text -> 0.0) and rounded to 6 places so two
    IEEE engines agree bit-for-bit.

    non_printable_ascii_ratio counts everything outside printable ASCII
    + TAB/LF/CR — i.e. it INCLUDES the C0/DEL controls that n_ctrl also
    counts, plus all non-ASCII codepoints; it is an encoding-suspicion
    density, not a "how much Unicode" measure.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("long")
    safe = F.greatest(n, F.lit(1)).cast("double")
    from webloghunter_spark.functions.similarity import grid_round_expr

    # stored-value grid, not F.round (similarity.py:45)
    ratio = lambda cnt: grid_round_expr(cnt.cast("double") / safe, 6)  # noqa: E731
    return [
        n.alias("n_chars"),
        _class_count(c, CTRL_CLASS).alias("n_ctrl"),
        _class_count(c, "�").alias("n_repl"),
        ratio(_class_count(c, NON_PRINTABLE_ASCII)).alias("non_printable_ascii_ratio"),
        ratio(_class_count(c, "[0-9]")).alias("digit_ratio"),
        ratio(_class_count(c, "[A-Z]")).alias("upper_ratio"),
    ]


def token_entropy(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 4,
):
    """(id, ntok, entropy): Shannon entropy (nats) of each document's
    token distribution — the repetitiveness signal (a low-entropy doc
    is keyword-stuffing / boilerplate even when no n-gram repeats
    verbatim). Uses the algebraic form H = ln(n) - Σ c·ln(c) / n so the
    whole computation is one (doc, token) count aggregate plus one
    per-doc aggregate — both map-side combinable, no join at all.
    Documents with no tokens return (0, NULL)."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.transform(tokens_expr(text_col), lambda t: F.lower(t))
        ).alias("_tok"),
    )
    tf = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    agg = tf.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c").cast("double") * F.log(F.col("_c").cast("double"))).alias("_cl"),
    )
    from webloghunter_spark.functions.similarity import grid_round_expr

    # stored-value grid, not F.round (similarity.py:45)
    ent = agg.select(
        id_col,
        F.col("_n").cast("long").alias("ntok"),
        grid_round_expr(
            F.log(F.col("_n").cast("double")) - F.col("_cl") / F.col("_n").cast("double"),
            round_digits,
        ).alias("entropy"),
    )
    return (
        df.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce("ntok", F.lit(0)).cast("long").alias("ntok"),
            F.col("entropy"),
        )
    )


def compression_ratio_udf(level: int = 6):
    """Arrow-vectorized deflate-compressibility signal:
    floor(len(zlib(text)) * 10000 / len(utf8(text)) + 0.5) basis
    points — the Gopher/RefinedWeb repetition heuristic (highly
    repetitive boilerplate compresses far below normal prose; a very
    HIGH ratio flags already-compressed/binary junk pasted as text).
    Empty/NULL text returns NULL (no bytes, no ratio).

    Deflate has no SQL mirror, so this is a tests-only operator like
    the scan/sink surface (the registry's oracle-coverage gate stays
    100%); determinism holds for a fixed zlib level within a runtime.
    Complements rep_signals: dup_line/top_token are token-level and
    SQL-exact, this one sees sub-token and cross-line redundancy."""
    import pandas as pd

    @F.pandas_udf("long")
    def _udf(texts: pd.Series) -> pd.Series:
        import math
        import zlib

        def one(t):
            if t is None or len(t) == 0:
                return None
            b = t.encode("utf-8")
            return int(
                math.floor(len(zlib.compress(b, level)) * 10000.0
                           / len(b) + 0.5)
            )

        return texts.map(one)

    return _udf


def normalized_text_expr(col: Column | str) -> Column:
    """Canonical dedup key for trivially-different duplicates:
    lowercase, strip the standard punctuation class (the SQL_QUALITY
    class — portable across Java and RE2 regex dialects), collapse
    whitespace runs to single spaces, trim. 'Hello,  World!' and
    'hello world' normalize identically; exact dedup on this key
    catches reformatted copies that byte-exact dedup misses while
    staying far cheaper than MinHash. Pure codegen exprs."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    nopunct = F.regexp_replace(low, r"[.,;:!?'\"()\[\]{}-]", "")
    return F.trim(F.regexp_replace(nopunct, r"\s+", " "))


def flesch_exprs(col: Column | str) -> dict[str, Column]:
    """Flesch reading-ease ingredients — the classic readability
    quality feature (Flesch 1948; C4-era filters band on it):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/word), with
    the standard corpus-scale approximations — words = whitespace
    tokens, sentences = [.!?]+ runs (floored at 1 so a fragment
    still scores), syllables = [aeiouy]+ vowel groups in the
    lowercased text. Returns {ntok, n_sent, n_syll, flesch_centi}
    exprs; flesch_centi is the score on the 1e-2 integer grid
    (floor(x*100+0.5) — portable), 0 for empty docs. All pure
    regexp/codegen — scan-speed at 100 TB. NULL text counts as empty
    (regexp_extract_all over NULL would NULL n_syll/n_sent while
    ntok is 0 — the oracle computes over coalesce(text, ''))."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    ntok = token_count_expr(c)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), 0)
    )
    w = ntok.cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / w)
    )
    return {
        "ntok": ntok.cast("long"),
        "n_sent": n_sent.cast("long"),
        "n_syll": n_syll.cast("long"),
        "flesch_centi": F.when(ntok > 0, F.floor(score * 100 + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("long"),
    }


def lang_consistency(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
):
    """Segment-level language agreement — the code-switch detector.

    Doc-level language ID (lang_id_expr) hides mixed-language
    documents: a half-English half-German page tags 'en' and poisons
    a monolingual training mix. This splits each document into
    `seg_tokens`-token segments, language-IDs each segment with the
    same marker heuristic, and reports per doc: n_segments,
    majority_lang ('und' for empty docs), n_majority, n_langs
    (distinct segment guesses incl. 'und'), agreement_bp (majority
    share in basis points, exact integer round-half-up; NULL for
    empty docs) and code_switch (n_langs > 1).

    Ties for majority resolve by segment count DESC then
    LANG_MARKERS declaration order ('und' last) — deterministic and
    mirrored by the SQL oracle's CASE index.

    Scale: explode to ~ntok/seg_tokens segment rows (same volume
    class as shingling), then two combinable aggregates and one
    row_number window all hash-partitioned on the doc id; no UDF, no
    driver state. Empty docs survive via the left join from the id
    spine."""
    from pyspark.sql import Window as W

    if seg_tokens <= 0:
        raise ValueError(f"seg_tokens must be > 0, got {seg_tokens}")
    toks = tokens_expr(text_col)
    n_seg = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segs = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col), F.explode_outer(segs).alias("_seg")
    )
    langs = (
        exploded.filter(F.col("_seg").isNotNull())
        .select(F.col(id_col), lang_id_expr("_seg").alias("_lang"))
        .groupBy(id_col, "_lang")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    idx = None
    for i, lang in enumerate(LANG_MARKERS):
        idx = (
            F.when(F.col("_lang") == lang, i)
            if idx is None
            else idx.when(F.col("_lang") == lang, i)
        )
    idx = idx.otherwise(F.lit(len(LANG_MARKERS)))
    per = langs.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_segments"),
        F.countDistinct("_lang").cast("long").alias("n_langs"),
    )
    win = (
        langs.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(
                    F.col("_c").desc(), idx.asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            F.col("_lang").alias("majority_lang"),
            F.col("_c").cast("long").alias("n_majority"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per, id_col, "left")
        .join(win, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("majority_lang", F.lit("und")).alias(
                "majority_lang"
            ),
            F.coalesce("n_majority", F.lit(0)).alias("n_majority"),
            F.coalesce("n_langs", F.lit(0)).alias("n_langs"),
            F.expr(
                "CASE WHEN n_segments > 0 THEN (n_majority * 20000"
                " + n_segments) div (2 * n_segments) ELSE NULL END"
            )
            .cast("long")
            .alias("agreement_bp"),
            (F.coalesce("n_langs", F.lit(0)) > 1).alias("code_switch"),
        )
    )


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalizer. Spark SQL has no builtin
    unicode normalization, so this is one of the few sanctioned
    pandas-UDF hot paths (the multimodal/compression discipline:
    Arrow batches, never row-at-a-time Python UDFs). Per-value ASCII
    fast path: real web corpora are majority-ASCII and `str.isascii`
    is a C-speed check, so the expensive normalize only runs on the
    minority of rows that can actually change."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            return x if x.isascii() else unicodedata.normalize("NFC", x)

        return s.map(one)

    return _udf


def text_normalize(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Corpus text canonicalization — the rewrite every multi-source
    ingest needs before hashing/dedup/tokenization sees the bytes:
    Unicode NFC (composed accents, so 'e\\u0301' and '\\u00e9' stop
    being distinct tokens), C0/DEL control-character strip (keeps the
    text printable; \\t \\n \\r die here but whitespace collapse would
    eat them anyway), whitespace-run collapse to single spaces, trim.
    Unlike normalized_text_expr (a lossy lowercase/punct-strip dedup
    KEY), this emits the cleaned text itself, casing and punctuation
    intact.

    Returns (id, text=normalized, changed, n_chars_raw, n_chars_norm);
    NULL input normalizes to '' (changed=false for both NULL and '').

    Scale: NFC is the one Arrow-batched UDF step (no Spark builtin),
    with a C-speed ASCII fast path per value; everything else is
    codegen regexp in the same projection — no shuffle anywhere."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    nfc = nfc_normalize_udf()(raw)
    noctl = F.regexp_replace(
        nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""
    )
    norm = F.trim(F.regexp_replace(noctl, r"\s+", " "))
    return df.select(
        F.col(id_col),
        norm.alias("text"),
        (norm != raw).alias("changed"),
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


def longest_repeat(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document longest repeated token n-gram — the repetition
    statistic the fixed-k window family (dup_line_frac / rep_signals /
    segment_dedup) cannot express: instead of asking "does any k-gram
    repeat" for ONE k, it finds max k with a repeat, plus how many
    distinct grams tie at that length. High longest_len relative to
    ntok is the self-repetition signature of boilerplate loops and
    degenerate generations (the Gopher repetition family's open-ended
    case). Returns (id, ntok, longest_len, n_longest); docs with no
    repeated token at all (or < 2 tokens) report 0/0.

    Scale: repetition is a ROW-LOCAL property, so the operator is one
    Arrow-batched mapInPandas pass — zero shuffle, scan-speed
    parallelism, like simhash_udf. Per doc the kernel binary-searches
    k (the predicate "some k-gram repeats" is monotone: a repeated
    k-gram's prefix repeats at the same positions), each probe one
    O(n) rolling set pass — O(n log n) per doc vs the O(n^2) gram
    blow-up a full explode would shuffle. Grams are compared as
    chr(31)-joined token strings, matching the SQL oracle's separator
    exactly.

    Tokenization happens JVM-SIDE via tokens_expr (F.trim + Java
    \\s+ split), so the kernel's token stream is definitionally the
    repo convention — a Python re-implementation (str.strip() + an
    ASCII \\s+ re.split) silently diverged on tab/newline-padded text
    (str.strip() eats ALL whitespace; F.trim eats only spaces, so a
    leading tab yields a leading empty token JVM-side)."""
    import pandas as pd

    def _one(toks: list) -> tuple:
        n = len(toks)
        if n < 2:
            return n, 0, 0

        def rep_grams(k: int):
            seen: set = set()
            out: set = set()
            for i in range(n - k + 1):
                g = "\x1f".join(toks[i : i + k])
                if g in seen:
                    out.add(g)
                else:
                    seen.add(g)
            return out

        lo, hi = 0, n - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if rep_grams(mid):
                lo = mid
            else:
                hi = mid - 1
        if lo == 0:
            return n, 0, 0
        return n, lo, len(rep_grams(lo))

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            res = [
                _one(list(t) if t is not None else [])
                for t in pdf["_toks"]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "ntok": [r[0] for r in res],
                    "longest_len": [r[1] for r in res],
                    "n_longest": [r[2] for r in res],
                }
            )

    return df.select(
        F.col(id_col), tokens_expr(text_col).alias("_toks")
    ).mapInPandas(
        gen, f"{id_col} long, ntok long, longest_len long, n_longest long"
    )


def bm25_topk(
    df,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Top-k documents by BM25 (Robertson/Sparck-Jones idf with +1
    smoothing) against a FIXED small query — the retrieval shape of a
    data-curation "find me training docs about X" probe.

    Returns (id, dl, bm25) ordered (bm25 desc, id asc), docs with a
    zero score dropped; bm25 on the stored-value 1e-4 grid
    (similarity.py:45) so cross-engine ULP noise cannot flip ranks.

    Scale shape — the key decision is that the QUERY is tiny (|q| <=
    ~16 terms) so tf is computed ROW-LOCALLY with array `filter()`
    instead of the textbook explode->groupBy tf table: zero shuffle of
    corpus tokens. Two corpus passes total:
      1. one combinable aggregate (n_docs, sum dl, per-term df) whose
         result is a SINGLE collected row (guard-bounded: 2+|q|
         scalars) from which idf/avgdl become plan literals;
      2. scan + row-local score projection + TakeOrderedAndProject
         top-k — no sort of the full corpus, no join, no window.
    At 100 TB both passes are embarrassingly parallel; the only data
    movement is the agg's one-row combine tree and the size-k heads.

    Float determinism: idf and avgdl are computed driver-side with
    libm (== DuckDB's ln/division bit-for-bit); the per-doc score is a
    fixed left-to-right fold over `query_terms` of
    idf_t * (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)) with the
    constants folded in the SAME association order the oracle writes,
    so the doubles agree exactly before the grid round.
    """
    import math

    from pyspark.sql import functions as _F

    from webloghunter_spark.functions.similarity import grid_round_expr

    terms = [t.lower() for t in query_terms]
    toks = _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))

    def _eq(term):
        # NOTE: a 2-arg lambda would be (element, index) to F.filter.
        return lambda x: x == _F.lit(term)

    base = df.select(
        _F.col(id_col),
        _F.size(toks).cast("long").alias("dl"),
        *[
            _F.size(_F.filter(toks, _eq(t))).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # The stats pass and the scoring pass share `base`; persist the
    # NARROW (2+|q| longs per row) frame so the corpus text is
    # tokenized ONCE, not once per pass — measured 7.5x -> much
    # flatter at the 32x probe, and at 100 TB the cached frame is
    # ~1000x smaller than re-reading + re-splitting the text.
    from webloghunter_spark.session import materialize

    base = materialize(base)
    stats_aggs = [
        _F.count(_F.lit(1)).alias("n_docs"),
        _F.sum("dl").alias("sum_dl"),
    ] + [
        _F.sum((_F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
        for i in range(len(terms))
    ]
    # ONE collected row (2 + |q| scalars) — guard-bounded by |query|.
    stats = base.agg(*stats_aggs).collect()[0]
    n_docs = int(stats["n_docs"])
    sum_dl = int(stats["sum_dl"] or 0)
    # avgdl == 0 only when EVERY doc is empty — all tf are then 0 and
    # every score is 0 (filtered), so 1.0 preserves semantics while
    # keeping the per-row division ANSI-safe (double x/0 throws under
    # Spark ANSI mode; the oracle's x/0 -> inf path also emits no rows).
    avgdl = sum_dl / n_docs if n_docs and sum_dl else 1.0
    idf = [
        math.log((n_docs - int(stats[f"_df{i}"]) + 0.5)
                 / (int(stats[f"_df{i}"]) + 0.5) + 1.0)
        for i in range(len(terms))
    ]
    # Fixed left-to-right fold, association order mirrored by the SQL
    # oracle: idf*(tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)).
    norm = _F.col("dl").cast("double") / _F.lit(avgdl)
    denom_base = (_F.lit(k1) * ((_F.lit(1.0) - _F.lit(b)) + _F.lit(b) * norm))
    score = _F.lit(0.0)
    for i in range(len(terms)):
        tf = _F.col(f"_tf{i}").cast("double")
        score = score + (
            _F.lit(idf[i]) * (tf * (_F.lit(k1) + _F.lit(1.0)))
            / (tf + denom_base)
        )
    scored = base.select(
        _F.col(id_col),
        _F.col("dl"),
        grid_round_expr(score, 4).alias("bm25"),
    ).filter(_F.col("bm25") > 0)
    return scored.orderBy(_F.col("bm25").desc(), _F.col(id_col)).limit(k)


def char_entropy(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document character-distribution entropy — the cheap
    gibberish / encoding-damage tripwire (mojibake and base64 blobs
    run near-uniform high entropy; stuck-key and template junk runs
    abnormally low; natural text sits in a band). Reported in integer
    nano-nats: each distinct char contributes
    round(-(c/n) * ln(c/n) * 1e9) and the per-doc sum is over those
    INTEGERS — order-free and engine-exact (the zipf_fit quantize-
    then-sum discipline), with c/n and ln evaluated in libm (== a SQL
    engine's doubles bit-for-bit).

    Chars are the code points of trim(coalesce(text, '')) — matching
    SQL length()/substr() semantics; empty/NULL text scores 0. The
    trim is SPACE-ONLY on both sides of the parity: SQL trim() strips
    U+0020 only, so the kernel uses str.strip(' ') — NOT bare
    str.strip(), which eats tabs/newlines/NBSP and would diverge on
    whitespace-padded docs (the longest_repeat convention,
    'str.strip() eats ALL whitespace; F.trim eats only spaces').

    Scale shape: ROW-LOCAL Arrow mapInPandas, zero shuffle — the
    per-doc histogram never leaves the executor (an explode-to-
    (doc, char) aggregate would shuffle the corpus's full character
    volume for no reason).

    Output: (id, n_chars, n_distinct, entropy_nano).
    """
    import math
    from collections import Counter

    import pandas as pd

    from pyspark.sql import functions as _F

    def _one(text):
        # Space-only strip: parity with SQL trim(), which strips
        # U+0020 but not tabs/newlines/NBSP.
        t = (text or "").strip(" ")
        n = len(t)
        if n == 0:
            return 0, 0, 0
        counts = Counter(t)
        total = 0
        for c in counts.values():
            p = c / n
            term = -(p * math.log(p))
            total += int(math.floor(term * 1e9 + 0.5))
        return n, len(counts), total

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            res = [_one(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_chars": [r[0] for r in res],
                    "n_distinct": [r[1] for r in res],
                    "entropy_nano": [r[2] for r in res],
                }
            )

    return df.select(_F.col(id_col), _F.col(text_col)).mapInPandas(
        gen,
        f"{id_col} long, n_chars long, n_distinct long, entropy_nano long",
    )


def split_coherence(
    df,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """First-half vs second-half shingle overlap per document — the
    concatenation-artifact detector: a web page that is really two
    unrelated documents glued together (nav + article, or a crawler
    merging frames) scores near 0, while a topically-coherent doc
    shares vocabulary n-grams across its halves. Low coherence +
    high length flags candidates for a segment-level re-split before
    training.

    The token array splits at n div 2; each half\'s DISTINCT token
    k-gram shingles follow the shingles_expr convention (space-joined
    k-grams over tokens_expr tokens); overlap is the exact integer
    Jaccard ((inter * 10000) div union, 0 when a half is too short
    for a shingle).

    Scale shape: ROW-LOCAL Arrow mapInPandas over the JVM-tokenized
    array (tokens_expr ships INTO the kernel, the longest_repeat
    discipline, so token boundaries cannot drift) — zero shuffle. A
    pure-Column form with two shingles_expr applications ran 3.9x
    slower: Spark\'s higher-order array functions are interpreted and
    projection collapsing re-inlines the token split into every
    reference (the minhash_sig_udf lesson, dedup.py:58).

    Output: (id, n_tokens, n_inter, n_union, coherence_bp).
    """
    import pandas as pd

    from pyspark.sql import functions as _F

    k = int(shingle_k)

    def _one(toks):
        n = len(toks)
        half = n // 2

        def sh(ts):
            if len(ts) < k:
                return set()
            return {" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)}

        sa, sb = sh(toks[:half]), sh(toks[half:])
        inter = len(sa & sb)
        uni = len(sa) + len(sb) - inter
        bp = (inter * 10000) // uni if uni > 0 else 0
        return n, inter, uni, bp

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            res = [
                _one(list(t) if t is not None else [])
                for t in pdf["_toks"]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [r[0] for r in res],
                    "n_inter": [r[1] for r in res],
                    "n_union": [r[2] for r in res],
                    "coherence_bp": [r[3] for r in res],
                }
            )

    return df.select(
        _F.col(id_col), tokens_expr(text_col).alias("_toks")
    ).mapInPandas(
        gen,
        f"{id_col} long, n_tokens long, n_inter long, n_union long, "
        "coherence_bp long",
    )


def bm25_batch(
    df,
    queries: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Multi-query BM25 — the retrieval-eval harness shape (knn_batch
    for lexical search): a small batch of named queries scored
    against ONE corpus pass. Returns (qid, id, dl, bm25) with each
    query's top-k, ordered within a query by (bm25 desc, id).

    Scale shape: the union of all query terms is computed row-locally
    in a single narrow projection (2 + |union terms| longs per row)
    which is PERSISTED — the corpus text is read and tokenized ONCE
    regardless of batch size; one combinable stats aggregate (single
    collected row) turns every query's idf/avgdl into plan literals;
    each query then costs one TakeOrderedAndProject over the cached
    narrow frame, and the per-query top-k results (k rows each) are
    unioned plan-side. No window over corpus rows, no shuffle.

    Float determinism follows bm25_topk: per-query scores fold
    left-to-right over THAT query's term list with libm-computed idf
    literals, so a SQL oracle writing the same association matches
    bit-for-bit before the 1e-4 grid round.
    """
    import math

    from pyspark.sql import functions as _F

    from webloghunter_spark.functions.similarity import grid_round_expr
    from webloghunter_spark.session import materialize

    if not queries or any(not terms for terms in queries.values()):
        raise ValueError("queries must map qid -> non-empty term list")
    qnorm = {qid: [t.lower() for t in terms] for qid, terms in queries.items()}
    union_terms = sorted({t for terms in qnorm.values() for t in terms})
    idx = {t: i for i, t in enumerate(union_terms)}
    toks = _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))

    def _eq(term):
        return lambda x: x == _F.lit(term)

    base = materialize(
        df.select(
            _F.col(id_col),
            _F.size(toks).cast("long").alias("dl"),
            *[
                _F.size(_F.filter(toks, _eq(t))).cast("long")
                .alias(f"_tf{i}")
                for i, t in enumerate(union_terms)
            ],
        )
    )
    stats = base.agg(
        _F.count(_F.lit(1)).alias("n_docs"),
        _F.sum("dl").alias("sum_dl"),
        *[
            _F.sum((_F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(union_terms))
        ],
    ).collect()[0]
    n_docs = int(stats["n_docs"])
    sum_dl = int(stats["sum_dl"] or 0)
    avgdl = sum_dl / n_docs if n_docs and sum_dl else 1.0
    idf = {
        t: math.log(
            (n_docs - int(stats[f"_df{idx[t]}"]) + 0.5)
            / (int(stats[f"_df{idx[t]}"]) + 0.5) + 1.0
        )
        for t in union_terms
    }
    norm = _F.col("dl").cast("double") / _F.lit(avgdl)
    denom_base = _F.lit(k1) * ((_F.lit(1.0) - _F.lit(b)) + _F.lit(b) * norm)
    tops = []
    for qid in sorted(qnorm):
        score = _F.lit(0.0)
        for t in qnorm[qid]:
            tf = _F.col(f"_tf{idx[t]}").cast("double")
            score = score + (
                _F.lit(idf[t]) * (tf * (_F.lit(k1) + _F.lit(1.0)))
                / (tf + denom_base)
            )
        scored = base.select(
            _F.lit(qid).alias("qid"),
            _F.col(id_col),
            _F.col("dl"),
            grid_round_expr(score, 4).alias("bm25"),
        ).filter(_F.col("bm25") > 0)
        tops.append(
            scored.orderBy(_F.col("bm25").desc(), _F.col(id_col)).limit(k)
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out


def bm25_model(
    df,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """Train-once FROZEN BM25 stats — the deployment shape of a live
    retrieval probe (the `bigram_logprob_frozen` discipline,
    functions/lm.py): corpus stats (idf per term, avgdl) are pinned
    from a REFERENCE corpus once, then score arbitrary batches /
    stream micro-batches without re-aggregating. Scoring the
    reference corpus under its own model reproduces bm25_topk's
    scores exactly (before its >0 filter and top-k) — the parity
    surface the streaming twin tests.

    The model is a plain dict of driver-side floats (|terms| idf
    values + avgdl) — unlike the LM model there are no persisted
    count frames to hold: the whole artifact is |q| scalars computed
    by ONE combinable aggregate over the reference corpus.

    Returns {"terms", "idf", "avgdl", "k1", "b", "n_docs"}.
    """
    import math

    from pyspark.sql import functions as _F

    terms = [t.lower() for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    uniq = sorted(set(terms))
    toks = _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))

    def _eq(term):
        return lambda x: x == _F.lit(term)

    stats = (
        df.select(
            _F.size(toks).cast("long").alias("dl"),
            *[
                (_F.size(_F.filter(toks, _eq(t))) > 0)
                .cast("long")
                .alias(f"_hit{i}")
                for i, t in enumerate(uniq)
            ],
        )
        .agg(
            _F.count(_F.lit(1)).alias("n_docs"),
            _F.sum("dl").alias("sum_dl"),
            *[
                _F.sum(f"_hit{i}").alias(f"_df{i}")
                for i in range(len(uniq))
            ],
        )
        .collect()[0]
    )
    n_docs = int(stats["n_docs"])
    sum_dl = int(stats["sum_dl"] or 0)
    avgdl = sum_dl / n_docs if n_docs and sum_dl else 1.0
    idf = {
        t: math.log(
            (n_docs - int(stats[f"_df{i}"]) + 0.5)
            / (int(stats[f"_df{i}"]) + 0.5) + 1.0
        )
        for i, t in enumerate(uniq)
    }
    return {
        "terms": terms,
        "idf": idf,
        "avgdl": float(avgdl),
        "k1": float(k1),
        "b": float(b),
        "n_docs": n_docs,
    }


def bm25_score_frozen(
    df,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score documents under a FROZEN BM25 model (bm25_model): tf is
    computed ROW-LOCALLY with array filter() and the score is a fixed
    left-to-right fold over the model's term list with idf/avgdl as
    plan literals — a pure narrow projection, zero shuffle, zero
    state, stream-safe as-is. Every input doc gets a row (zero scores
    INCLUDED — a stream scores whatever arrives; dropping zeros and
    ranking are the batch top-k's corpus-relative concerns).

    Association order matches bm25_topk term-for-term, so scoring the
    model's own training corpus reproduces its scores bit-for-bit
    before the 1e-4 grid round.

    Returns (id, dl, bm25).
    """
    from pyspark.sql import functions as _F

    from webloghunter_spark.functions.similarity import grid_round_expr

    terms = model["terms"]
    uniq = sorted(set(terms))
    idx = {t: i for i, t in enumerate(uniq)}
    k1 = float(model["k1"])
    b = float(model["b"])
    toks = _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))

    def _eq(term):
        return lambda x: x == _F.lit(term)

    base = df.select(
        _F.col(id_col),
        _F.size(toks).cast("long").alias("dl"),
        *[
            _F.size(_F.filter(toks, _eq(t))).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(uniq)
        ],
    )
    norm = _F.col("dl").cast("double") / _F.lit(float(model["avgdl"]))
    denom_base = _F.lit(k1) * (
        (_F.lit(1.0) - _F.lit(b)) + _F.lit(b) * norm
    )
    score = _F.lit(0.0)
    for t in terms:
        tf = _F.col(f"_tf{idx[t]}").cast("double")
        score = score + (
            _F.lit(float(model["idf"][t])) * (tf * (_F.lit(k1) + _F.lit(1.0)))
            / (tf + denom_base)
        )
    return base.select(
        _F.col(id_col),
        _F.col("dl"),
        grid_round_expr(score, 4).alias("bm25"),
    )


def bm25_drift(
    ref,
    corpus,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Probe-vs-batch ranking drift for the FROZEN-stats bm25 scorer
    (the ann_recall discipline applied to lexical retrieval): stats
    pinned from a reference snapshot keep serving as the corpus
    grows, and this audit answers "has the frozen ranking drifted
    enough to re-pin?". It scores the CURRENT corpus twice — once
    under the frozen model (bm25_model on `ref`), once with fresh
    stats (the bm25_topk aggregate on `corpus`) — and full-outer
    joins the two top-k lists.

    Output: one row per doc in EITHER top-k —
    (id, rank_frozen, rank_fresh, bm25_frozen, bm25_fresh), ranks
    1-based in (bm25 desc, id) order, NULL where the doc is missing
    from that side. Overlap/recall and score deltas are one
    aggregation away; emitting the per-doc join keeps the audit
    actionable (WHICH docs moved, not just how many).

    Scale shape: two stats aggregates (each ONE collected row — the
    bm25_topk guard), two row-local scoring scans sharing ONE
    materialized narrow tf frame (the corpus is read and tokenized
    once for both scorings — only the plan literals differ), each
    ranking a TakeOrderedAndProject top-k, and the final join/ranks
    run on <= 2k rows (the bounded-window convention: row_number
    over a k-row frame, never the corpus).

    Float determinism: both scorings fold in bm25_topk's association
    with driver-side libm idf/avgdl literals, so a SQL oracle
    writing engine-side ln over the same restricted/full stats
    matches bit-for-bit before the 1e-4 grid round.
    """
    import math

    from pyspark.sql import Window as W
    from pyspark.sql import functions as _F

    from webloghunter_spark.functions.similarity import grid_round_expr
    from webloghunter_spark.session import materialize

    terms = [t.lower() for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    uniq = sorted(set(terms))
    idx = {t: i for i, t in enumerate(uniq)}
    toks = _F.transform(tokens_expr(text_col), lambda t: _F.lower(t))

    def _eq(term):
        return lambda x: x == _F.lit(term)

    base = materialize(
        corpus.select(
            _F.col(id_col),
            _F.size(toks).cast("long").alias("dl"),
            *[
                _F.size(_F.filter(toks, _eq(t))).cast("long")
                .alias(f"_tf{i}")
                for i, t in enumerate(uniq)
            ],
        )
    )
    model = bm25_model(
        ref, terms, text_col=text_col, id_col=id_col, k1=k1, b=b
    )
    fresh_stats = base.agg(
        _F.count(_F.lit(1)).alias("n_docs"),
        _F.sum("dl").alias("sum_dl"),
        *[
            _F.sum((_F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(uniq))
        ],
    ).collect()[0]
    n_docs = int(fresh_stats["n_docs"])
    sum_dl = int(fresh_stats["sum_dl"] or 0)
    fresh_avgdl = sum_dl / n_docs if n_docs and sum_dl else 1.0
    fresh_idf = {
        t: math.log(
            (n_docs - int(fresh_stats[f"_df{idx[t]}"]) + 0.5)
            / (int(fresh_stats[f"_df{idx[t]}"]) + 0.5) + 1.0
        )
        for t in uniq
    }

    def _score(avgdl, idf):
        norm = _F.col("dl").cast("double") / _F.lit(float(avgdl))
        denom_base = _F.lit(k1) * (
            (_F.lit(1.0) - _F.lit(b)) + _F.lit(b) * norm
        )
        score = _F.lit(0.0)
        for t in terms:
            tf = _F.col(f"_tf{idx[t]}").cast("double")
            score = score + (
                _F.lit(float(idf[t])) * (tf * (_F.lit(k1) + _F.lit(1.0)))
                / (tf + denom_base)
            )
        return grid_round_expr(score, 4)

    def _top(avgdl, idf, tag):
        scored = base.select(
            _F.col(id_col), _score(avgdl, idf).alias(f"bm25_{tag}")
        ).filter(_F.col(f"bm25_{tag}") > 0)
        lim = scored.orderBy(
            _F.col(f"bm25_{tag}").desc(), _F.col(id_col)
        ).limit(k)
        # rank over the k-row limited frame only (bounded window)
        w = W.orderBy(_F.col(f"bm25_{tag}").desc(), _F.col(id_col))
        return lim.withColumn(
            f"rank_{tag}", _F.row_number().over(w).cast("long")
        )

    fro = _top(float(model["avgdl"]), model["idf"], "frozen")
    fre = _top(fresh_avgdl, fresh_idf, "fresh")
    # absent-side sentinels (rank 0 / score 0.0, both impossible for
    # a member of a top-k list): NULL doubles become NaN in Arrow
    # hand-offs and NaN sort order is engine-dependent, exactly the
    # instability a sorted-rows hash compare cannot tolerate
    return fro.join(fre, id_col, "full_outer").select(
        _F.col(id_col),
        _F.coalesce("rank_frozen", _F.lit(0)).cast("long")
        .alias("rank_frozen"),
        _F.coalesce("rank_fresh", _F.lit(0)).cast("long")
        .alias("rank_fresh"),
        _F.coalesce("bm25_frozen", _F.lit(0.0)).alias("bm25_frozen"),
        _F.coalesce("bm25_fresh", _F.lit(0.0)).alias("bm25_fresh"),
    )
