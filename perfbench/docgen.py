"""Seeded documents fixture for the curate workload, and its oracle.

`generate` writes a base corpus shaped like the registry's `documents`
table (doc_id, text, lang, source, n_chars; 10-100 tokens over a small
vocabulary) with planted curation work: normalized exact duplicates,
one-token near-duplicate edits, short documents embedded in longer ones,
too-short and non-printable documents for the quality gate. It then
applies the `tools/gen_scale.py --no-neardup` expansion: copy k > 0 gets
``doc_id + k * stride`` and a ``~c<k>`` suffix on every token, so copies
share no shingles and the corpus is `copies` times bigger at the base
corpus's natural duplicate density.

`oracle_ids` runs the registry's `SQL_CURATE_PIPELINE` DuckDB oracle on
the fixture, with the eval set moved to residue class `eval_residue`.
"""

from __future__ import annotations

import math
import os
import random
import re

import duckdb

VOCAB = ("row scan slow fast table value part hash merge batch spark line sort "
         "window key data column agg join small customer query order group "
         "filter stream vector big").split()
STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is", "on", "for"]
LANGS = ["en"] * 4 + ["zh", "de", "fr", "es"]
PUNCT = [".", ",", ";", "!", "?"]

# q_curate_pipeline's curate_corpus settings (the registry's curate_pipeline
# row), so the oracle below is the same composition.
CURATE_KWARGS = dict(
    min_quality_bp=3000,
    min_tokens=10,
    max_tokens=5000,
    near_dedup_threshold=0.8,
    dedup_num_hashes=4,
    dedup_band_size=2,
    containment_threshold_bp=8000,
    containment_size_ratio_bp=10000,
    containment_max_df=20,
    decontam_n=4,
)


def _tokens(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(STOPWORDS) if rng.random() < 0.15 else rng.choice(VOCAB)
            for _ in range(n)]


def _base_texts(rng: random.Random, n_docs: int) -> list[str]:
    texts: list[str] = []
    while len(texts) < n_docs:
        r = rng.random()
        if texts and r < 0.05:
            # normalized exact duplicate: case and punctuation variants
            src = rng.choice(texts).split()
            texts.append(" ".join(w.upper() if rng.random() < 0.3 else w for w in src)
                         + rng.choice(PUNCT))
        elif texts and r < 0.15:
            # near duplicate: one token replaced
            src = rng.choice(texts).split()
            src[rng.randrange(len(src))] = rng.choice(VOCAB)
            texts.append(" ".join(src))
        elif texts and r < 0.18:
            # contained: a contiguous slice of a longer document
            src = rng.choice(texts).split()
            if len(src) >= 30:
                a = rng.randrange(len(src) - 20)
                texts.append(" ".join(src[a:a + rng.randrange(12, 20)]))
        elif r < 0.20:
            texts.append(" ".join(_tokens(rng, rng.randrange(2, 9))))  # too short
        elif r < 0.21:
            toks = _tokens(rng, rng.randrange(20, 60))
            texts.append(" ".join(toks) + " " + "\x07" * 40)  # non-printable
        else:
            texts.append(" ".join(_tokens(rng, rng.randrange(10, 101))))
    return texts


def generate(path: str, seed: int, base_docs: int = 1250, copies: int = 4) -> int:
    """Write the expanded fixture to `path` (parquet); return its row count."""
    rng = random.Random(seed)
    texts = _base_texts(rng, base_docs)
    rows = [(i, t, LANGS[rng.randrange(len(LANGS))], f"src{i % 20}", len(t))
            for i, t in enumerate(texts)]
    stride = 10 ** (int(math.log10(base_docs - 1)) + 2)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE base (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                    "source VARCHAR, n_chars BIGINT)")
        con.executemany("INSERT INTO base VALUES (?, ?, ?, ?, ?)", rows)
        parts = ["SELECT * FROM base"] + [
            f"SELECT doc_id + {k * stride} AS doc_id, "
            f"regexp_replace(text, '(\\S+)', '\\1~c{k}', 'g') AS text, "
            "lang, source, n_chars FROM base"
            for k in range(1, copies)
        ]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        con.execute(f"COPY ({' UNION ALL '.join(parts)} ORDER BY doc_id) "
                    f"TO '{path}' (FORMAT PARQUET)")
        return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    finally:
        con.close()


def oracle_sql(eval_residue: int, materialized: bool = True) -> str:
    """SQL_CURATE_PIPELINE with the eval set at `doc_id % 50 = eval_residue`.

    `materialized` marks every CTE MATERIALIZED: DuckDB otherwise inlines
    each CTE at every reference and recomputes the shared ones (about 7x
    slower here); the result is the same.
    """
    from webloghunter_spark.benchqueries import SQL_CURATE_PIPELINE

    sql = SQL_CURATE_PIPELINE
    for old, new in (("doc_id % 50 != 0", f"doc_id % 50 != {eval_residue}"),
                     ("doc_id % 50 = 0", f"doc_id % 50 = {eval_residue}")):
        if sql.count(old) != 1:
            raise RuntimeError(f"SQL_CURATE_PIPELINE no longer has one {old!r}")
        sql = sql.replace(old, new)
    if materialized:
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
    return sql


def oracle_ids(path: str, eval_residue: int, materialized: bool = True) -> list[int]:
    """Sorted survivor doc_ids of the DuckDB oracle on the fixture."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        rows = con.execute(
            f"SELECT doc_id FROM ({oracle_sql(eval_residue, materialized)}) ORDER BY doc_id"
        ).fetchall()
        return [r[0] for r in rows]
    finally:
        con.close()
