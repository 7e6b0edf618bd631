from webloghunter_spark.pipelines.dedup import (  # noqa: F401
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_expr,
    simhash_fingerprints,
)
