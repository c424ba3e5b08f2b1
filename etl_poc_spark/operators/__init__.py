from etl_poc_spark.operators.chunker import chunk_by_tokens  # noqa: F401
from etl_poc_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
    shingle_sets,
    verify_jaccard,
)
from etl_poc_spark.operators.similarity import cosine_topk, ivf_cosine_topk  # noqa: F401
