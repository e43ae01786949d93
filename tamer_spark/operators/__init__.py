from tamer_spark.operators.asof import asof_join
from tamer_spark.operators.bloom import (
    bloom_merge_df,
    bloom_might_contain,
    bloom_words_df,
    decontaminate_with_bloom,
)
from tamer_spark.operators.bm25 import bm25_topk
from tamer_spark.operators.contamination import contamination_score
from tamer_spark.operators.budget import take_token_budget
from tamer_spark.operators.classifier import odds_score, odds_train
from tamer_spark.operators.datasheet import corpus_datasheet
from tamer_spark.operators.decontaminate import decontaminate_substrings
from tamer_spark.operators.events import cohort_retention, funnel_counts
from tamer_spark.operators.pagerank import pagerank
from tamer_spark.operators.runs import substring_run_pairs, token_window_hashes
from tamer_spark.operators.percentiles import exact_percentiles
from tamer_spark.operators.fusion import rrf_fuse
from tamer_spark.operators.temperature import temperature_mix
from tamer_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_normalized,
    minhash_signatures,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_string_rows,
    simhash_signatures,
)
from tamer_spark.operators.dedup_incremental import (
    append_keys,
    dedup_exact_incremental,
    dedup_exact_incremental_bloom,
    dedup_minhash_incremental,
    exact_bloom_index_df,
    exact_index,
    minhash_band_index,
)
from tamer_spark.operators.gopher import gopher_signals
from tamer_spark.operators.mixing import stratified_mix
from tamer_spark.operators.packing import pack_greedy, pack_offsets, with_pack_group
from tamer_spark.operators.pq import ivfadc_search, pq_encode, pq_search_adc, pq_train
from tamer_spark.operators.skew import (
    heavy_hitters,
    key_counts,
    salted_join,
    skew_summary,
)
from tamer_spark.operators.similarity import (
    cosine_knn,
    cosine_knn_lsh,
    cosine_knn_lsh_multiprobe,
    ivf_append,
    ivf_build,
    ivf_search,
    quantize_sql,
    semdedup,
    semdedup_incremental,
)

__all__ = [
    "stratified_mix",
    "pack_greedy",
    "pack_offsets",
    "with_pack_group",
    "asof_join",
    "dedup_exact",
    "dedup_exact_normalized",
    "dedup_exact_incremental",
    "dedup_exact_incremental_bloom",
    "exact_bloom_index_df",
    "dedup_minhash_incremental",
    "exact_index",
    "minhash_band_index",
    "append_keys",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "shingle_string_rows",
    "simhash_signatures",
    "cosine_knn",
    "cosine_knn_lsh",
    "cosine_knn_lsh_multiprobe",
    "quantize_sql",
    "ivf_build",
    "ivf_append",
    "ivf_search",
    "semdedup",
    "semdedup_incremental",
    "pq_train",
    "pq_encode",
    "pq_search_adc",
    "ivfadc_search",
    "gopher_signals",
    "bm25_topk",
    "rrf_fuse",
    "bloom_merge_df",
    "bloom_might_contain",
    "bloom_words_df",
    "decontaminate_with_bloom",
    "decontaminate_substrings",
    "take_token_budget",
    "temperature_mix",
    "corpus_datasheet",
    "contamination_score",
    "substring_run_pairs",
    "token_window_hashes",
    "odds_train",
    "odds_score",
    "funnel_counts",
    "cohort_retention",
    "pagerank",
    "exact_percentiles",
    "salted_join",
    "key_counts",
    "heavy_hitters",
    "skew_summary",
]
