from fuzzymatch_spark.operators.topk import (
    score_candidates,
    top_matches,
    top_matches_levenshtein,
    top_matches_multi,
)
from fuzzymatch_spark.operators.dedup import (
    candidate_edges,
    compute_signatures,
    exact_dup_edges,
    minhash_band_edges,
    phash_band_edges,
    simhash_band_edges,
    verify_edges,
)
from fuzzymatch_spark.operators.cluster import (
    canonical_corpus,
    cluster_assignments,
    cluster_size_histogram,
)
from fuzzymatch_spark.operators.ann import (
    cosine_topk,
    decontaminate_embeddings,
    decontaminate_embeddings_sharded,
    ivf_assign,
    ivf_build,
    ivf_dup_pairs,
    ivf_probe_topk,
    ivf_topk,
    load_ivf_codebook,
    rhp_knn_pairs,
)
from fuzzymatch_spark.operators.fuzzyjoin import (
    fuzzy_token_candidates,
    fuzzy_token_join,
)

# corpus/multimodal re-exports resolve LAZILY (PEP 562): multimodal
# imports sources.images, whose import chain reaches plans.pipeline and
# back into this package — an eager import here closes that loop into an
# ImportError.  Lazy resolution happens after all packages initialize.
_LAZY = {
    "decontaminate_fuzzy": "fuzzymatch_spark.operators.corpus",
    "decontaminate_ngrams": "fuzzymatch_spark.operators.corpus",
    "decontaminate_ngrams_bloom": "fuzzymatch_spark.operators.corpus",
    "decontaminate_images": "fuzzymatch_spark.operators.multimodal",
    "survivor_payload_filter": "fuzzymatch_spark.operators.multimodal",
    "survivor_payload_filter_sharded": "fuzzymatch_spark.operators.multimodal",
}


def __getattr__(name):
    if name in _LAZY:
        import importlib

        return getattr(importlib.import_module(_LAZY[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

__all__ = [
    "score_candidates",
    "top_matches",
    "top_matches_levenshtein",
    "top_matches_multi",
    "compute_signatures",
    "exact_dup_edges",
    "minhash_band_edges",
    "simhash_band_edges",
    "phash_band_edges",
    "candidate_edges",
    "verify_edges",
    "cluster_assignments",
    "cluster_size_histogram",
    "canonical_corpus",
    "cosine_topk",
    "decontaminate_embeddings",
    "decontaminate_embeddings_sharded",
    "decontaminate_fuzzy",
    "decontaminate_images",
    "decontaminate_ngrams",
    "decontaminate_ngrams_bloom",
    "survivor_payload_filter",
    "survivor_payload_filter_sharded",
    "ivf_assign",
    "ivf_build",
    "ivf_dup_pairs",
    "ivf_probe_topk",
    "ivf_topk",
    "load_ivf_codebook",
    "rhp_knn_pairs",
    "fuzzy_token_candidates",
    "fuzzy_token_join",
]
