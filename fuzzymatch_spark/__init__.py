"""fuzzymatch_spark — a PySpark-native near-duplicate detection and fuzzy
matching engine.

Re-expresses the query semantics of the reference FuzzyMatch library
(/root/reference, a single-node Swift fuzzy string scorer) as distributed
Spark DataFrame dataflows:

* reference prefilter cascade  -> column predicates + LSH candidate generation
* reference scoring kernels    -> vectorized numpy kernels inside pandas UDFs
* reference ranked match lists -> window top-k / TakeOrderedAndProject
* (engine-only) clustering     -> spanning-forest fold connected components

See SURVEY.md for the full operator mapping.
"""

from fuzzymatch_spark.config import (
    EditDistanceConfig,
    GapPenalty,
    MatchConfig,
    SmithWatermanConfig,
)

__all__ = [
    "EditDistanceConfig",
    "GapPenalty",
    "MatchConfig",
    "SmithWatermanConfig",
    "api",
]

__version__ = "0.1.0"
