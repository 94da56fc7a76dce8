from fuzzymatch_spark.streaming.ingest import (
    make_decontamination_sink,
    make_dedup_sink,
    make_phash_dedup_sink,
    make_signature_sink,
    run_sink_stream,
)

__all__ = [
    "make_decontamination_sink",
    "make_dedup_sink",
    "make_phash_dedup_sink",
    "make_signature_sink",
    "run_sink_stream",
]
