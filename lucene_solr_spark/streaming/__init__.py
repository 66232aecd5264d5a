from lucene_solr_spark.streaming.incremental import (
    StreamingIndexer,
    allowed_segment_count,
    compact_store,
    maintain_store,
    update_documents,
)

__all__ = [
    "StreamingIndexer",
    "allowed_segment_count",
    "compact_store",
    "maintain_store",
    "update_documents",
]
