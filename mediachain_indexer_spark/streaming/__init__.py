from mediachain_indexer_spark.streaming.incremental import (  # noqa: F401
    incremental_dedupe_stream,
)
