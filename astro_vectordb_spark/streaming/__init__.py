from astro_vectordb_spark.streaming.dedup import (
    first_seen_filter,
    stream_dedup_exact,
)
from astro_vectordb_spark.streaming.upsert import (
    foreach_batch_upsert,
    stream_sync_merge,
)

__all__ = [
    "first_seen_filter",
    "foreach_batch_upsert",
    "stream_dedup_exact",
    "stream_sync_merge",
]
