from daft_minhash_dedupe_spark.streaming.dedupe_stream import streaming_exact_dedupe
from daft_minhash_dedupe_spark.streaming.near_dedupe import (
    StreamingNearDedupe,
    streaming_near_dedupe,
)

__all__ = [
    "StreamingNearDedupe",
    "streaming_exact_dedupe",
    "streaming_near_dedupe",
]
