from .changes_stream import ChangeFeedConsumer  # noqa: F401
from .neardup_stream import (  # noqa: F401
    ingest_batch_neardup,
    ingest_batch_neardup_mtable,
)
