from .maintenance import backfill, foreach_batch_transform  # noqa: F401
from .monitor import ProgressLogger, attach  # noqa: F401
from .validate import (  # noqa: F401
    file_json_source,
    kafka_source,
    start_validated_rejected_sinks,
    validate_messages,
)
