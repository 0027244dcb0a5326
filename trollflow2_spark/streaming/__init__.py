from trollflow2_spark.streaming.runner import (  # noqa: F401
    message_stream,
    run_streaming,
)
