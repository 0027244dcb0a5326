from trollflow2_spark.sinks.save import (  # noqa: F401
    CALLBACK_REGISTRY,
    WRITER_REGISTRY,
    SaveResult,
    check_results,
    compose_filename,
    register_writer,
    save_datasets,
)
from trollflow2_spark.sinks.publish import (  # noqa: F401
    publisher_messages,
    write_messages,
)
