from trollflow2_spark.streaming.runner import run_streaming  # noqa: F401
