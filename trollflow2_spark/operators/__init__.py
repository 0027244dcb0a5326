"""DataFrame operators: the ``DataFrame -> DataFrame`` building blocks
(metadata checks, composites and block aggregation, resampling joins,
skew-safe aggregation, window top-k) that the worker plugins in
``plans/pipeline.py`` and the query library import directly. Pipelines
name worker plugins, not operators (``plans.pipeline.PLUGIN_REGISTRY``).
"""
