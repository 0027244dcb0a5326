"""DataFrame operators: composites and block aggregation, resampling
joins, skew-safe aggregation, window top-k, geo and interval joins.
The worker plugins in ``plans/pipeline.py`` import ``transforms`` and
``resample``; the query library imports the rest. Pipelines name worker
plugins, not operators (``plans.pipeline.PLUGIN_REGISTRY``).
"""
