"""DataFrame operators of the worker plugins in ``plans/pipeline.py``:
``transforms`` (composites, block aggregation) and ``resample``
(nearest and weighted resampling joins). Pipelines name worker plugins,
not operators (``plans.pipeline.PLUGIN_REGISTRY``). The query library's
operators live in ``extensions/``.
"""
