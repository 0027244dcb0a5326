"""The query library: every module here is reached by ``queries.py``,
``oracles.py`` or other extensions, never by the engine (``plans``,
``streaming``, ``cli``). Besides the large-scale training-data operators
(deduplication, similarity search, text analysis, multimodal columns)
it holds the intakes (avro, iceberg, warc, pdftext, protobuf, ...), the
image/audio/video codecs (jpeg, flac, webp, vp8, h264, ...), the
query-side DataFrame operators (bucketing, geo, interval, skew,
windows) and hashing. All designed for 100 TB: no driver-side collects
on data paths, joins keyed on dense hash buckets, candidate generation
via LSH rather than pairwise cross-joins.
"""
