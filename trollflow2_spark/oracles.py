"""DuckDB oracle SQL for every query in :mod:`trollflow2_spark.queries`.

Each statement runs against the driver's pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) and must produce the *identical* rows (names, types, values)
as the Spark query. Shared thresholds come from :mod:`qconst`; shared
expression builders (portable hash, shingles, SZA) come from the same
modules the Spark side uses, so the two can't drift.
"""

from __future__ import annotations

from trollflow2_spark import qconst as C
from trollflow2_spark.extensions.profile import BENFORD_P
from trollflow2_spark.extensions.text import BPE_ISH_PATTERN, LANG_MARKERS, STOPWORDS
from trollflow2_spark.functions.geometry import SZA_SQL
from trollflow2_spark.extensions.hashing import (
    HASH64_LANE_SQL,
    HASH64_SQL,
    TOKENS_SQL,
    WORD_SHINGLES_SQL,
)


def _dsum(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"


ORACLES: dict[str, str] = {}

# --- relational core -------------------------------------------------------

ORACLES["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  {_dsum('l_quantity')} AS sum_qty,
  {_dsum('l_extendedprice')} AS sum_base_price,
  {_dsum('l_extendedprice*(1-l_discount)', 6)} AS sum_disc_price,
  {_dsum('l_extendedprice*(1-l_discount)*(1+l_tax)', 6)} AS sum_charge,
  count(*) AS count_order,
  {_dsum('l_quantity')}/count(*) AS avg_qty,
  {_dsum('l_extendedprice')}/count(*) AS avg_price,
  {_dsum('l_discount', 6)}/count(*) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{C.Q1_SHIPDATE_MAX}'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["q3_shipping_priority"] = f"""
SELECT l_orderkey,
  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS orderdate,
  o_orderpriority,
  {_dsum('l_extendedprice*(1-l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{C.Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{C.Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{C.Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT {C.Q3_LIMIT}
"""

# identical result contract; the Spark side differs only in physical
# layout (pre-bucketed fact tables, zero-Exchange join)
ORACLES["q3_bucketed"] = ORACLES["q3_shipping_priority"]

ORACLES["q5_local_supplier"] = f"""
SELECT n_name, {_dsum('l_extendedprice*(1-l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{C.Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{C.Q5_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{C.Q5_DATE_HI}'
GROUP BY n_name
"""

ORACLES["q6_forecast_revenue"] = f"""
SELECT {_dsum('l_extendedprice*l_discount', 6)} AS revenue, count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{C.Q6_YEAR_LO}'
  AND l_shipdate < TIMESTAMP '{C.Q6_YEAR_HI}'
  AND l_discount >= {C.Q6_DISC_LO} AND l_discount <= {C.Q6_DISC_HI}
  AND l_quantity < {C.Q6_QTY}
"""

# --- config expansion: golden rows ----------------------------------------

_GLOBAL_PAT = "{start_time:%Y%m%d_%H%M}_{areaname}_{productname}.{format}"
_GERM_PAT = "{productname}_germ.{format}"

ORACLES["work_items_flatten"] = f"""
SELECT area, areaname, CAST(priority AS INTEGER) AS priority, product,
       productname, CAST(resolution AS INTEGER) AS resolution, format, writer,
       fname_pattern, CAST(min_coverage AS DOUBLE) AS min_coverage,
       CAST(fill_value AS DOUBLE) AS fill_value,
       CAST(sunzen_minimum_angle AS DOUBLE) AS sunzen_minimum_angle,
       output_dir, publish_topic
FROM (VALUES
  ('euron1','euron1',1,'cloud_top_height','cloud_top_height',NULL,'tif','geotiff','{_GLOBAL_PAT}',20.0,NULL,NULL,'/data/out','/raster'),
  ('euron1','euron1',1,'cloud_top_height','cloud_top_height',NULL,'nc','cf','{_GLOBAL_PAT}',20.0,0.0,NULL,'/data/out','/raster'),
  ('euron1','euron1',1,'overview','overview',1000,'png','simple_image','{_GLOBAL_PAT}',20.0,NULL,NULL,'/data/out','/raster'),
  ('germ','germ',NULL,'ch1,ch2','double_channels',NULL,'png','simple_image','{_GERM_PAT}',5.0,NULL,NULL,'/data/out','/raster'),
  ('germ','germ',NULL,'night_fog','night_fog',NULL,'png','simple_image','{_GERM_PAT}',5.0,NULL,90.0,'/data/out','/raster'),
  ('omerc_bb','omerc',NULL,'natural_color','natural_color',NULL,'tif','geotiff','{_GLOBAL_PAT}',5.0,NULL,NULL,'/data/out','/raster')
) AS t(area, areaname, priority, product, productname, resolution, format,
       writer, fname_pattern, min_coverage, fill_value, sunzen_minimum_angle,
       output_dir, publish_topic)
"""

# --- filters ---------------------------------------------------------------

_ALLOWED = ", ".join(f"'{v}'" for v in C.EVENT_TYPES_ALLOWED)
ORACLES["check_metadata_categorical"] = f"""
SELECT event_id, event_type, user_id FROM events
WHERE event_type IS NULL OR event_type IN ({_ALLOWED})
"""

ORACLES["check_metadata_age"] = f"""
SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE ts IS NULL
   OR ts >= TIMESTAMP '{C.AGE_NOW}' - INTERVAL {int(C.AGE_MAX_MINUTES)} MINUTES
"""

_ALIAS_CASE = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in C.ALIASES.items())
ORACLES["metadata_alias"] = f"""
SELECT event_id,
  CASE event_type {_ALIAS_CASE} ELSE event_type END AS event_type
FROM events
"""

ORACLES["coverage_filter"] = f"""
SELECT event_id, event_type,
  CAST((event_id * 37) % 101 AS DOUBLE) AS area_coverage_percent
FROM events
WHERE CAST((event_id * 37) % 101 AS DOUBLE) >= coalesce(
  CASE WHEN event_type = 'error' THEN NULL
       ELSE CAST({C.COVERAGE_MIN_PCT} AS DOUBLE) END,
  CAST(0.0 AS DOUBLE))
"""

_SZA = SZA_SQL(
    "CAST(ts AS TIMESTAMP)",
    "CAST(user_id % 360 - 180 AS DOUBLE)",
    "CAST(user_id % 180 - 90 AS DOUBLE)",
)
ORACLES["sza_filter"] = f"""
SELECT event_id, sza FROM (
  SELECT event_id, round({_SZA}, 4) AS sza FROM events
) WHERE sza <= {C.SZA_MAX_DEG}
"""

ORACLES["valid_fraction_filter"] = f"""
WITH fr AS (
  SELECT event_type,
    (count(CASE WHEN value >= {C.VALID_MIN_VALUE} AND NOT isnan(value) THEN 1 END)
     / count(*)) / 1.0 AS rel_valid
  FROM events GROUP BY event_type
)
SELECT event_id, event_type FROM events
WHERE event_type IN (
  SELECT event_type FROM fr
  WHERE rel_valid >= {C.VALID_MIN_FRACTION} AND rel_valid >= 0.0 AND rel_valid < 1.05)
"""

# --- projection / aggregation ---------------------------------------------

ORACLES["priority_batches"] = f"""
SELECT coalesce(TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER), 999) AS priority,
  count(*) AS n_orders,
  {_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY 1
"""

ORACLES["block_aggregate"] = f"""
SELECT CAST(floor(event_id / {C.BLOCK_FACTOR}) AS BIGINT) AS event_id_block,
  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value) AS value_avg,
  count(*) AS n_rows
FROM events GROUP BY 1
"""

ORACLES["resolution_top1"] = """
SELECT o_custkey, o_orderkey,
  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS orderdate
FROM orders
QUALIFY row_number() OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC) = 1
"""

ORACLES["composite_union_distinct"] = "SELECT DISTINCT lang, source FROM documents"

ORACLES["filename_compose"] = """
SELECT o_orderkey,
  'order_' || o_orderpriority || '_'
   || strftime(CAST(o_orderdate AS TIMESTAMP), '%Y%m%d_%H%M')
   || '_k' || CAST(o_orderkey AS VARCHAR) || '.tif' AS filename
FROM orders
"""

ORACLES["json_extract_props"] = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""

ORACLES["sessionize"] = f"""
WITH x AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL {C.SESSION_GAP_MIN} MINUTES
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT user_id,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM x
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM y GROUP BY user_id
"""

_FUNNEL_IN = ", ".join(f"'{s}'" for s in C.FUNNEL_STEPS)
_FUNNEL_STEPNO = "CASE " + " ".join(
    f"WHEN s.ty = '{step}' THEN {i + 1}" for i, step in enumerate(C.FUNNEL_STEPS)
) + " END"
_FUNNEL_ADVANCE = "CASE " + " ".join(
    f"WHEN acc = {i - 1} AND x = {i} THEN {i}"
    for i in range(1, len(C.FUNNEL_STEPS) + 1)
) + " ELSE acc END"
ORACLES["funnel_conversion"] = f"""
WITH e AS (
  SELECT user_id, struct_pack(ts := ts, ty := event_type) AS e
  FROM events WHERE event_type IN ({_FUNNEL_IN})
    AND ts < TIMESTAMP '{C.FUNNEL_TS_MAX}'
), seq AS (
  SELECT user_id,
    list_transform(list_sort(list(e)), s -> {_FUNNEL_STEPNO}) AS steps
  FROM e GROUP BY user_id
), st AS (
  SELECT user_id,
    list_reduce(list_prepend(0, steps), (acc, x) -> {_FUNNEL_ADVANCE})
      AS funnel_stage
  FROM seq
)
SELECT user_id, CAST(funnel_stage AS INT) AS funnel_stage,
  CAST(CASE WHEN funnel_stage = {len(C.FUNNEL_STEPS)} THEN 1 ELSE 0 END AS INT)
    AS converted
FROM st
"""

ORACLES["event_counts_salted"] = """
SELECT event_type,
  count(event_id) AS n_events,
  min(event_id) AS first_event,
  max(event_id) AS last_event
FROM events
GROUP BY event_type
"""

# skew stress fixture: replicated events with a hot key owning 50% of
# rows; the ordered-sequence fingerprint is the skew-sensitive agg
# (collect_list has no map-side reduction). The plain form hashes the
# full ordered payload; the salted form is the digest chain — per
# (key, contiguous bucket) md5 in stage 1, md5 of the ordered bucket
# digests in stage 2 — so its oracle replays md5-of-md5s exactly.
_SKEW_REP_CTE = f"""
WITH rep AS (
  SELECT e.event_id * {C.SKEW_REPLICATE} + r.r AS seq_id,
         CASE WHEN e.event_id % 2 = 0 THEN -1 ELSE e.user_id END AS skew_user,
         concat_ws('@', e.event_type, e.props) AS payload
  FROM events e
  CROSS JOIN (SELECT unnest(range({C.SKEW_REPLICATE})) AS r) r
)"""
ORACLES["skew_seq_plain"] = f"""{_SKEW_REP_CTE}
SELECT skew_user,
  md5(string_agg(payload, '|' ORDER BY seq_id)) AS seq_hash,
  count(*) AS n_events
FROM rep GROUP BY skew_user
"""
ORACLES["skew_seq_salted"] = f"""{_SKEW_REP_CTE},
buckets AS (
  SELECT skew_user,
         seq_id // {C.SKEW_BUCKET_WIDTH} AS bucket,
         md5(string_agg(payload, '|' ORDER BY seq_id)) AS digest,
         count(*) AS n
  FROM rep GROUP BY skew_user, seq_id // {C.SKEW_BUCKET_WIDTH}
)
SELECT skew_user,
  md5(string_agg(digest, '|' ORDER BY bucket)) AS seq_hash,
  CAST(sum(n) AS BIGINT) AS n_events
FROM buckets GROUP BY skew_user
"""

ORACLES["skew_join_profile"] = f"""{_SKEW_REP_CTE},
rep2 AS (
  SELECT skew_user,
         concat_ws('#', payload, md5(CAST(seq_id AS VARCHAR))) AS payload
  FROM rep
),
profile AS (
  SELECT c_custkey AS skew_user FROM customer
  UNION ALL SELECT CAST(-1 AS BIGINT)
),
pw AS (
  SELECT skew_user, (skew_user + 1000003) % 7 + 1 AS w FROM profile
)
SELECT w,
  CAST(sum(length(payload)) AS BIGINT) AS payload_bytes,
  count(*) AS n_events
FROM rep2 JOIN pw USING (skew_user)
GROUP BY w
"""

# --- joins / spatial -------------------------------------------------------

_EPOCH = "CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS DOUBLE)"

ORACLES["nearest_join_asof"] = f"""
WITH e AS (SELECT event_id, event_type, {_EPOCH} AS epoch FROM events),
t AS (SELECT event_id AS t_id, epoch AS t_epoch FROM e WHERE event_type = 'error'),
s AS (SELECT event_id AS s_id, epoch AS s_epoch FROM e WHERE event_type = 'click'),
j AS (
  SELECT t.t_id, t.t_epoch, s.s_id, abs(t.t_epoch - s.s_epoch) AS dist
  FROM t LEFT JOIN s ON abs(t.t_epoch - s.s_epoch) <= {C.NEAREST_RADIUS_SEC}
)
SELECT t_id, s_id AS nearest_click_id, CAST(dist AS BIGINT) AS dist_sec
FROM j
QUALIFY row_number() OVER (
  PARTITION BY t_id, t_epoch ORDER BY dist ASC NULLS LAST, s_id ASC) = 1
"""

ORACLES["weighted_resample"] = f"""
WITH e AS (SELECT event_id, event_type, value, {_EPOCH} AS epoch FROM events),
t AS (SELECT event_id AS t_id, epoch AS t_epoch FROM e WHERE event_type = 'error'),
s AS (SELECT epoch AS s_epoch, value AS s_value FROM e WHERE event_type = 'click'),
j AS (
  SELECT t.t_id, t.t_epoch, s.s_value, abs(t.t_epoch - s.s_epoch) AS dist
  FROM t JOIN s ON abs(t.t_epoch - s.s_epoch) <= {C.NEAREST_RADIUS_SEC}
)
SELECT t_id,
  round(SUM((1.0/(dist + 1e-9)) * s_value) / SUM(1.0/(dist + 1e-9)), 4) AS resampled_value,
  count(*) AS n_neighbors
FROM j GROUP BY t_id, t_epoch
"""

# --- sinks -----------------------------------------------------------------

# The e2e manifest's deterministic fields are config-derived (filename
# composition, writer dispatch, nonempty commits), independent of the
# data scale — pinned as literals. Pixel values of the written files are
# value-checked by pipeline_roundtrip instead.
ORACLES["pipeline_e2e"] = """
SELECT * FROM (VALUES
  ('SAT-1_areaA_val.parquet', 'areaA', 'value', 'parquet', 'parquet', TRUE),
  ('SAT-1_areaA_val.csv', 'areaA', 'value', 'csv', 'csv', TRUE),
  ('SAT-1_areaA_val.tif', 'areaA', 'value', 'tif', 'geotiff', TRUE),
  ('SAT-1_areaA_val.png', 'areaA', 'value', 'png', 'simple_image', TRUE),
  ('SAT-1_areaA_val.nc', 'areaA', 'value', 'nc', 'cf', TRUE),
  ('SAT-1_areaA_uid.tif', 'areaA', 'user_id', 'tif', 'geotiff', TRUE)
) AS t(filename, area, product, format, writer, nonempty)
"""

ORACLES["pipeline_roundtrip"] = f"""
WITH g AS (
  SELECT CAST(event_id % {C.RT_YMOD} AS INT) AS yv,
         CAST(user_id % {C.RT_XMOD} AS INT) AS xv,
         {_dsum('value')} AS value
  FROM events GROUP BY 1, 2
)
SELECT 'value' AS product,
  CAST(dense_rank() OVER (ORDER BY yv) - 1 AS INT) AS y,
  CAST(dense_rank() OVER (ORDER BY xv) - 1 AS INT) AS x,
  value
FROM g
"""

ORACLES["manifest_check"] = """
SELECT source, count(*) AS n_files,
  count(CASE WHEN n_chars = 0 THEN 1 END) AS n_empty,
  min(n_chars) AS min_size, max(n_chars) AS max_size
FROM documents GROUP BY source
"""

ORACLES["publisher_messages"] = f"""
SELECT doc_id,
  printf('{C.PUBLISH_PATTERN}',
    'file:///out/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
    doc_id, n_chars, source) AS message
FROM documents
"""

# --- dedup -----------------------------------------------------------------

ORACLES["dedup_exact"] = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""

_SHINGLES_MH = WORD_SHINGLES_SQL("text", C.MINHASH_SHINGLE_WORDS)
# lane pairs: two independent 60-bit hashes per seeded md5 digest, so
# num_hashes functions cost num_hashes/2 md5 calls (matches hash64_lane)
_MINHASH_COLS = ",\n  ".join(
    f"min({HASH64_LANE_SQL('shingle', seed=i // 2, lane=i % 2)}) AS minhash_{i}"
    for i in range(C.MINHASH_NUM_HASHES)
)
ORACLES["minhash_signatures"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
)
SELECT doc_id,
  {_MINHASH_COLS}
FROM sh GROUP BY doc_id
"""

_TOKS = TOKENS_SQL("text")
_SIMHASH_VOTES = ",\n  ".join(
    f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(C.SIMHASH_BITS)
)
_SIMHASH_SUM = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
    for i in range(C.SIMHASH_BITS)
)
ORACLES["simhash"] = f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, {HASH64_SQL('tok')} AS th FROM t
), v AS (
  SELECT doc_id,
  {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash FROM v
"""

# simhash hamming-band pair generation: band the fingerprint into
# contiguous segments, bucket on (band, segment), verify bucket
# collisions with a full-fingerprint bit_count(xor) gate.
_SIMHASH_SEG_BITS = C.SIMHASH_BITS // C.SIMHASH_BANDS
_SIMHASH_SEG_MASK = (1 << _SIMHASH_SEG_BITS) - 1
# Candidate generation replays the guarded bucket semantics exactly:
# small buckets (2..t members) emit all pairs; salted buckets (>t, up
# to the drop guard) emit pairs only within contiguous id-order chunks
# of t members (what _bucketed_pairs' array slicing produces).
ORACLES["simhash_pairs"] = f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, {HASH64_SQL('tok')} AS th FROM t
), v AS (
  SELECT doc_id,
  {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id
), f AS (
  SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash FROM v
), m AS (
  SELECT doc_id, band, (simhash >> (band * {_SIMHASH_SEG_BITS})) & {_SIMHASH_SEG_MASK} AS seg
  FROM f CROSS JOIN (SELECT CAST(unnest(range({C.SIMHASH_BANDS})) AS INT) AS band) b
), sized AS (
  SELECT band, seg, count(*) AS n FROM m GROUP BY band, seg
  HAVING count(*) >= 2 AND count(*) <= 100000
), ranked AS (
  SELECT m.doc_id, m.band, m.seg, sized.n,
    CAST(floor((row_number() OVER (PARTITION BY m.band, m.seg ORDER BY m.doc_id)
                - 1) / {C.SIMHASH_SALT_THRESHOLD}) AS BIGINT) AS c
  FROM m JOIN sized USING (band, seg)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ranked a JOIN ranked b
    ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
   AND (a.n <= {C.SIMHASH_SALT_THRESHOLD} OR a.c = b.c)
), p AS (
  SELECT c.id_a, c.id_b,
    CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
  FROM cand c JOIN f fa ON c.id_a = fa.doc_id JOIN f fb ON c.id_b = fb.doc_id
)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= {C.SIMHASH_MAX_HAMMING}
"""

_SHINGLES_J = WORD_SHINGLES_SQL("text", C.JACCARD_SHINGLE_WORDS)
# ngram_jaccard_pairs / ngram_containment_pairs are defined after the
# minhash LSH section below — the verify tier consumes LSH candidates.

# WARC ingestion: the fixture WARC bytes are deterministic per doc_id
# (request+response gzip members, HTTP envelope, known HTML), so every
# parsed field and the extracted text are closed forms.
ORACLES["warc_ingest"] = """
SELECT doc_id,
  CAST(2 AS INTEGER) AS n_records,
  CAST(200 AS INTEGER) AS http_status,
  'text/html' AS content_type,
  'Doc ' || doc_id || ' alpha & beta ' || (doc_id % 7) AS text,
  CAST(length('Doc ' || doc_id || ' alpha & beta ' || (doc_id % 7))
       AS INTEGER) AS text_len
FROM documents
"""

# .warc.zst intake: identical records to warc_ingest, zstd-framed —
# the parsed fields share the same closed forms.
ORACLES["warc_ingest_zst"] = ORACLES["warc_ingest"]

# content-encoding: br intake: identical records, brotli-framed response
# bodies decoded by the from-scratch RFC 7932 decoder — same closed forms.
ORACLES["warc_ingest_br"] = ORACLES["warc_ingest"]

# charset-aware intake: the fixture cycles 5 charset situations per
# doc_id % 5; the oracle restates the decoded UTF-8 text verbatim
# (this file is UTF-8, so the literals ARE the expected codepoints),
# the resolved codec (iso-8859-1 declared -> cp1252, the WHATWG fold)
# and the resolution source (header -> meta -> BOM -> default).
ORACLES["warc_charset"] = """
WITH e AS (
  SELECT doc_id, doc_id % 6 AS m,
    CASE doc_id % 6
      WHEN 0 THEN 'Prix ' || (doc_id % 7) || ' € — “déjà vu”'
      WHEN 1 THEN '日本語 ' || (doc_id % 7) || ' 円です'
      WHEN 2 THEN '<html><head><meta charset=iso-8859-1></head>'
                  || '<body>café niño ' || (doc_id % 7)
                  || '</body></html>'
      WHEN 3 THEN 'BOM doc ' || (doc_id % 7) || ' ✓ 中文'
      WHEN 4 THEN 'plain ' || (doc_id % 7) || ' naïve text'
      ELSE 'lied ' || (doc_id % 7) || ' übergröße 中'
    END AS text
  FROM documents
)
SELECT doc_id,
  CASE m WHEN 0 THEN 'cp1252' WHEN 1 THEN 'shift_jis'
         WHEN 2 THEN 'cp1252' ELSE 'utf-8' END AS charset,
  CASE m WHEN 2 THEN 'meta' WHEN 3 THEN 'bom' WHEN 4 THEN 'default'
         WHEN 5 THEN 'detected' ELSE 'header' END AS charset_source,
  CAST(1 AS INTEGER) AS decode_ok,
  text,
  CAST(length(text) AS INTEGER) AS text_len
FROM e
"""

# WET sidecar intake: the planted conversion-record text is a closed
# form; the warcinfo record must NOT appear (row count pins the filter).
ORACLES["wet_ingest"] = """
SELECT doc_id,
  'http://site' || (doc_id % 20) || '.com/p/' || doc_id AS url,
  'Doc ' || doc_id || ' conversion' || chr(10)
    || 'alpha ' || (doc_id % 7) || ' beta' || chr(10) || chr(10)
    || 'gamma ' || (doc_id % 3) || chr(10) AS text,
  CAST(length('Doc ' || doc_id || ' conversion' || chr(10)
    || 'alpha ' || (doc_id % 7) || ' beta' || chr(10) || chr(10)
    || 'gamma ' || (doc_id % 3) || chr(10)) AS INTEGER) AS text_len,
  CAST(3 AS INTEGER) AS n_lines
FROM documents
"""

# WAT sidecar intake: two planted outlinks per doc — an absolute URL
# (passthrough) and a root-relative href (resolved against the
# target-URI origin).
ORACLES["wat_outlinks"] = """
SELECT doc_id,
  'http://site' || (doc_id % 20) || '.com/p/' || doc_id AS url,
  'Doc ' || doc_id || ' title' AS title,
  CAST(0 AS INTEGER) AS link_ord,
  'http://site' || ((doc_id + 1) % 20) || '.com/x/' || doc_id AS link_url
FROM documents
UNION ALL
SELECT doc_id,
  'http://site' || (doc_id % 20) || '.com/p/' || doc_id AS url,
  'Doc ' || doc_id || ' title' AS title,
  CAST(1 AS INTEGER) AS link_ord,
  'http://site' || (doc_id % 20) || '.com/rel/' || (doc_id % 5)
    AS link_url
FROM documents
"""

# intake reject audit: the fixture class is doc_id % 4, so the rollup
# is a closed form (ok / corrupt / unsupported_codec / oversized)
ORACLES["media_quarantine_audit"] = """
SELECT CASE doc_id % 4
    WHEN 0 THEN 'ok' WHEN 1 THEN 'corrupt'
    WHEN 2 THEN 'unsupported_codec' ELSE 'oversized' END
    AS quarantine_reason,
  count(*) AS n_items,
  min(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
"""

# URL canonicalization: the Spark side runs the real canonicalizer on
# the messy fixture; the oracle states both forms closed-form (lowercase
# scheme/host, default port and fragment stripped, tracking params
# dropped, surviving params sorted: a=<d%3> then z=2, empty path -> /).
ORACLES["url_canonicalize"] = """
SELECT doc_id,
  (CASE WHEN doc_id % 2 = 1 THEN 'HTTPS://' ELSE 'HTTP://' END)
    || 'WWW.Site' || (doc_id % 20) || '.COM'
    || (CASE WHEN doc_id % 2 = 1 THEN ':443' ELSE ':80' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || doc_id END)
    || '?utm_source=tw&z=2&a=' || (doc_id % 3)
    || '&fbclid=xyz#sec' || doc_id AS url,
  (CASE WHEN doc_id % 2 = 1 THEN 'https://' ELSE 'http://' END)
    || 'www.site' || (doc_id % 20) || '.com'
    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '/p/' || doc_id END)
    || '?a=' || (doc_id % 3) || '&z=2' AS canonical_url
FROM documents
"""

# host-level PageRank: closed-form edges (two outlinks per host class;
# distinct folds the h=7,17 coincidence into outdeg 1), 3 power
# iterations unrolled as chained CTEs; per-iteration round(8) keeps the
# float accumulation bit-stable across engines
def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT hosts.host,
    round(0.15 / n.n + 0.85 * coalesce(s.in_sum, 0.0), 8) AS rank
  FROM hosts CROSS JOIN n LEFT JOIN (
    SELECT e.dst AS host, sum(r.rank / od.outdeg) AS in_sum
    FROM edges e JOIN {prev} r ON r.host = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst
  ) s ON s.host = hosts.host
)"""


ORACLES["host_pagerank"] = f"""
WITH hs AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
e0 AS (
  SELECT h AS s, (h + 1) % 20 AS t FROM hs
  UNION
  SELECT h, (h * 3 + 7) % 20 FROM hs
),
edges AS (
  SELECT 'site' || s || '.com' AS src, 'site' || t || '.com' AS dst
  FROM e0
),
hosts AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hosts),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
       FROM edges GROUP BY src),
r0 AS (SELECT host, 1.0 / n.n AS rank FROM hosts CROSS JOIN n),
{_pagerank_iter_sql("r0", "r1")},
{_pagerank_iter_sql("r1", "r2")},
{_pagerank_iter_sql("r2", "r3")}
SELECT host, round(rank, 6) AS pagerank FROM r3
"""

# the full crawl-preprocessing chain: every stage replayed closed-form
# (extracted text, canonical URL, capture winner, text-dedup canonical,
# length gate) — grouping on the text is equivalent to the engine's
# md5-digest grouping
ORACLES["crawl_pipeline"] = """
WITH base AS (
  SELECT doc_id, doc_id % 100 AS pid, doc_id % 250 AS uid,
    CAST(doc_id * 37 % 1000 AS BIGINT) AS fetch_ts
  FROM documents
), ext AS (
  SELECT doc_id, fetch_ts,
    'http://site' || (uid % 25) || '.com/p/' || uid
      || '?k=' || (uid % 3) AS canonical_url,
    CASE WHEN pid % 10 = 0 THEN 'x'
         ELSE 'Doc ' || pid || ' alpha & beta ' || (pid % 7) END AS text
  FROM base
), latest AS (
  SELECT doc_id, canonical_url, text, n_captures FROM (
    SELECT doc_id, canonical_url, text,
      row_number() OVER (PARTITION BY canonical_url
                         ORDER BY fetch_ts DESC, doc_id ASC) AS rn,
      count(*) OVER (PARTITION BY canonical_url) AS n_captures
    FROM ext
  ) WHERE rn = 1
), ded AS (
  SELECT doc_id, canonical_url, text, n_captures, group_size FROM (
    SELECT doc_id, canonical_url, text, n_captures,
      count(*) OVER (PARTITION BY text) AS group_size,
      min(doc_id) OVER (PARTITION BY text) AS keep_id
    FROM latest
  ) WHERE doc_id = keep_id
)
SELECT doc_id, canonical_url, text,
  CAST(length(text) AS INTEGER) AS text_len, n_captures, group_size
FROM ded WHERE length(text) >= 10
"""

# capstone: the crawl survivors' token streams concat in id order and
# cut into 32-token examples — the crawl CTEs + the concat-chunk cumsum
ORACLES["crawl_to_training"] = f"""
WITH base AS (
  SELECT doc_id, doc_id % 100 AS pid, doc_id % 250 AS uid,
    CAST(doc_id * 37 % 1000 AS BIGINT) AS fetch_ts
  FROM documents
), ext AS (
  SELECT doc_id, fetch_ts,
    'http://site' || (uid % 25) || '.com/p/' || uid
      || '?k=' || (uid % 3) AS canonical_url,
    CASE WHEN pid % 10 = 0 THEN 'x'
         ELSE 'Doc ' || pid || ' alpha & beta ' || (pid % 7) END AS text
  FROM base
), latest AS (
  SELECT doc_id, canonical_url, text FROM (
    SELECT doc_id, canonical_url, text,
      row_number() OVER (PARTITION BY canonical_url
                         ORDER BY fetch_ts DESC, doc_id ASC) AS rn
    FROM ext
  ) WHERE rn = 1
), ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      min(doc_id) OVER (PARTITION BY text) AS keep_id
    FROM latest
  ) WHERE doc_id = keep_id
), surv AS (
  SELECT doc_id,
    CAST(len({_TOKS}) + 1 AS BIGINT) AS nt
  FROM ded WHERE length(text) >= 10
), c AS (
  SELECT doc_id, nt,
    sum(nt) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
      AS s
  FROM surv
), e AS (
  SELECT doc_id, nt, s,
    unnest(generate_series(CAST(s // 32 AS BIGINT),
                           CAST((s + nt - 1) // 32 AS BIGINT))) AS ex
  FROM c
)
SELECT CAST(ex AS BIGINT) AS example_id, doc_id,
  CAST(greatest(0, ex * 32 - s) AS INTEGER) AS doc_tok_start,
  CAST(least(s + nt, (ex + 1) * 32) - greatest(s, ex * 32) AS INTEGER)
    AS n_toks
FROM e
"""

# tumbling event-time windows: Spark's F.window('1 hour') buckets are
# epoch-aligned, identical to date_trunc('hour') for hour-divisible
# widths; the sum accumulates in exact decimal before the double cast
ORACLES["event_time_windows"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

# streaming first-seen dedup replay: survivor = min-batch doc per
# content group; digest = the shared portable hash of the normalized
# text (identical normalization chain on both engines)
# watermark late-data replay: accepted iff the row's hour-window END
# clears the watermark in force for its batch. Micro-batch watermark
# propagation LAGS one batch (the update computed from batch b-1's
# data takes effect in batch b+1 — the next batch was already planned
# with the previous value), so the watermark for batch b derives from
# data through batch b-2; batches 0 and 1 run unfiltered.
# the replay fixtures cap at REPLAY_ROW_BUDGET rows picked in
# Knuth-spread-hash order (portable arithmetic, identical on Spark) so
# the contract subset is O(1) in sf while covering the full ts range
def _replay_budget_sql(where: str, id_col: str = "event_id") -> str:
    return (
        f"SELECT * FROM events WHERE {where} "
        f"ORDER BY ({id_col} * {C.REPLAY_SPREAD}) % 4294967296, {id_col} "
        f"LIMIT {C.REPLAY_ROW_BUDGET}"
    )


ORACLES["streaming_late_data"] = f"""
WITH f0 AS (
  {_replay_budget_sql(f"event_id % {C.REPLAY_SUB_MOD} = 0")}
), f AS (
  SELECT ts, event_type, event_id % 3 AS b FROM f0
), bmax AS (
  SELECT b, max(ts) AS mx FROM f GROUP BY b
), wm AS (
  SELECT b1.b,
    (SELECT max(mx) FROM bmax b2 WHERE b2.b < b1.b - 1)
      - INTERVAL 6 HOUR AS w
  FROM bmax b1
), acc AS (
  SELECT f.ts, f.event_type
  FROM f JOIN wm USING (b)
  WHERE wm.w IS NULL
     OR date_trunc('hour', f.ts) + INTERVAL 1 HOUR > wm.w
)
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events
FROM acc GROUP BY 1, 2
"""

# stream-stream join replay: accepted rows (raw ts vs the lag-2
# watermark) joined under the attribution time-range condition
ORACLES["streaming_join_replay"] = f"""
WITH f0 AS (
  {_replay_budget_sql(f"event_id % {C.REPLAY_SUB_MOD} = 0")}
), f AS (
  SELECT event_id, user_id % 5 AS k, ts,
    event_id % 2 = 0 AS is_l, (event_id // {C.REPLAY_SUB_MOD}) % 3 AS b
  FROM f0
), bmax AS (
  -- Spark's event-time stats are millisecond-floored, so the
  -- watermark derives from the ms-truncated batch maximum
  SELECT b, date_trunc('milliseconds', max(ts)) AS mx FROM f GROUP BY b
), wm AS (
  SELECT b1.b,
    (SELECT max(mx) FROM bmax b2 WHERE b2.b < b1.b - 1)
      - INTERVAL 2 HOUR AS w
  FROM bmax b1
), acc AS (
  -- state watermarks derive from the join condition: the time-range
  -- couples the two sides within max_delay, so state on BOTH sides
  -- survives down to wm - 1h (a left row can still match clicks up
  -- to 1h after it; a click can still match impressions admitted
  -- that late)
  SELECT f.* FROM f JOIN wm USING (b)
  WHERE wm.w IS NULL OR f.ts >= wm.w - INTERVAL 1 HOUR
)
SELECT l.k AS k, l.event_id AS l_eid, r.event_id AS r_eid
FROM acc l JOIN acc r
  ON l.is_l AND NOT r.is_l AND l.k = r.k
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
"""

_SDR_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
ORACLES["streaming_dedup_replay"] = f"""
WITH f0 AS (
  SELECT * FROM documents
  ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), f AS (
  SELECT doc_id, 'content ' || (doc_id // 3) AS text, doc_id % 3 AS b
  FROM f0
), k AS (
  SELECT doc_id, text, b,
    min(b) OVER (PARTITION BY text) AS bmin
  FROM f
)
SELECT doc_id, text,
  {HASH64_SQL(_SDR_NORM)} AS digest
FROM k WHERE b = bmin
"""

# HTML->markdown fixture replay: the converted markdown verbatim
ORACLES["html_markdown"] = """
SELECT doc_id,
  '# Title ' || doc_id || chr(10) || chr(10)
    || 'Intro & more' || chr(10) || chr(10)
    || '- item0' || chr(10) || '- item ' || (doc_id % 5)
    || chr(10) || chr(10)
    || 'See [link ' || doc_id || '](http://s' || (doc_id % 9)
    || '.com/p) now.' || chr(10) || chr(10)
    || '**bold** and *it*' AS markdown,
  CAST(1 AS INTEGER) AS n_links,
  CAST(1 AS INTEGER) AS n_headings,
  CAST(2 AS INTEGER) AS n_items
FROM documents
"""

# PDF fixture replay: structure and extracted text closed-form
ORACLES["pdf_text"] = """
WITH base AS (
  SELECT doc_id, doc_id % 9 = 0 AS not_pdf,
    1 + doc_id % 3 AS np, doc_id % 10 = 0 AS cid
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN not_pdf THEN 0 ELSE 1 END AS INTEGER) AS ok,
  CASE WHEN not_pdf THEN NULL ELSE '1.4' END AS version,
  CAST(CASE WHEN not_pdf THEN NULL ELSE np END AS INTEGER) AS n_pages,
  CAST(CASE WHEN not_pdf THEN NULL
       ELSE 3 + 2 * np + CASE WHEN cid THEN 1 ELSE 0 END
       END AS INTEGER) AS n_objects,
  CAST(CASE WHEN not_pdf THEN NULL WHEN cid THEN 1 ELSE 0 END
    AS INTEGER) AS has_cid,
  CAST(CASE WHEN not_pdf THEN NULL ELSE 0 END AS INTEGER) AS encrypted,
  CASE WHEN not_pdf THEN NULL ELSE 'gen' || (doc_id % 7) END AS producer,
  CASE WHEN not_pdf THEN NULL ELSE
    array_to_string(list_transform(range(np),
      p -> 'Doc ' || doc_id || ' pa(ren) pg' || p || ' hex* AB'),
      chr(10))
  END AS text
FROM base
"""

# feed/sitemap frontier replay: every (kind, url, stamp) entry of the
# four-dialect fixture stated verbatim (sitemap-index locs carry the
# /map.xml suffix — they are more sitemaps, not pages)
ORACLES["feed_urls"] = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS n, doc_id % 4 AS m FROM documents
), e AS (
  SELECT doc_id, m, unnest(range(n)) AS i FROM p
)
SELECT doc_id, CAST(i AS INTEGER) AS pos,
  CASE m WHEN 0 THEN 'sitemap' WHEN 1 THEN 'sitemapindex'
       WHEN 2 THEN 'rss' ELSE 'atom' END AS kind,
  'https://s' || (doc_id % 9) || '.com/' || doc_id || '/' || i
    || CASE WHEN m = 1 THEN '/map.xml' ELSE '' END AS url,
  '2024-02-' || lpad(CAST((doc_id + i) % 28 + 1 AS VARCHAR), 2, '0')
    AS stamp
FROM e
"""

# audio fingerprint replay: the integer energy envelope (8 frames x 9
# decimation-phase bands over the closed-form PCM samples) and its
# sign-of-difference bits replayed exactly — zero float anywhere
_AUDIO_FP_CTES = """s AS (
  SELECT doc_id, unnest(range(512)) AS j
  FROM documents WHERE doc_id % 13 <> 0
), sa AS (
  SELECT doc_id, j,
    abs((((doc_id // 2) * 131 + 7) * j * j + j * 13
         + (doc_id // 2) * 97) % 2048 - 1024
        + CASE WHEN doc_id % 2 = 1 AND j % 50 = 0 THEN 1 ELSE 0 END)
      AS a
  FROM s
), e AS (
  SELECT doc_id, j // 64 AS t, j % 9 AS b, CAST(sum(a) AS BIGINT) AS e
  FROM sa GROUP BY doc_id, j // 64, j % 9
), bits AS (
  SELECT e1.doc_id, e1.t * 8 + e1.b AS k,
    CASE WHEN e1.e > e2.e THEN 1 ELSE 0 END AS bit
  FROM e e1 JOIN e e2
    ON e1.doc_id = e2.doc_id AND e1.t = e2.t AND e2.b = e1.b + 1
  WHERE e1.b < 8
), fp AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN k = 63
      THEN bit * CAST(-9223372036854775808 AS BIGINT)
      ELSE bit * (CAST(1 AS BIGINT) << k) END) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id
)"""

# audio quality gates: regenerate the fixture PCM in SQL (lead/tail
# zeros, mod-401 tone, every-9th clip on d%5==0) and recompute peak /
# BIGINT energy -> floored-milli RMS / clip count / silence runs
# (islands) / leading silence independently
ORACLES["audio_quality"] = """
WITH p AS (
  SELECT doc_id, doc_id % 40 + 20 AS n, doc_id % 8 AS lead,
    doc_id % 5 AS tail
  FROM documents
), v AS (
  SELECT doc_id, n,
    CAST(i AS BIGINT) AS i,
    CASE WHEN i < lead OR i >= n - tail THEN 0
         WHEN doc_id % 5 = 0 AND (i - lead) % 9 = 0 THEN 32767
         ELSE ((doc_id * 11 + i) % 401) - 200 END AS smp
  FROM (SELECT doc_id, n, lead, tail, unnest(range(n)) AS i FROM p)
), f AS (
  SELECT doc_id, n, i, smp,
    CASE WHEN abs(smp) <= 2 THEN 1 ELSE 0 END AS sil
  FROM v
), runs AS (
  SELECT doc_id, MAX(run) AS longest FROM (
    SELECT doc_id, COUNT(*) AS run FROM (
      SELECT doc_id, i,
        i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM f WHERE sil = 1
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
), agg AS (
  SELECT doc_id, MAX(n) AS n_samples,
    MAX(abs(smp)) AS peak,
    COUNT(*) FILTER (WHERE abs(smp) >= 32767) AS n_clipped,
    CAST(SUM(smp * smp) AS BIGINT) AS sum_sq,
    COALESCE(MIN(i) FILTER (WHERE sil = 0), MAX(n)) AS lead_silence
  FROM f GROUP BY doc_id
)
SELECT a.doc_id, CAST(8000 AS INTEGER) AS rate,
  CAST(n_samples AS BIGINT) AS n_samples,
  CAST(peak AS BIGINT) AS peak,
  CAST(n_clipped AS BIGINT) AS n_clipped,
  CAST(FLOOR(SQRT(CAST(sum_sq AS DOUBLE) / n_samples) * 1000) AS BIGINT)
    AS rms_milli,
  CAST(COALESCE(r.longest, 0) AS BIGINT) AS longest_silence,
  CAST(lead_silence AS BIGINT) AS lead_silence
FROM agg a LEFT JOIN runs r ON r.doc_id = a.doc_id
"""

ORACLES["audio_fingerprint"] = f"""
WITH {_AUDIO_FP_CTES}
SELECT doc_id, afp,
  CAST(512 AS INTEGER) AS n_samples,
  CAST(8000 AS INTEGER) AS sample_rate
FROM fp
"""

ORACLES["audio_neardup"] = f"""
WITH {_AUDIO_FP_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b
  ON a.doc_id < b.doc_id
  AND bit_count(xor(a.afp, b.afp)) <= {C.PHASH_MAX_HAMMING}
"""

# subtitle fixture replay: spoken text and cue-timing arithmetic
ORACLES["subtitle_text"] = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS n,
    1000 + (doc_id % 5) * 200 AS dur
  FROM documents
)
SELECT doc_id,
  array_to_string(list_transform(range(n),
    i -> 'line ' || doc_id || ' ' || i || ' em' || i), ' ') AS text,
  CAST(n AS INTEGER) AS n_cues,
  CAST(n * dur AS BIGINT) AS spoken_ms
FROM p
"""

# mp4 keyframe index replay: sample-table arithmetic closed-form —
# keyframe cadence k, prefix-sum byte offsets over the per-sample
# sizes, stts presentation times, SPS width/height/profile arithmetic
ORACLES["mp4_frame_index"] = """
WITH p AS (
  SELECT doc_id,
    10 + doc_id % 20 AS n,
    3 + doc_id % 3 AS k,
    600 * (1 + doc_id % 4) AS ts,
    100 + doc_id % 50 AS delta
  FROM documents WHERE doc_id % 11 <> 0
), kf0 AS (
  SELECT doc_id, n, k, ts, delta,
    unnest(range((n - 1) // k + 1)) AS m
  FROM p
), kf AS (
  SELECT doc_id, n, ts, delta, 1 + m * k AS s FROM kf0
)
SELECT doc_id,
  'avc1' AS codec,
  CAST((4 + doc_id % 5) * 16
    - CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS INTEGER) AS width,
  CAST((3 + doc_id % 4) * 16
    - CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS INTEGER) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 100 ELSE 66 END AS INTEGER)
    AS profile_idc,
  CAST(30 + doc_id % 21 AS INTEGER) AS level_idc,
  CAST(n AS INTEGER) AS n_samples,
  CAST(s AS INTEGER) AS sample_idx,
  CAST(32 + coalesce(list_sum(list_transform(range(1, CAST(s AS BIGINT)),
    j -> 200 + ((doc_id + j) % 37))), 0) AS BIGINT) AS byte_offset,
  CAST(200 + ((doc_id + s) % 37) AS INTEGER) AS sample_bytes,
  CAST((s - 1) * delta * 1000 // ts AS BIGINT) AS pts_ms
FROM kf
"""

# H.264 slice-type replay: the fixture plants IDR slices exactly at
# the stss cadence k and alternates P/B by (d+i)%2 elsewhere, so every
# (nal_type, slice_type, kind, consistency) row is closed-form
ORACLES["h264_slice_index"] = """
WITH p AS (
  SELECT doc_id, 10 + doc_id % 20 AS n, 3 + doc_id % 3 AS k
  FROM documents WHERE doc_id % 11 <> 0
), e AS (
  SELECT doc_id, k, unnest(range(1, n + 1)) AS i FROM p
), s AS (
  SELECT doc_id, CAST(i AS INT) AS sample_idx,
    -- every 13th doc is the no-keyframe stream (empty stss)
    ((i - 1) % k = 0 AND doc_id % 13 <> 0) AS key,
    (doc_id + i) % 2 = 0 AS even
  FROM e
)
SELECT doc_id, sample_idx,
  CAST(CASE WHEN key THEN 5 ELSE 1 END AS INTEGER) AS nal_type,
  CAST(CASE WHEN key THEN 7 WHEN even THEN 0 ELSE 1 END AS INTEGER)
    AS slice_type,
  CASE WHEN key THEN 'I' WHEN even THEN 'P' ELSE 'B' END AS frame_kind,
  CAST(CASE WHEN key THEN 1 ELSE 0 END AS INTEGER) AS is_idr,
  CAST(CASE WHEN key THEN 1 ELSE 0 END AS INTEGER) AS stss_keyframe,
  CAST(1 AS INTEGER) AS consistent
FROM s
"""

# empty-user-password PDF decryption: every doc is a real encrypted
# one-pager (cipher cycles RC4-40/RC4-128/AES-128 by doc_id % 3);
# every 7th locks with a real user password and stays suppressed
ORACLES["pdf_text_encrypted"] = """
WITH e AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN ''
         ELSE 'enc doc ' || doc_id || ' code ' || (doc_id % 5)
    END AS text
  FROM documents
)
SELECT doc_id,
  CAST(1 AS INTEGER) AS ok,
  CAST(1 AS INTEGER) AS n_pages,
  CAST(1 AS INTEGER) AS encrypted,
  text,
  CAST(length(text) AS INTEGER) AS text_len
FROM e
"""

# REAL H.264 IDR decode: the fixture's DC-only macroblock chains
# reconstruct closed-form at QP 28 — the oracle inlines the spec
# arithmetic (8.5.10 luma-DC dequant (32k+32)>>6 at qp 28 with
# dc level 8k; 8.5.12 plain-DC 4L for the I4x4 variant; 8.5.11
# chroma (48x+32)>>6), the DC prediction chains (left / top / both),
# and the exact 256-per-MB pixel sum
ORACLES["multimodal_decode_h264"] = """
WITH p AS (
  SELECT doc_id,
    doc_id % 9 - 4 AS kk0, (doc_id + 3) % 9 - 4 AS k1,
    (doc_id + 5) % 9 - 4 AS k2, (doc_id + 7) % 9 - 4 AS k3,
    doc_id % 5 - 2 AS lx
  FROM documents WHERE doc_id % 11 <> 0
), c AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN 128 + 4 * lx
         ELSE 128 + CAST(floor((32 * kk0 + 32) / 64.0) AS INT)
    END AS c0,
    CAST(floor((32 * k1 + 32) / 64.0) AS INT) AS d1,
    CAST(floor((32 * k2 + 32) / 64.0) AS INT) AS d2,
    CAST(floor((32 * k3 + 32) / 64.0) AS INT) AS d3,
    128 + CAST(floor((48 * lx + 32) / 64.0) AS INT) AS cu
  FROM p
), q AS (
  SELECT doc_id, c0, c0 + d1 AS c1, c0 + d2 AS c2, d3, cu FROM c
), r AS (
  SELECT doc_id, c0, c1, c2,
    ((16 * c1 + 16 * c2 + 16) // 32) + d3 AS c3, cu
  FROM q
)
SELECT doc_id,
  CAST(32 AS INTEGER) AS width,
  CAST(32 AS INTEGER) AS height,
  CAST(256 * (c0 + c1 + c2 + c3) AS BIGINT) AS sum_y,
  CAST(c0 AS INTEGER) AS y_tl,
  CAST(c1 AS INTEGER) AS y_tr,
  CAST(c2 AS INTEGER) AS y_bl,
  CAST(c3 AS INTEGER) AS y_br,
  CAST(cu AS INTEGER) AS u_tl,
  CAST(128 AS INTEGER) AS v_tl
FROM r
"""

# frame_sample over mp4: every stss keyframe is a constant DC plane;
# sampled frames are indices 0, 2, (4) and frame_byte is the 8.5.10
# constant 128 + floor((32*((d+k)%9-4) + 32) / 64)
ORACLES["frame_sample_mp4"] = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
  WHERE doc_id % 11 <> 0
), f AS (
  SELECT doc_id, unnest(range(n)) AS k FROM p
)
SELECT doc_id,
  CAST(k AS INTEGER) AS frame_idx,
  CAST(128 + floor((32 * ((doc_id + k) % 9 - 4) + 32) / 64.0)
       AS INTEGER) AS frame_byte
FROM f WHERE k % 2 = 0
"""

# webdataset intake: 2 + d%2 samples (txt missing on (d+j)%4==0),
# every 6th shard appends a dup-key txt-only occurrence, every 19th
# truncated -> one error row
ORACLES["webdataset_ingest"] = """
WITH base AS (
  SELECT doc_id, CAST(j AS INTEGER) AS ord,
    lpad(CAST(doc_id AS VARCHAR), 5, '0') || j AS sample_key,
    (doc_id + j) % 4 <> 0 AS has_txt,
    CAST(10 + (doc_id + j) % 20 AS INTEGER) AS image_bytes,
    CAST((doc_id + j) % 5 AS INTEGER) AS meta_label,
    'caption ' || doc_id || ' ' || j AS cap
  FROM documents, unnest(range(2 + doc_id % 2)) AS t(j)
  WHERE doc_id % 19 <> 0
), main_rows AS (
  SELECT doc_id, CAST(0 AS INTEGER) AS err, sample_key, ord,
    CAST(CASE WHEN has_txt THEN 3 ELSE 2 END AS INTEGER) AS n_parts,
    CASE WHEN has_txt THEN 'jpg,json,txt' ELSE 'jpg,json' END AS exts,
    CASE WHEN has_txt THEN cap END AS caption,
    meta_label, image_bytes, CAST(0 AS INTEGER) AS dup_key
  FROM base
), dup_rows AS (
  SELECT doc_id, CAST(0 AS INTEGER) AS err,
    lpad(CAST(doc_id AS VARCHAR), 5, '0') || '0' AS sample_key,
    CAST(2 + doc_id % 2 AS INTEGER) AS ord,
    CAST(1 AS INTEGER) AS n_parts, 'txt' AS exts, 'extra' AS caption,
    CAST(NULL AS INTEGER) AS meta_label, CAST(0 AS INTEGER)
      AS image_bytes,
    CAST(1 AS INTEGER) AS dup_key
  FROM documents WHERE doc_id % 6 = 0 AND doc_id % 19 <> 0
), err_rows AS (
  SELECT doc_id, CAST(1 AS INTEGER) AS err, NULL AS sample_key,
    CAST(-1 AS INTEGER) AS ord, CAST(NULL AS INTEGER) AS n_parts,
    NULL AS exts, NULL AS caption, CAST(NULL AS INTEGER) AS meta_label,
    CAST(NULL AS INTEGER) AS image_bytes, CAST(NULL AS INTEGER)
      AS dup_key
  FROM documents WHERE doc_id % 19 = 0
)
SELECT * FROM main_rows
UNION ALL SELECT * FROM dup_rows
UNION ALL SELECT * FROM err_rows
"""

# avro intake: 1 + d%3 records per container, every 17th truncated
# -> one err row (rec_idx -1, NULLs); fields restated closed-form
# Confluent wire framing: canonical JSON restated closed-form; the
# two quarantine classes (non-zero magic, unknown registry id) must
# surface their exact loud messages, schema_id preserved when the
# framing was readable
ORACLES["avro_wire_ingest"] = """
SELECT doc_id,
  CASE WHEN doc_id % 17 = 0 THEN NULL
       WHEN doc_id % 13 = 5 THEN 99
       WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS schema_id,
  CASE
    WHEN doc_id % 17 = 0 OR doc_id % 13 = 5 THEN NULL
    WHEN doc_id % 3 = 0 THEN
      '{"id":' || CAST(doc_id AS VARCHAR) || ',"name":"n'
        || CAST(doc_id % 6 AS VARCHAR) || '"}'
    ELSE
      '{"id":' || CAST(doc_id AS VARCHAR) || ',"kind":"'
        || CASE WHEN doc_id % 3 = 1 THEN 'B' ELSE 'C' END
        || '","val":' || CAST(doc_id AS VARCHAR) || '.5}'
  END AS json,
  CASE
    WHEN doc_id % 17 = 0 THEN
      'bad wire magic byte 0x01 (Confluent framing starts with 0x00)'
    WHEN doc_id % 13 = 5 THEN
      'unknown schema id 99 (known ids: [1, 2])'
    ELSE NULL
  END AS error
FROM documents
"""

ORACLES["avro_ingest"] = """
WITH ok AS (
  SELECT doc_id, CAST(j AS INTEGER) AS rec_idx
  FROM documents, unnest(range(doc_id % 3 + 1)) AS t(j)
  WHERE doc_id % 17 <> 0
)
SELECT doc_id, rec_idx, CAST(0 AS INTEGER) AS err,
  doc_id * 10 + rec_idx AS id,
  'n' || CAST((doc_id + rec_idx) % 6 AS VARCHAR) AS name,
  CAST(doc_id + rec_idx AS DOUBLE) * 0.5 AS score,
  CAST(2 AS INTEGER) AS n_tags,
  CASE WHEN (doc_id + rec_idx) % 4 <> 0 THEN doc_id + rec_idx END
    AS opt,
  list_extract(['A', 'B', 'C'],
    CAST((doc_id + rec_idx) % 3 + 1 AS INTEGER)) AS kind,
  printf('%02x%02x', doc_id % 256, rec_idx % 256) AS chk_hex,
  CAST(doc_id * 100 + rec_idx * 7 - 5000 AS DOUBLE) / 100.0
    AS amount,
  CAST(DATE '1970-01-01'
       + CAST(19000 + (doc_id + rec_idx) % 400 AS INTEGER)
       AS VARCHAR) AS day,
  strftime(make_timestamp(doc_id * 1000003 + rec_idx),
           '%Y-%m-%dT%H:%M:%S.%f') AS ts_us,
  strftime(make_timestamp((doc_id * 997 + rec_idx) * 1000),
           '%Y-%m-%dT%H:%M:%S.%f') AS ts_ms,
  strftime(make_timestamp(((doc_id * 37 + rec_idx) % 86400000)
                          * 1000),
           '%H:%M:%S.%f') AS t_ms,
  printf('00000000-0000-4000-8000-%012d', doc_id % 1000000000000)
    AS uid,
  doc_id + rec_idx AS raw
FROM ok
UNION ALL
SELECT doc_id, CAST(-1 AS INTEGER), CAST(1 AS INTEGER),
  NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM documents WHERE doc_id % 17 = 0
"""

# eml intake: every 7th message single-part plain; others multipart
# (qp utf-8 body + base64 attachment); every 3rd subject is an RFC
# 2047 encoded word the parser must decode
ORACLES["eml_ingest"] = """
SELECT doc_id,
  CAST(0 AS INTEGER) AS err,
  'user' || CAST(doc_id % 50 AS VARCHAR) || '@example.org' AS from_addr,
  CASE WHEN doc_id % 3 = 0 THEN 'Héllo ' || doc_id
       ELSE 'Plain ' || doc_id END AS subject,
  'Tue, 05 Mar 2024 10:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
    || ':00 +0000' AS date,
  CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 2 END AS INTEGER)
    AS n_parts,
  CASE WHEN doc_id % 7 = 0 THEN 'plain body ' || doc_id
       ELSE 'café ' || doc_id END AS body,
  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS INTEGER)
    AS n_attachments,
  CASE WHEN doc_id % 7 <> 0
    THEN 'f' || doc_id || '.bin' END AS att0_name,
  CAST(CASE WHEN doc_id % 7 <> 0 THEN doc_id % 5 + 1 END AS INTEGER)
    AS att0_bytes
FROM documents
"""

# protobuf intake: every 13th blob truncated -> err=1 + NULLs; the
# rest restate the span record closed-form (sint zigzag -> signed
# delta; packed pcts (d%5)+((d+1)%5)+((d+2)%5); dyadic double)
ORACLES["protobuf_ingest"] = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS INTEGER) AS err,
  CASE WHEN doc_id % 13 <> 0
    THEN (doc_id * 123457) % 9007199254740992 END AS trace_id,
  CASE WHEN doc_id % 13 <> 0
    THEN 'span-' || CAST(doc_id % 20 AS VARCHAR) END AS name,
  CASE WHEN doc_id % 13 <> 0 THEN doc_id * 17 END AS dur_us,
  CASE WHEN doc_id % 13 <> 0 THEN
    CASE WHEN doc_id % 2 = 0 THEN doc_id % 100
         ELSE -(doc_id % 100) - 1 END
  END AS delta,
  CAST(CASE WHEN doc_id % 13 <> 0 THEN
    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
  END AS INTEGER) AS ok,
  CAST(CASE WHEN doc_id % 13 <> 0 THEN 3 END AS INTEGER) AS n_pcts,
  CASE WHEN doc_id % 13 <> 0
    THEN doc_id % 5 + (doc_id + 1) % 5 + (doc_id + 2) % 5
  END AS sum_pcts,
  CAST(CASE WHEN doc_id % 13 <> 0 THEN doc_id % 2 + 1 END AS INTEGER)
    AS n_tags,
  CASE WHEN doc_id % 13 <> 0
    THEN 'v' || CAST(doc_id % 4 AS VARCHAR) END AS tag0_v,
  CASE WHEN doc_id % 13 <> 0
    THEN CAST(doc_id AS DOUBLE) * 0.25 END AS score
FROM documents
"""

# msgpack intake: every 11th blob truncated -> err=1 + NULL fields;
# others restate the packed telemetry record closed-form
ORACLES["msgpack_ingest"] = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS INTEGER) AS err,
  CASE WHEN doc_id % 11 <> 0 THEN doc_id END AS id,
  CASE WHEN doc_id % 11 <> 0
    THEN 'sensor-' || CAST(doc_id % 30 AS VARCHAR) END AS name,
  CASE WHEN doc_id % 11 <> 0 THEN -(doc_id % 40) - 1 END AS neg,
  CASE WHEN doc_id % 11 <> 0 THEN 1099511627776 + doc_id END AS big,
  CAST(CASE WHEN doc_id % 11 <> 0
    THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
  END AS INTEGER) AS ok,
  CAST(CASE WHEN doc_id % 11 <> 0 THEN doc_id % 4 END AS INTEGER)
    AS n_tags,
  CASE WHEN doc_id % 11 <> 0
    THEN printf('%02x%02x', doc_id % 256, (doc_id * 3) % 256)
  END AS bin_hex,
  CASE WHEN doc_id % 11 <> 0 THEN doc_id % 7 END AS nested_a,
  CAST(CASE WHEN doc_id % 11 <> 0 THEN doc_id % 3 END AS INTEGER)
    AS nested_b_len
FROM documents
"""

# JSON-LD provenance: fixture classes per doc_id % 4 — well-formed,
# reversed-attribute, absent (has_jsonld 0), truncated (present but
# unparseable -> NULL fields)
ORACLES["html_jsonld"] = """
WITH p AS (
  SELECT doc_id, doc_id % 4 AS m,
    list_extract(['en','de','ja'], CAST(doc_id % 3 + 1 AS INT)) AS lang
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN m = 2 THEN 0 ELSE 1 END AS INTEGER) AS has_jsonld,
  CASE WHEN m IN (0, 1) THEN 'NewsArticle' END AS ld_type,
  CASE WHEN m IN (0, 1) THEN 'Story ' || (doc_id % 7) END AS headline,
  CASE WHEN m IN (0, 1) THEN '2024-03-' || (10 + doc_id % 18)
  END AS date_published,
  CASE WHEN m IN (0, 1) THEN 'Writer ' || (doc_id % 5)
  END AS author_name,
  CASE WHEN m IN (0, 1) THEN lang END AS language
FROM p
"""

# HTML table rows: header + 1+d%3 data rows, decoy table ignored,
# entity decoded, every 6th doc table-less (zero rows)
ORACLES["html_tables"] = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS n FROM documents
  WHERE doc_id % 6 <> 0
), hdr AS (
  SELECT doc_id, 0 AS row_ord, ['Name', 'Qty'] AS cells,
    2 AS n_cells, 1 AS is_header
  FROM p
), data_rows AS (
  SELECT doc_id, CAST(i AS INT) AS row_ord,
    ['item' || (doc_id % 5) || '-' || i || ' & co',
     CAST((doc_id + i) % 100 AS VARCHAR)] AS cells,
    2 AS n_cells, 0 AS is_header
  FROM (SELECT doc_id, unnest(range(1, n + 1)) AS i FROM p)
)
SELECT doc_id, CAST(row_ord AS INTEGER) AS row_ord, cells,
  CAST(n_cells AS INTEGER) AS n_cells,
  CAST(is_header AS INTEGER) AS is_header
FROM (SELECT * FROM hdr UNION ALL SELECT * FROM data_rows)
"""

# GOP rollup replay: I at cadence k (spacing k between I frames when
# two exist), P/B split by (d+i) parity off-cadence, tail GOP runs
# from the last I to the stream end
ORACLES["video_gop_stats"] = """
WITH p AS (
  SELECT doc_id, 10 + doc_id % 20 AS n, 3 + doc_id % 3 AS k,
    doc_id % 13 = 0 AS nokey
  FROM documents WHERE doc_id % 11 <> 0
), e AS (
  SELECT doc_id, n, k, nokey, unnest(range(1, n + 1)) AS i FROM p
), c AS (
  SELECT doc_id, max(n) AS n, max(k) AS k, bool_or(nokey) AS nokey,
    sum(CASE WHEN (i - 1) % k = 0 AND NOT nokey
        THEN 1 ELSE 0 END) AS n_i,
    sum(CASE WHEN ((i - 1) % k <> 0 OR nokey) AND (doc_id + i) % 2 = 0
        THEN 1 ELSE 0 END) AS n_p,
    sum(CASE WHEN ((i - 1) % k <> 0 OR nokey) AND (doc_id + i) % 2 = 1
        THEN 1 ELSE 0 END) AS n_b
  FROM e GROUP BY doc_id
)
SELECT doc_id,
  CAST(n AS INTEGER) AS n_samples,
  CAST(n_i AS INTEGER) AS n_i,
  CAST(n_p AS INTEGER) AS n_p,
  CAST(n_b AS INTEGER) AS n_b,
  -- no coded I frame: the whole stream is one unseekable run
  CAST(CASE WHEN nokey THEN n
       ELSE greatest(CASE WHEN n_i > 1 THEN k ELSE 0 END,
                     n - (1 + k * ((n - 1) // k)) + 1)
       END AS INTEGER) AS max_gop
FROM c
"""

# mp3 frame-index replay: table-driven VBR frame sizes
# (144*kbps*1000//rate + pad), prefix-sum byte offsets after the fixed
# 74-byte ID3 tag, 1152-sample MPEG1 Layer III frame timing
_MP3_KBPS = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
ORACLES["mp3_frame_index"] = f"""
WITH p AS (
  SELECT doc_id, 5 + doc_id % 7 AS n, doc_id % 3 AS si
  FROM documents WHERE doc_id % 9 <> 0
), e AS (
  SELECT doc_id, n, si, unnest(range(n)) AS i FROM p
), s AS (
  SELECT doc_id, n, i,
    list_extract([44100, 48000, 32000], CAST(si + 1 AS INT)) AS rate,
    list_extract({_MP3_KBPS},
                 CAST((doc_id + i) % 14 + 1 AS INT)) AS kbps,
    (doc_id + i) % 2 AS pad
  FROM e
)
SELECT doc_id,
  CAST(n AS INTEGER) AS n_frames,
  CAST(i AS INTEGER) AS frame_idx,
  CAST(74 + coalesce(list_sum(list_transform(range(i), j ->
      144 * list_extract({_MP3_KBPS},
                         CAST((doc_id + j) % 14 + 1 AS INT)) * 1000
        // rate + (doc_id + j) % 2)), 0) AS BIGINT) AS byte_offset,
  CAST(144 * kbps * 1000 // rate + pad AS INTEGER) AS frame_bytes,
  CAST(kbps * 1000 AS INTEGER) AS bit_rate,
  CAST(rate AS INTEGER) AS sample_rate,
  CAST(i * 1152 * 1000 // rate AS BIGINT) AS pts_ms
FROM s
"""

# ogg page-index replay: lacing-table page sizes (27 + 1 + payload),
# prefix-sum offsets after the 58-byte BOS id page, granule -> pts via
# the id header's sample rate, bos/eos flag arithmetic
ORACLES["ogg_page_index"] = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS nd, 8000 * (1 + doc_id % 3) AS sr
  FROM documents WHERE doc_id % 9 <> 0
), e AS (
  SELECT doc_id, nd, sr, unnest(range(nd + 1)) AS i FROM p
)
SELECT doc_id,
  CAST(nd + 1 AS INTEGER) AS n_pages,
  CAST(i AS BIGINT) AS page_seq,
  CAST(CASE WHEN i = 0 THEN 0
       ELSE 58 + coalesce(list_sum(list_transform(
              range(1, CAST(i AS BIGINT)),
              j -> 78 + (doc_id + j) % 40)), 0)
       END AS BIGINT) AS byte_offset,
  CAST(CASE WHEN i = 0 THEN 58 ELSE 78 + (doc_id + i) % 40 END
    AS INTEGER) AS page_bytes,
  CAST(i * (1000 + doc_id % 500) AS BIGINT) AS granule_pos,
  CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_bos,
  CAST(CASE WHEN i = nd THEN 1 ELSE 0 END AS INTEGER) AS is_eos,
  CAST(1 AS INTEGER) AS n_segments,
  CAST(i * (1000 + doc_id % 500) * 1000 // sr AS BIGINT) AS pts_ms
FROM e
"""

# CID/Type0 PDF fixture replay: one page, text decoded through the
# embedded ToUnicode CMap ('Doc ' || doc_id); every 5th doc ships no
# CMap, so its text is suppressed (empty page join) while has_cid
# stays flagged; the no-CMap branch also has one fewer object
ORACLES["pdf_text_cid"] = """
SELECT doc_id,
  CAST(1 AS INTEGER) AS ok,
  '1.4' AS version,
  CAST(1 AS INTEGER) AS n_pages,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 6 END AS INTEGER)
    AS n_objects,
  CAST(1 AS INTEGER) AS has_cid,
  CAST(0 AS INTEGER) AS encrypted,
  CAST(NULL AS VARCHAR) AS producer,
  CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'Doc ' || doc_id END AS text
FROM documents
"""

# streaming-CMS replay: the merged batch-delta state must equal the
# one-pass sketch over the same budget-capped subset (portable
# spread-hash order, same arithmetic as the other replay oracles)
ORACLES["streaming_cms_replay"] = f"""
WITH f0 AS (
  SELECT * FROM documents
  ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), tk AS (
  SELECT lower(unnest({_TOKS})) AS tok FROM f0
), rows_ AS (
  SELECT CAST(unnest(range({C.CMS_DEPTH})) AS INT) AS row
)
SELECT r.row,
  CAST({HASH64_SQL("(tok || ':' || CAST(" + str(C.CMS_SEED) + " + r.row AS VARCHAR))")} % {C.CMS_WIDTH} AS INT) AS cell,
  CAST(count(*) AS BIGINT) AS cnt
FROM tk CROSS JOIN rows_ r
GROUP BY 1, 2
"""

# LSH S-curve replay: identical double expressions over the same
# (bands, rows) divisor schemes and 5%-step similarity grid
ORACLES["lsh_param_plan"] = f"""
WITH sch AS (
  SELECT CAST(b AS INT) AS bands,
    CAST({C.MINHASH_NUM_HASHES} // b AS INT) AS rows_per_band
  FROM (SELECT unnest(range(1, {C.MINHASH_NUM_HASHES} + 1)) AS b)
  WHERE {C.MINHASH_NUM_HASHES} % b = 0
), grid AS (
  SELECT CAST(i * 5 AS INT) AS s_pct
  FROM (SELECT unnest(range(1, 20)) AS i)
)
SELECT bands, rows_per_band, s_pct,
  CAST(round((1.0 - pow(1.0 - pow(CAST(s_pct AS DOUBLE) / 100.0,
    CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)))
    * 1000000.0) AS BIGINT) AS p_micro,
  CAST(round(pow(1.0 / CAST(bands AS DOUBLE),
    1.0 / CAST(rows_per_band AS DOUBLE)) * 1000000.0) AS BIGINT)
    AS threshold_micro
FROM sch CROSS JOIN grid
"""

# readability: vowel-group syllables (silent-e adjusted, floor 1),
# sentence floor 1, identical float chains rounded to 4
ORACLES["readability"] = """
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
      AS words,
    greatest(1, len(list_filter(
      regexp_split_to_array(text, '[.!?]+'), x -> trim(x) <> '')))
      AS n_sentences
  FROM documents
), s AS (
  SELECT doc_id, len(words) AS n_words, n_sentences,
    COALESCE(list_sum(list_transform(words, w ->
      greatest(1,
        len(regexp_extract_all(lower(w), '[aeiouy]+'))
        - CASE WHEN regexp_matches(lower(w), '[^aeiouy]e$')
                AND len(regexp_extract_all(lower(w), '[aeiouy]+')) > 1
          THEN 1 ELSE 0 END))), 0) AS n_syllables
  FROM w
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  round(206.835
    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    - 84.6 * (CASE WHEN n_words > 0
        THEN CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
        ELSE 0.0 END), 4) AS flesch,
  round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    + 11.8 * (CASE WHEN n_words > 0
        THEN CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
        ELSE 0.0 END) - 15.59, 4) AS fk_grade
FROM s
"""

# domain boilerplate: nav on 100% of a domain's pages (dropped),
# promo on ~33% (kept), unique bodies kept; integer share test
ORACLES["domain_boilerplate"] = """
WITH d AS (
  SELECT doc_id, 'd' || CAST(doc_id % 12 AS VARCHAR) AS domain
  FROM documents
), base AS (
  SELECT doc_id, domain,
    CASE WHEN doc_id % 3 = 0 THEN
      ['nav ' || domain, 'promo ' || domain,
       'body ' || doc_id || ' alpha', 'body ' || doc_id || ' beta']
    ELSE
      ['nav ' || domain,
       'body ' || doc_id || ' alpha', 'body ' || doc_id || ' beta']
    END AS ls
  FROM d
), lines AS (
  SELECT doc_id, domain, CAST(j AS INTEGER) AS pos, ls[j + 1] AS line
  FROM base, unnest(range(len(ls))) AS t(j)
), pages AS (
  SELECT domain, COUNT(DISTINCT doc_id) AS np FROM d GROUP BY domain
), ev AS (
  SELECT domain, line, COUNT(DISTINCT doc_id) AS nd
  FROM lines GROUP BY 1, 2
), boiler AS (
  SELECT ev.domain, ev.line FROM ev JOIN pages USING (domain)
  WHERE np >= 3 AND nd * 100 > np * 50
), kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l
  ANTI JOIN boiler b ON l.domain = b.domain AND l.line = b.line
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
    COUNT(*) AS k
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, d.domain, COALESCE(r.text, '') AS text,
  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 4 ELSE 3 END AS INTEGER)
    AS n_lines,
  CAST(COALESCE(r.k, 0) AS BIGINT) AS n_lines_kept
FROM d LEFT JOIN rebuilt r USING (doc_id)
"""

# geo radius join: naive cross join + the identical haversine chain
# (2R asin(sqrt(sin^2 + coscos sin^2))); fixture margin to the 300 km
# threshold is > 0.5 km, so the float filter cannot flap
ORACLES["geo_radius_join"] = """
WITH s AS (
  SELECT n_nationkey AS site_id,
    (n_nationkey * 7) % 120 - 60 + 0.5 AS slat,
    (n_nationkey * 13) % 360 - 180 + 0.5 AS slon
  FROM nation
), p AS (
  SELECT c_custkey AS point_id,
    (c_custkey * 3) % 120 - 60 + 0.25 AS lat,
    (c_custkey * 17) % 360 - 180 + 0.25 AS lon
  FROM customer
), d AS (
  SELECT point_id, site_id,
    2 * 6371.0088 * asin(sqrt(
      sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
      + cos(radians(lat)) * cos(radians(slat))
        * sin(radians(slon - lon) / 2) * sin(radians(slon - lon) / 2)
    )) AS dist
  FROM p CROSS JOIN s
)
SELECT point_id, site_id, ROUND(dist, 6) AS dist_km
FROM d WHERE dist <= 300
"""

# CIDR longest-prefix enrichment: ips 10.(d%32).(d%256).(7d%256);
# nations 0-24 own a /16 and a /17 (upper-half third octet -> the /17
# wins by prefix length); ids with d%32 > 24 fall through to the /8
ORACLES["cidr_enrich"] = """
WITH p AS (
  SELECT doc_id, doc_id % 32 AS o2, doc_id % 256 AS o3,
    (doc_id * 7) % 256 AS o4
  FROM documents
)
SELECT p.doc_id,
  '10.' || o2 || '.' || o3 || '.' || o4 AS ip,
  CASE WHEN o2 <= 24 AND o3 >= 128 THEN '10.' || o2 || '.128.0/17'
       WHEN o2 <= 24 THEN '10.' || o2 || '.0.0/16'
       ELSE '10.0.0.0/8' END AS cidr,
  CAST(CASE WHEN o2 <= 24 AND o3 >= 128 THEN 17
            WHEN o2 <= 24 THEN 16 ELSE 8 END AS INTEGER) AS prefix_len,
  CAST(CASE WHEN o2 <= 24 AND o3 >= 128 THEN 64800 + o2
            WHEN o2 <= 24 THEN 64500 + o2
            ELSE 64000 END AS INTEGER) AS asn,
  CASE WHEN o2 <= 24 THEN n.n_name ELSE 'ANY' END AS country
FROM p LEFT JOIN nation n ON n.n_nationkey = p.o2
"""

# recrawl-priority replay: diff semantics (edits at d%3, additions at
# shifted d%7 ids), domain rollup, ppm arithmetic and buckets — the
# rate uses // to match Spark's double-division-then-truncate cast
ORACLES["recrawl_priority"] = """
WITH st AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'changed' ELSE 'unchanged' END
      AS status
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, 'added' AS status
  FROM documents WHERE doc_id % 7 = 0
), per AS (
  SELECT 'site' || ((doc_id % 10000000) % 20) AS domain,
    count(*) AS n_docs,
    sum(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END) AS n_moved
  FROM st GROUP BY 1
)
SELECT domain,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_moved AS BIGINT) AS n_moved,
  CAST(n_moved * 1000000 // n_docs AS BIGINT) AS change_ppm,
  CASE WHEN n_moved * 1000000 // n_docs >= 400000 THEN 'daily'
       WHEN n_moved * 1000000 // n_docs >= 100000 THEN 'weekly'
       ELSE 'monthly' END AS recrawl
FROM per
"""

# URL spam replay: rebuild the same planted URLs and run the same
# regexp arithmetic (DuckDB regexp_replace needs the explicit 'g'
# flag where Spark replaces globally by default)
ORACLES["url_spam_features"] = """
WITH u0 AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://site' || (doc_id % 50) || '.co.uk/a/' || doc_id
      WHEN 1 THEN 'https://site' || (doc_id % 50)
                  || '.co.uk/a/b/c/d/e/f/g/' || doc_id
                  || '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6'
      WHEN 2 THEN 'http://9-4-2-s' || (doc_id % 50) || '.com/p'
      ELSE 'https://site' || (doc_id % 50) || '.com/' || repeat('x', 120)
    END AS url
  FROM documents
), f AS (
  SELECT doc_id, url,
    regexp_replace(lower(regexp_replace(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
      '^[^@]*@', '')), ':\\d+$', '') AS host,
    regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM u0
), g AS (
  SELECT doc_id,
    length(url) AS url_len,
    len(list_filter(string_split(path, '/'), s -> s <> ''))
      AS path_depth,
    CASE WHEN query = '' THEN 0
         ELSE len(string_split(query, '&')) END AS n_params,
    length(host) AS hl,
    length(host) - length(regexp_replace(host, '[0-9]', '', 'g'))
      AS hd,
    length(host) - length(regexp_replace(host, '-', '', 'g')) AS hh
  FROM f
), h AS (
  SELECT doc_id, url_len, path_depth, n_params, hh,
    CASE WHEN hl > 0 THEN hd * 100 // hl ELSE 0 END AS host_digit_pct
  FROM g
)
SELECT doc_id,
  CAST(url_len AS INTEGER) AS url_len,
  CAST(path_depth AS INTEGER) AS path_depth,
  CAST(n_params AS INTEGER) AS n_params,
  CAST(host_digit_pct AS INTEGER) AS host_digit_pct,
  CAST(hh AS INTEGER) AS host_hyphens,
  CAST(CASE WHEN
      (CASE WHEN url_len > 120 THEN 1 ELSE 0 END)
    + (CASE WHEN path_depth > 6 THEN 1 ELSE 0 END)
    + (CASE WHEN n_params > 5 THEN 1 ELSE 0 END)
    + (CASE WHEN host_digit_pct >= 30 THEN 1 ELSE 0 END)
    + (CASE WHEN hh >= 3 THEN 1 ELSE 0 END) >= 2
    THEN 1 ELSE 0 END AS INTEGER) AS spammy
FROM h
"""

# main-content replay: nav and footer are link-dense/short, the
# 2 + d%3 paragraphs survive — text and counts stated verbatim
ORACLES["main_content_extract"] = """
SELECT doc_id,
  array_to_string(list_transform(range(doc_id % 3 + 2),
    i -> 'Paragraph ' || doc_id || ' ' || i
         || ' with enough plain words to pass the density gate'),
    ' ') AS main_text,
  CAST(doc_id % 3 + 4 AS INTEGER) AS n_blocks,
  CAST(doc_id % 3 + 2 AS INTEGER) AS n_kept,
  CAST(2000 // (doc_id % 3 + 4) AS INTEGER)
    AS boilerplate_ratio_permille
FROM documents
"""

# canonical-dedup replay: groups of 3 docs share one canonical target
# except the tag-less d%5 docs, which stay their own canonical
ORACLES["canonical_url_dedup"] = """
WITH k AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN 'self:' || doc_id
         ELSE 'http://c' || (doc_id - doc_id % 3) || '.com/page'
    END AS canonical,
    CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS explicit
  FROM documents
)
SELECT canonical,
  min(doc_id) AS kept_doc,
  CAST(count(*) AS INTEGER) AS n_pages,
  CAST(max(explicit) AS INTEGER) AS explicit
FROM k GROUP BY canonical
"""

# script-mixing replay: the same plant (translate a/e -> Cyrillic)
# and the same regexp/translate arithmetic on both engines
ORACLES["script_mixing_audit"] = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN translate(text, 'ae', 'ае')
         ELSE text END AS text
  FROM documents
), m AS (
  SELECT doc_id, text, {TOKENS_SQL("text")} AS toks FROM t
)
SELECT doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_filter(toks, x ->
    regexp_matches(x, '[A-Za-z]')
    AND regexp_matches(x, '[Ѐ-ӿͰ-Ͽ]'))) AS INTEGER) AS n_mixed_tokens,
  CAST(length(text) - length(translate(text, 'аеорсхАЕОРСХ', ''))
    AS INTEGER) AS n_confusable_chars,
  CAST(CASE WHEN len(list_filter(toks, x ->
    regexp_matches(x, '[A-Za-z]')
    AND regexp_matches(x, '[Ѐ-ӿͰ-Ͽ]'))) > 0 THEN 1 ELSE 0 END
    AS INTEGER) AS suspicious
FROM m
"""

# meta-robots replay: directives and link counts closed-form from the
# planted fixture (noindex at d%3, nofollow at d%5, 'none' semantics
# subsumed by the d%15 combined directive; page-level nofollow zeroes
# the follow count; link 0 carries rel=nofollow on even docs)
ORACLES["meta_robots_gate"] = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
    AS noindex,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
    AS nofollow,
  CAST(doc_id % 4 + 2 AS INTEGER) AS n_links,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 0
       ELSE doc_id % 4 + 2
            - CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
       END AS INTEGER) AS n_follow_links
FROM documents
"""

# PDF 1.5 object-stream fixture replay: catalog/pages/page/font dicts
# live inside one Flate ObjStm (never top-level), so every non-NULL
# row here proves the ObjStm unpack fed the object table; n_objects =
# top-level (1 ObjStm + np contents + 1 CMap + encrypt dict) + packed
# (catalog, pages, np pages, Type0 font, F1 font, info) = 7 + 2*np
# (+1 when encrypted); /Encrypt trailers suppress text but keep
# structure accounted
ORACLES["pdf_text_objstm"] = """
WITH base AS (
  SELECT doc_id, doc_id % 9 = 0 AS not_pdf,
    1 + doc_id % 2 AS np,
    doc_id % 6 = 0 AND doc_id % 9 <> 0 AS enc
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN not_pdf THEN 0 ELSE 1 END AS INTEGER) AS ok,
  CASE WHEN not_pdf THEN NULL ELSE '1.5' END AS version,
  CAST(CASE WHEN not_pdf THEN NULL ELSE np END AS INTEGER) AS n_pages,
  CAST(CASE WHEN not_pdf THEN NULL
       ELSE 7 + 2 * np + CASE WHEN enc THEN 1 ELSE 0 END
       END AS INTEGER) AS n_objects,
  CAST(CASE WHEN not_pdf THEN NULL ELSE 1 END AS INTEGER) AS has_cid,
  CAST(CASE WHEN not_pdf THEN NULL WHEN enc THEN 1 ELSE 0 END
    AS INTEGER) AS encrypted,
  CASE WHEN not_pdf THEN NULL ELSE 'objstm' || (doc_id % 7) END
    AS producer,
  CASE WHEN not_pdf THEN NULL WHEN enc THEN '' ELSE
    array_to_string(list_transform(range(np),
      p -> 'pg' || p || ' d' || doc_id || ' Doc ' || doc_id),
      chr(10))
  END AS text
FROM base
"""

# GPS-scrub replay: segment sizes closed-form — gps-tagged APP1 is
# 115 bytes (4-entry IFD0 + 18-byte GPS IFD), plain APP1 85 bytes;
# blob = SOI(2) + APP1 + SOF(13) + EOI(2)
ORACLES["exif_gps_scrub"] = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 0 ELSE 1 END
    AS INTEGER) AS had_exif,
  CAST(CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 0
       WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS had_gps,
  CAST(CASE WHEN doc_id % 11 = 0 THEN 8
       WHEN doc_id % 7 = 0 THEN 17
       WHEN doc_id % 3 = 0 THEN 132 ELSE 102 END AS INTEGER)
    AS bytes_before,
  CAST(CASE WHEN doc_id % 11 = 0 THEN 8
       WHEN doc_id % 7 = 0 THEN 17
       WHEN doc_id % 3 = 0 THEN 17 ELSE 102 END AS INTEGER)
    AS bytes_after,
  CAST(CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 <> 0
              AND doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
    AS scrubbed
FROM documents
"""

# EXIF fixture replay: every field closed-form in doc_id
ORACLES["exif_metadata"] = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 0 ELSE 1 END
    AS INTEGER) AS has_exif,
  CAST(CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
       ELSE 1 + doc_id % 8 END AS INTEGER) AS orientation,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
       ELSE 'cam' || (doc_id % 5) END AS make,
  CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
       ELSE '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
            || ' 00:00:00' END AS datetime,
  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
       ELSE 100 + doc_id % 50 END AS INTEGER) AS width,
  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
       ELSE 80 + doc_id % 40 END AS INTEGER) AS height
FROM documents
"""

# container-metadata fixture replay: every header field of the
# wav/mp3/mp4/ogg blobs is closed-form in doc_id, so the oracle states
# the parsed result per container branch
ORACLES["media_container_metadata"] = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3'
       WHEN 2 THEN 'mp4' ELSE 'ogg' END AS container,
  CASE doc_id % 4 WHEN 0 THEN 'pcm' WHEN 1 THEN 'mp3'
       WHEN 2 THEN 'isom' ELSE 'vorbis' END AS codec,
  CAST(CASE doc_id % 4
    WHEN 0 THEN ((500 + doc_id % 100) * 1000)
                  // (8000 * (1 + doc_id % 3))
    WHEN 1 THEN ((4000 + doc_id % 512) * 8)
                  // list_extract([32, 40, 48, 56, 64, 80, 96, 112,
                                  128, 160, 192, 224, 256, 320],
                                 CAST(1 + doc_id % 14 AS INTEGER))
    WHEN 2 THEN ((3000 + doc_id % 1000) * 1000)
                  // (600 * (1 + doc_id % 4))
    ELSE NULL END AS BIGINT) AS duration_ms,
  CAST(CASE doc_id % 4
    WHEN 0 THEN 8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2 * 8
    WHEN 1 THEN list_extract([32, 40, 48, 56, 64, 80, 96, 112,
                              128, 160, 192, 224, 256, 320],
                             CAST(1 + doc_id % 14 AS INTEGER)) * 1000
    WHEN 2 THEN NULL
    ELSE 64000 + 1000 * (doc_id % 32) END AS BIGINT) AS bit_rate,
  CAST(CASE doc_id % 4
    WHEN 0 THEN 8000 * (1 + doc_id % 3)
    WHEN 1 THEN list_extract([44100, 48000, 32000],
                             CAST(1 + doc_id % 3 AS INTEGER))
    WHEN 2 THEN NULL
    ELSE 22050 * (1 + doc_id % 2) END AS INTEGER) AS sample_rate,
  CAST(CASE doc_id % 4
    WHEN 0 THEN 1 + doc_id % 2
    WHEN 3 THEN 1 + doc_id % 2
    ELSE NULL END AS INTEGER) AS n_channels,
  CASE WHEN doc_id % 4 IN (0, 1) THEN 'doc' || doc_id
       ELSE NULL END AS title
FROM documents
"""

# stateful-streaming replays: the applyInPandasWithState kernels'
# semantics in closed form over the deterministic 3-batch fixture
ORACLES["streaming_running_counts"] = """
WITH f0 AS (
  {budget}
), f AS (
  SELECT CAST(user_id % {kmod} AS VARCHAR) AS key,
    event_id % {nb} AS b
  FROM f0
)
SELECT key, count(*) AS n_events,
  count(DISTINCT b) AS n_batches
FROM f GROUP BY key
""".format(
    kmod=C.REPLAY_KEY_MOD,
    nb=C.REPLAY_BATCHES,
    budget=_replay_budget_sql(f"event_id % {C.REPLAY_SUB_MOD} = 0"),
)

# the token-bucket recurrence (capacity/refill, refill only at invoked
# batches, fresh bucket when the host first appears) unrolled over the
# 3 deterministic micro-batches
_cap, _ref = C.RATE_CAPACITY, C.RATE_REFILL
ORACLES["streaming_rate_limit"] = f"""
WITH f0 AS (
  {_replay_budget_sql(f"event_id % {C.RATE_SUB_MOD} = 0")}
), f AS (
  SELECT 'h' || CAST((event_id // {C.RATE_SUB_MOD}) % {C.RATE_HOST_MOD}
      AS VARCHAR) AS host,
    'u' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS url,
    (event_id // {C.RATE_SUB_MOD}) % {C.REPLAY_BATCHES} AS b
  FROM f0
), counts AS (
  SELECT host,
    count(*) FILTER (WHERE b = 0) AS n0,
    count(*) FILTER (WHERE b = 1) AS n1,
    count(*) FILTER (WHERE b = 2) AS n2
  FROM f GROUP BY host
), s0 AS (
  SELECT *, least(n0, {_cap}) AS a0 FROM counts
), s1 AS (
  SELECT *,
    CASE WHEN n1 = 0 THEN NULL
         WHEN n0 > 0 THEN least({_cap}, ({_cap} - a0) + {_ref})
         ELSE {_cap} END AS tb1
  FROM s0
), s1a AS (
  SELECT *, CASE WHEN n1 = 0 THEN 0 ELSE least(n1, tb1) END AS a1 FROM s1
), s2 AS (
  SELECT *,
    CASE WHEN n2 = 0 THEN NULL
         WHEN n0 > 0 OR n1 > 0 THEN least({_cap},
           (CASE WHEN n1 > 0 THEN tb1 - a1 ELSE {_cap} - a0 END)
             + {_ref})
         ELSE {_cap} END AS tb2
  FROM s1a
), st AS (
  SELECT *, CASE WHEN n2 = 0 THEN 0 ELSE least(n2, tb2) END AS a2 FROM s2
)
SELECT f.host, f.url,
  CAST(CASE WHEN row_number() OVER (PARTITION BY f.host, f.b ORDER BY f.url)
      <= CASE f.b WHEN 0 THEN a0 WHEN 1 THEN a1 ELSE a2 END
    THEN 1 ELSE 0 END AS INTEGER) AS admitted,
  CAST(CASE f.b WHEN 0 THEN {_cap} - a0
       WHEN 1 THEN tb1 - a1
       ELSE tb2 - a2 END AS BIGINT) AS tokens_left
FROM f JOIN st USING (host)
"""

# robots politeness gate: the disallow-prefix fold replayed with list
# ops over the same closed-form per-domain rules
ORACLES["robots_filter"] = """
WITH b AS (
  SELECT doc_id, doc_id % 20 AS k, doc_id % 40 AS m FROM documents
)
SELECT doc_id,
  'site' || k || '.com' AS domain,
  '/p/' || m AS path,
  CAST(6 + CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_rules,
  CAST(CASE
    -- Allow overrides: /p/19$ (anchor), /p/1*7$ (wildcard+anchor),
    -- /p/*4$ (un-blocks 14 always, 24 on even domains)
    WHEN m IN (19, 17, 14, 24) THEN 1
    -- /p/33: equal-length Allow/Disallow tie resolves to Allow
    WHEN m = 33 THEN 1
    -- legacy Disallow-prefix semantics, unchanged
    WHEN m = 1 OR (m >= 10 AND m <= 19) THEN 0
    WHEN k % 2 = 0 AND (m = 2 OR (m >= 20 AND m <= 29)) THEN 0
    ELSE 1 END AS INTEGER) AS allowed
FROM b
"""

# crawl-level URL dedup: newest capture per canonical URL (ties to the
# lowest doc_id); the canonical form is stated closed-form, the window
# replayed identically
ORACLES["url_dedup_latest"] = """
WITH b AS (
  SELECT doc_id,
    'http://site' || (doc_id % 125) || '.com/p/' || (doc_id % 250)
      || '?v=' || (doc_id % 2) AS canonical_url,
    CAST(doc_id * 37 % 1000 AS BIGINT) AS fetch_ts
  FROM documents
)
SELECT canonical_url, doc_id, fetch_ts, n_captures FROM (
  SELECT canonical_url, doc_id, fetch_ts,
    row_number() OVER (PARTITION BY canonical_url
                       ORDER BY fetch_ts DESC, doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY canonical_url) AS n_captures
  FROM b
) WHERE rn = 1
"""

# feature-hashing embeddings: hash -> bucket histogram -> L1 normalize,
# the dense array assembled with a range transform over the bucket map
ORACLES["hashed_embedding"] = f"""
WITH tok AS (
  SELECT doc_id, lower(unnest({TOKENS_SQL('text')})) AS t FROM documents
), hb AS (
  SELECT doc_id, {HASH64_SQL('t')} % {C.HASH_EMB_DIM} AS b FROM tok
), c AS (
  SELECT doc_id, b, count(*) AS n FROM hb GROUP BY doc_id, b
), m AS (
  SELECT doc_id,
    map_from_entries(list(struct_pack(k := b, v := n))) AS mm,
    CAST(sum(n) AS BIGINT) AS n_tokens
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_tokens,
  list_transform(range({C.HASH_EMB_DIM}),
    i -> round(CAST(coalesce(list_extract(map_extract(mm, i), 1), 0)
               AS DOUBLE) / n_tokens, 6)) AS embedding
FROM m
"""

# unicode normalization: DuckDB's nfc_normalize is the independent NFC
# implementation; the regex chain mirrors the Spark Column cleanup
# (explicit NBSP class + ASCII \s so dialect differences cannot bite)
ORACLES["text_normalize"] = r"""
WITH m AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) ELSE chr(233) END)
    || (CASE WHEN doc_id % 3 = 0 THEN chr(7) ELSE '' END)
    || chr(160) || chr(9) || ' ' || text AS messy
  FROM documents
), n AS (
  SELECT doc_id,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(nfc_normalize(messy),
                       '[\x{00a0}\x{2007}\x{202f}]', ' ', 'g'),
        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      '\s+', ' ', 'g')) AS norm_text
  FROM m
)
SELECT doc_id, norm_text, CAST(length(norm_text) AS INTEGER) AS n_chars
FROM n
"""

# per-registrable-domain rollup: the oracle states host / eTLD+1 /
# canonical URL closed-form for the four fixture shapes (the Spark side
# derives them through the real canonicalize/host/PSL Column machinery,
# so a wrong suffix rule shows up as a hash mismatch here)
ORACLES["domain_rollup"] = f"""
WITH d AS (
  SELECT doc_id, length(text) AS text_len,
    CASE doc_id % 4
      WHEN 0 THEN (CASE WHEN doc_id % 8 = 0 THEN 'www.' ELSE '' END)
        || 'site' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.com'
      WHEN 1 THEN (CASE WHEN doc_id % 8 = 1 THEN 'news.' ELSE '' END)
        || 'portal' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.co.uk'
      WHEN 2 THEN 'blog' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.org'
      ELSE (CASE WHEN doc_id % 8 = 3 THEN 'cdn.' ELSE 'img.' END)
        || 'app' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.io'
    END AS host,
    CASE doc_id % 4
      WHEN 0 THEN 'site' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.com'
      WHEN 1 THEN 'portal' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.co.uk'
      WHEN 2 THEN 'blog' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.org'
      ELSE 'app' || (doc_id % {C.DOMAIN_SITE_MOD}) || '.io'
    END AS domain,
    '/a/' || doc_id || '?id=' || (doc_id % 3) AS pq
  FROM documents
), u AS (
  SELECT domain, host, text_len,
    (CASE WHEN doc_id % 2 = 1 THEN 'https://' ELSE 'http://' END)
      || host || pq AS curl
  FROM d
)
SELECT domain,
  count(*) AS n_docs,
  count(DISTINCT host) AS n_hosts,
  count(DISTINCT curl) AS n_urls,
  CAST(sum(text_len) AS BIGINT) AS sum_text_len,
  round(CAST(sum(text_len) AS DOUBLE) / count(*), 6) AS avg_text_len
FROM u GROUP BY domain
"""

# exact-substring spans: positional shingles -> repeated-shingle set ->
# gaps-and-islands merge, all replayable with windows. Positions ride a
# struct-list unnest (DuckDB's WITH-ORDINALITY analog).
_SHINGLES_RS = WORD_SHINGLES_SQL("text", C.REPEAT_NGRAM_N)
# Concat-then-chunk spans: global id-order cumsum (each doc + 1 EOS),
# 64-token example windows, one row per (example, doc) overlap. The
# Spark side's sharded cumsum + base offsets equals one global cumsum.
ORACLES["concat_chunks"] = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) + 1 AS BIGINT) AS nt FROM documents
), c AS (
  SELECT doc_id, nt,
    sum(nt) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
      AS s
  FROM t
), e AS (
  SELECT doc_id, nt, s,
    unnest(generate_series(CAST(s // 64 AS BIGINT),
                           CAST((s + nt - 1) // 64 AS BIGINT))) AS ex
  FROM c
)
SELECT CAST(ex AS BIGINT) AS example_id, doc_id,
  CAST(greatest(0, ex * 64 - s) AS INTEGER) AS doc_tok_start,
  CAST(least(s + nt, (ex + 1) * 64) - greatest(s, ex * 64) AS INTEGER)
    AS n_toks
FROM e
"""

ORACLES["q4_order_priority"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
"""

ORACLES["q16_parts_never_returned"] = """
SELECT p_brand, count(*) AS n_parts
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey AND l.l_returnflag = 'R'
    AND l.l_quantity > 45
)
GROUP BY p_brand
"""

ORACLES["q18_big_spenders"] = f"""
WITH big AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
    count(*) AS n_orders
  FROM orders GROUP BY o_custkey
  HAVING round(sum(o_totalprice), 2) > {C.Q18_SPEND_THRESHOLD}
)
SELECT c.c_custkey AS custkey, c.c_name, b.total_spend, b.n_orders
FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
"""

# --- full TPC-H sweep (q2..q22 shapes; adaptations documented in
# qconst — lineitem (partkey, suppkey) pairs stand in for partsupp,
# ship latency for commit/receipt gaps) ------------------------------------

ORACLES["q2_min_cost_supplier"] = f"""
WITH costs AS (
  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name,
    round(min(l_extendedprice / l_quantity), 4) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = {C.Q2_SIZE} AND p_type = '{C.Q2_TYPE}'
    AND r_name = '{C.Q2_REGION}'
  GROUP BY ALL
), best AS (
  SELECT p_partkey AS bp, min(unit_cost) AS min_cost
  FROM costs GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
FROM costs JOIN best ON p_partkey = bp AND unit_cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT {C.Q2_LIMIT}
"""

ORACLES["q7_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS INTEGER) AS l_year,
  {_dsum('l_extendedprice*(1-l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '{C.Q7_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{C.Q7_DATE_HI}'
  AND ((n1.n_name = '{C.Q7_NATION_A}' AND n2.n_name = '{C.Q7_NATION_B}')
    OR (n1.n_name = '{C.Q7_NATION_B}' AND n2.n_name = '{C.Q7_NATION_A}'))
GROUP BY ALL
"""

ORACLES["q8_market_share"] = f"""
SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER) AS o_year,
  round(
    CAST(SUM(CASE WHEN ns.n_name = '{C.Q8_NATION}'
      THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))
      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
    / {_dsum('l_extendedprice*(1-l_discount)', 6)}, 6) AS mkt_share,
  {_dsum('l_extendedprice*(1-l_discount)', 6)} AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE p_type = '{C.Q8_TYPE}' AND r_name = '{C.Q8_REGION}'
  AND o_orderdate >= TIMESTAMP '{C.Q8_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{C.Q8_DATE_HI}'
GROUP BY ALL
"""

ORACLES["q9_product_profit"] = f"""
SELECT n_name AS nation,
  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER) AS o_year,
  {_dsum(f'l_extendedprice*(1-l_discount)'
         f' - {C.Q9_COST_FRACTION}*p_retailprice*l_quantity', 6)}
    AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{C.Q9_NAME_PATTERN}%'
GROUP BY ALL
"""

ORACLES["q10_returned_items"] = f"""
WITH per_cust AS (
  SELECT o_custkey,
    {_dsum('l_extendedprice*(1-l_discount)', 6)} AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{C.Q10_DATE_LO}'
    AND o_orderdate < TIMESTAMP '{C.Q10_DATE_HI}'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT {C.Q10_LIMIT}
"""

ORACLES["q11_part_value_concentration"] = f"""
WITH per_part AS (
  SELECT l_partkey AS partkey,
    {_dsum('l_extendedprice', 2)} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{C.Q11_NATION}'
  GROUP BY l_partkey
), total AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE)
    AS total_value
  FROM per_part
)
SELECT partkey, value, round(value / total_value, 8) AS share
FROM per_part, total
WHERE value > total_value * {C.Q11_FRACTION}
ORDER BY value DESC, partkey
"""

ORACLES["q12_shipping_delay"] = f"""
SELECT CASE
    WHEN datediff('day', CAST(o_orderdate AS TIMESTAMP),
                  CAST(l_shipdate AS TIMESTAMP)) >= {C.Q12_LATE_DAYS}
      THEN 'late'
    WHEN datediff('day', CAST(o_orderdate AS TIMESTAMP),
                  CAST(l_shipdate AS TIMESTAMP)) >= {C.Q12_FAST_DAYS}
      THEN 'medium'
    ELSE 'fast' END AS delay_bucket,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{C.Q12_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{C.Q12_DATE_HI}'
GROUP BY ALL
"""

ORACLES["q13_customer_order_counts"] = f"""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '{C.Q13_PRIORITY_EXCLUDE}'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
"""

ORACLES["q14_promo_revenue"] = f"""
SELECT round(100.0 *
    CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))
      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
    / {_dsum('l_extendedprice*(1-l_discount)', 6)}, 6)
    AS promo_revenue_pct,
  {_dsum('l_extendedprice*(1-l_discount)', 6)} AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{C.Q14_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{C.Q14_DATE_HI}'
"""

ORACLES["q15_top_supplier"] = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    {_dsum('l_extendedprice*(1-l_discount)', 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{C.Q15_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{C.Q15_DATE_HI}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

ORACLES["q17_small_qty_revenue"] = f"""
WITH matched AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{C.Q17_BRAND}' AND p_size <= {C.Q17_SIZE_MAX}
), means AS (
  SELECT l_partkey AS mp,
    {_dsum('l_quantity')} / count(*) AS avg_qty
  FROM matched GROUP BY l_partkey
)
SELECT round({_dsum('l_extendedprice')} / 7.0, 2) AS avg_yearly,
  count(*) AS n_lines
FROM matched JOIN means ON l_partkey = mp
WHERE l_quantity < {C.Q17_QTY_FRACTION} * avg_qty
"""

_Q19_ORS = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
    f" AND l_quantity BETWEEN {lo} AND {hi})"
    for b, s, lo, hi in C.Q19_BRANCHES
)
ORACLES["q19_disjunctive_revenue"] = f"""
SELECT {_dsum('l_extendedprice*(1-l_discount)', 6)} AS revenue,
  count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_Q19_ORS}
"""

ORACLES["q20_excess_shippers"] = f"""
WITH heavy AS (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '{C.Q20_NAME_PREFIX}%'
    AND l_shipdate >= TIMESTAMP '{C.Q20_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{C.Q20_DATE_HI}'
  GROUP BY l_suppkey, l_partkey
  HAVING {_dsum('l_quantity')} > {C.Q20_QTY_THRESHOLD}
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{C.Q20_NATION}'
  AND EXISTS (SELECT 1 FROM heavy WHERE l_suppkey = s_suppkey)
ORDER BY s_suppkey
"""

ORACLES["q21_waiting_suppliers"] = f"""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
    datediff('day', CAST(o_orderdate AS TIMESTAMP),
             CAST(l_shipdate AS TIMESTAMP)) > {C.Q21_LATE_DAYS}
      AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey AS ok,
    count(DISTINCT l_suppkey) AS n_supp,
    count(DISTINCT CASE WHEN is_late THEN l_suppkey END)
      AS n_late_supp
  FROM lo GROUP BY l_orderkey
)
SELECT s_name, count(DISTINCT l_orderkey) AS numwait
FROM lo
JOIN per_order ON l_orderkey = ok AND n_supp > 1 AND n_late_supp = 1
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE is_late AND n_name = '{C.Q21_NATION}'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {C.Q21_LIMIT}
"""

ORACLES["q22_dormant_customers"] = f"""
WITH avg_bal AS (
  SELECT {_dsum('c_acctbal', 2)} / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name AS nation, count(*) AS numcust,
  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE), 2)
    AS totacctbal
FROM customer, avg_bal
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '{C.Q22_ORDER_CUTOFF}'
  )
GROUP BY n_name
"""

# --- OLAP surface: rollup/cube/pivot/percentiles/set-ops/interval ----------

ORACLES["rollup_revenue"] = """
WITH t AS (
  SELECT n_name AS nation,
    CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER) AS o_year,
    o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT nation, o_year,
  CAST(GROUPING(nation, o_year) AS INTEGER) AS gid,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue,
  count(*) AS n_orders
FROM t
GROUP BY ROLLUP(nation, o_year)
"""

ORACLES["variant_extract_props"] = """
WITH doc AS (
  SELECT event_id,
    '{"meta":' || props || ',"type":"' || event_type || '"}' AS j
  FROM events
)
SELECT event_id,
  CAST(json_extract(j, '$.meta.k') AS INTEGER) AS k,
  json_extract_string(j, '$.type') AS etype
FROM doc
"""

ORACLES["grouping_sets_customers"] = """
WITH t AS (
  SELECT n_name AS nation, c_mktsegment AS segment, c_acctbal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT nation, segment,
  CAST(GROUPING(nation, segment) AS INTEGER) AS gid,
  count(*) AS n_customers,
  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE), 2)
    AS total_balance
FROM t
GROUP BY GROUPING SETS ((nation, segment), (segment), ())
"""

ORACLES["cube_order_stats"] = """
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
  count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""

_PIVOT_COLS = ",\n  ".join(
    f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS \"{t}\""
    for t in C.EVENT_TYPES_ALL
)
ORACLES["pivot_event_matrix"] = f"""
SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
    AS day,
  {_PIVOT_COLS}
FROM events
GROUP BY day
"""

_PCT_COLS = ",\n  ".join(
    f"round(quantile_cont(o_totalprice, {p}), 4) AS p{int(p * 100)}"
    for p in C.PERCENTILES
)
ORACLES["percentile_order_value"] = f"""
SELECT o_orderpriority,
  {_PCT_COLS},
  count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""

ORACLES["active_customers_setops"] = f"""
WITH a AS (
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{C.SETOPS_YEAR_A_LO}'
    AND o_orderdate < TIMESTAMP '{C.SETOPS_YEAR_A_HI}'
), b AS (
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{C.SETOPS_YEAR_B_LO}'
    AND o_orderdate < TIMESTAMP '{C.SETOPS_YEAR_B_HI}'
), both_y AS (
  SELECT custkey FROM a INTERSECT SELECT custkey FROM b
), low AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  WHERE o_orderpriority = '{C.Q13_PRIORITY_EXCLUDE}'
)
SELECT custkey FROM both_y
EXCEPT
SELECT custkey FROM low
ORDER BY custkey
"""

ORACLES["interval_join_events"] = f"""
WITH wins AS (
  SELECT day + INTERVAL {C.MAINT_START_HOUR} HOUR AS w_start,
    day + INTERVAL {C.MAINT_END_HOUR} HOUR AS w_end,
    strftime(day, '%Y-%m-%d') AS window_day
  FROM (
    SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
    FROM events
  )
)
SELECT window_day, count(*) AS n_events,
  count(DISTINCT user_id) AS n_users
FROM events JOIN wins
  ON ts >= w_start AND ts < w_end
GROUP BY window_day
"""

ORACLES["rolling_revenue_7d"] = """
WITH daily AS (
  SELECT strftime(date_trunc('day', CAST(o_orderdate AS TIMESTAMP)),
      '%Y-%m-%d') AS day,
    datediff('day', DATE '1970-01-01',
      date_trunc('day', CAST(o_orderdate AS TIMESTAMP))) AS day_no,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
      AS day_revenue
  FROM orders GROUP BY ALL
)
SELECT day, day_revenue,
  round(CAST(SUM(CAST(day_revenue AS DECIMAL(38,2))) OVER w AS DOUBLE),
        2) AS rev_7d,
  count(*) OVER w AS days_in_window
FROM daily
WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

def _unigram_oracle_sql() -> str | None:
    """Unigram tokenizer oracle: train the model with the SAME routine
    on the same sample, embed (token, logp) literals, enumerate every
    vocab-constrained segmentation per DISTINCT word with a recursive
    CTE (bounded by UNI_WORD_MAX truncation), and pick the max-score /
    lexicographically-smallest path — the exact rule the UDF applies.
    Scores add left-to-right in both engines; doc totals sum exact
    integer micro-units."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from trollflow2_spark.extensions.tokenizer import (
        normalize_for_bpe,
        train_unigram_model,
    )

    rows = duckdb.sql(
        f"SELECT text FROM '{path}' ORDER BY doc_id LIMIT {C.BPE_SAMPLE_N}"
    ).fetchall()
    words: list = []
    for (t,) in rows:
        words.extend(normalize_for_bpe(t or ""))
    model = train_unigram_model(words)
    values = ",".join(
        "('{}', {!r})".format(t.replace("'", "''"), lp) for t, lp in model
    )
    return f"""
WITH RECURSIVE model(tok, logp) AS (
  SELECT * FROM (VALUES {values}) m(t, l)
),
norm AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g') AS t
  FROM documents WHERE doc_id % {C.UNI_DOC_MOD} = 0
),
words AS (
  SELECT doc_id, (u).pos AS wpos,
    substring((u).w, 1, {C.UNI_WORD_MAX}) AS word
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(len(ws)),
        i -> struct_pack(pos := i, w := ws[i+1]))) AS u
    FROM (
      SELECT doc_id,
        list_filter(string_split(t, ' '), x -> x <> '') AS ws
      FROM norm
    )
  )
),
wd AS (SELECT DISTINCT word FROM words),
paths (word, rest, toks, score) AS (
  SELECT word, word, '', CAST(0 AS DOUBLE) FROM wd
  UNION ALL
  SELECT p.word, substring(p.rest, length(m.tok) + 1),
    p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || m.tok,
    p.score + m.logp
  FROM paths p JOIN model m ON starts_with(p.rest, m.tok)
  WHERE p.rest <> ''
),
best AS (
  SELECT word, toks, score FROM (
    SELECT word, toks, score,
      row_number() OVER (
        PARTITION BY word ORDER BY score DESC, toks
      ) AS rn
    FROM paths WHERE rest = ''
  ) WHERE rn = 1
),
per_word AS (
  SELECT w.doc_id, w.wpos, b.toks,
    CAST(round(b.score * 1000000) AS BIGINT) AS micro
  FROM words w JOIN best b USING (word)
),
agg AS (
  SELECT doc_id, string_agg(toks, ' ' ORDER BY wpos) AS tokens_str,
    SUM(micro) AS micro
  FROM per_word GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(a.tokens_str, '') AS tokens_str,
  CASE WHEN coalesce(a.tokens_str, '') = '' THEN 0
    ELSE CAST(len(string_split(a.tokens_str, ' ')) AS INTEGER)
  END AS n_tokens,
  CAST(coalesce(a.micro, 0) AS DOUBLE) / 1000000 AS score
FROM (
  SELECT doc_id FROM documents WHERE doc_id % {C.UNI_DOC_MOD} = 0
) d LEFT JOIN agg a USING (doc_id)
"""


# Expensive (EM-trains the tokenizer on the oracle corpus): resolved
# lazily via :func:`all_oracles`, never at import time.
def _parquet_layout_oracle() -> str | None:
    """Cross-reader footer audit: DuckDB's own parquet_metadata() /
    parquet_file_metadata() over the same files the Spark side reads
    with pyarrow — two independent footer parsers must agree on every
    byte count."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    from trollflow2_spark.tables import TABLE_NAMES

    parts = []
    for t in sorted(TABLE_NAMES):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            return None
        parts.append(f"""
SELECT '{t}.parquet' AS file_name,
  CAST(f.num_row_groups AS INTEGER) AS n_row_groups,
  CAST(f.num_rows AS BIGINT) AS n_rows,
  replace(m.path_in_schema, ', ', '.') AS column_name,
  CAST(sum(m.num_values) AS BIGINT) AS n_values,
  CAST(sum(m.total_compressed_size) AS BIGINT) AS compressed_bytes,
  CAST(sum(m.total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
  min(m.compression) AS compression,
  round(CAST(sum(m.total_uncompressed_size) AS DOUBLE)
        / sum(m.total_compressed_size), 4) AS ratio
FROM parquet_metadata('{p}') m, parquet_file_metadata('{p}') f
GROUP BY replace(m.path_in_schema, ', ', '.'),
  f.num_row_groups, f.num_rows""")
    return "\nUNION ALL\n".join(parts)


# compaction planner: the same sorted-fill window arithmetic in SQL
ORACLES["compaction_plan"] = """
WITH files AS (
  SELECT doc_id AS file_id, doc_id % 8 AS part,
    (1 + (doc_id * 37) % 256) * 1048576 AS bytes
  FROM documents
), c AS (
  SELECT file_id, part, bytes,
    CAST(sum(bytes) OVER (
      PARTITION BY part ORDER BY bytes DESC, file_id
    ) AS BIGINT) AS cum_bytes
  FROM files
)
SELECT file_id, part, bytes,
  CAST(floor((cum_bytes - bytes) / 536870912.0) AS BIGINT) AS bin,
  cum_bytes
FROM c
"""

def _compaction_from_audit_oracle() -> str | None:
    """DuckDB's footer rollup composed with the sorted-fill window —
    the audit->planner loop replayed end to end."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    from trollflow2_spark.tables import TABLE_NAMES

    parts = []
    for t in sorted(TABLE_NAMES):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            return None
        parts.append(
            f"SELECT '{t}.parquet' AS file_name, "
            f"CAST(sum(total_compressed_size) AS BIGINT) AS bytes "
            f"FROM parquet_metadata('{p}')"
        )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH files AS (
  {union}
), c AS (
  SELECT file_name, bytes,
    CAST(sum(bytes) OVER (ORDER BY bytes DESC, file_name) AS BIGINT)
      AS cum_bytes
  FROM files
)
SELECT file_name, bytes,
  CAST(floor((cum_bytes - bytes) / 8388608.0) AS BIGINT) AS bin,
  cum_bytes
FROM c
"""


LAZY_ORACLES: dict = {
    "unigram_tokenize": _unigram_oracle_sql,
    "parquet_layout_audit": _parquet_layout_oracle,
    "compaction_from_audit": _compaction_from_audit_oracle,
}


def all_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """ORACLES plus the lazily built data-dependent entries, trained on
    ``sf_dir`` (default: ``SPARK_GRAFT_ORACLE_SF_DIR`` or sf0.01 — the
    driver's gate corpus). Keeps import of this module free of file I/O
    and model training."""
    import os

    out = dict(ORACLES)
    prev = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    if sf_dir is not None:
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    try:
        for name, builder in LAZY_ORACLES.items():
            sql = builder()
            if sql is not None:
                out[name] = sql
    finally:
        if sf_dir is not None:
            if prev is None:
                os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
            else:
                os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = prev
    return out


def _phash_expr() -> str:
    """Closed-form dHash of the PNG fixture: pixel
    ``((d%32)*37 + (y*w+x)*11) % 256`` with ``w = d%8+12``,
    ``h = d%4+10``; 9x8 nearest grid ``src = (i*dim)//target``; bit
    ``k = y*8+x`` set when the left cell < right cell; bit 63 wraps
    the sign."""
    w, h = "(doc_id % 8 + 12)", "(doc_id % 4 + 10)"
    seed = "((doc_id % 32) * 37)"
    terms = []
    for y in range(8):
        for x in range(8):
            k = y * 8 + x
            sy = f"(({y} * {h}) // 8)"
            sxl = f"(({x} * {w}) // 9)"
            sxr = f"((({x} + 1) * {w}) // 9)"
            left = f"(({seed} + ({sy} * {w} + {sxl}) * 11) % 256)"
            right = f"(({seed} + ({sy} * {w} + {sxr}) * 11) % 256)"
            bit = f"CASE WHEN {left} < {right} THEN 1 ELSE 0 END"
            if k == 63:
                terms.append(
                    f"(CASE WHEN {left} < {right} "
                    "THEN -9223372036854775808 ELSE 0 END)"
                )
            else:
                terms.append(f"(CAST({bit} AS BIGINT) * {1 << k})")
    return "(" + " + ".join(terms) + ")"


ORACLES["perceptual_hash"] = f"""
SELECT doc_id, {_phash_expr()} AS phash
FROM documents
"""

ORACLES["phash_near_dup"] = f"""
WITH hashes AS (
  SELECT doc_id, {_phash_expr()} AS phash FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
  AND bit_count(xor(a.phash, b.phash)) <= {C.PHASH_MAX_HAMMING}
"""

# BMP / netpbm decode routes: gray for even docs, RGB (3x the values)
# for odd — same closed-form pixel ramp convention as the PNG route
_DECODE_FIXTURE_SQL = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 6 + 2 AS BIGINT) AS w,
    CAST(doc_id % 4 + 2 AS BIGINT) AS h,
    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
),
vals AS (
  SELECT doc_id, w, h, ch,
    (doc_id + unnest(generate_series(0, w * h * ch - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(any_value(ch) AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

ORACLES["multimodal_decode_bmp"] = _DECODE_FIXTURE_SQL
ORACLES["multimodal_decode_pnm"] = _DECODE_FIXTURE_SQL

# QOI: gray fixtures replicate to RGB (x3 weight per ramp value),
# d%4==1 docs are RGBA, the rest straight RGB ramps
ORACLES["multimodal_decode_qoi"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 6 + 2 AS BIGINT) AS w,
    CAST(doc_id % 4 + 2 AS BIGINT) AS h,
    CASE WHEN doc_id % 2 = 0 THEN 3
         WHEN doc_id % 4 = 1 THEN 4 ELSE 3 END AS ch,
    CASE WHEN doc_id % 2 = 0 THEN 1
         WHEN doc_id % 4 = 1 THEN 4 ELSE 3 END AS ramp_ch,
    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS mult
  FROM documents
),
vals AS (
  SELECT doc_id, w, h, ch, mult,
    (doc_id + unnest(generate_series(0, w * h * ramp_ch - 1))) % 256
      AS v
  FROM px
)
SELECT doc_id,
  CAST(sum(mult) AS BIGINT) AS n_bytes,
  round(CAST(sum(v * mult) AS DOUBLE) / sum(mult), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(any_value(ch) AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

ORACLES["chi2_feature_selection"] = f"""
WITH d AS (
  SELECT doc_id, n_chars >= {C.CHI2_LEN_THRESHOLD} AS hi,
    {TOKENS_SQL('text')} AS toks
  FROM documents
), pres AS (
  SELECT doc_id, hi, unnest(list_distinct(toks)) AS term FROM d
), totals AS (
  SELECT CAST(sum(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS n0
  FROM d
), per_term AS (
  SELECT term,
    CAST(sum(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(sum(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS n01
  FROM pres GROUP BY term
  HAVING n11 + n01 >= {C.CHI2_MIN_DF}
)
SELECT term, n11 AS df_hi, n01 AS df_lo,
  round(
    CAST(n1 + n0 AS DOUBLE)
    * CAST(CAST(n11 * (n0 - n01) - (n1 - n11) * n01 AS DECIMAL(38,0))
           * CAST(n11 * (n0 - n01) - (n1 - n11) * n01 AS DECIMAL(38,0))
           AS DOUBLE)
    / CAST(CAST(n11 + n01 AS DECIMAL(38,0))
           * CAST((n1 - n11) + (n0 - n01) AS DECIMAL(38,0))
           * CAST(n1 AS DECIMAL(38,0)) * CAST(n0 AS DECIMAL(38,0))
           AS DOUBLE),
    6) AS chi2
FROM per_term, totals
ORDER BY chi2 DESC, term
LIMIT {C.CHI2_TOP_K}
"""

ORACLES["spend_rank_profile"] = """
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey AS custkey, n_name AS nation, spend,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume
FROM spend
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY spend DESC, c_custkey)
"""

ORACLES["locf_gap_fill"] = """
WITH gappy AS (
  SELECT event_id, user_id, ts,
    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value
  FROM events
)
SELECT event_id, user_id,
  round(last_value(value IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ), 6) AS filled_value,
  CAST(value IS NULL AS INTEGER) AS was_gap
FROM gappy
"""

ORACLES["robots_crawl_delay"] = """
SELECT DISTINCT
  'site' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS domain,
  CAST(doc_id % 20 % 7 + 1 AS INTEGER) AS crawl_delay_s,
  round(60.0 / (doc_id % 20 % 7 + 1), 4) AS fetches_per_min
FROM documents
"""

# ICO: stats over the LARGEST entry's ramp (the decoy never wins)
ORACLES["multimodal_decode_ico"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 6 + 4 AS BIGINT) AS w,
    CAST(doc_id % 4 + 4 AS BIGINT) AS h
  FROM documents
),
vals AS (
  SELECT doc_id, w, h,
    (doc_id + unnest(generate_series(0, w * h * 3 - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

ORACLES["frame_sample_pnm"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 5 + 2 AS BIGINT) AS nf FROM documents
), frames AS (
  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM spec
), sampled AS (
  SELECT doc_id, f FROM frames WHERE f % 2 = 0
), px AS (
  SELECT doc_id, f,
    (doc_id * 3 + f * 11 + unnest(generate_series(0, 11))) % 256 AS v
  FROM sampled
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
  CAST(max(v) AS INTEGER) AS frame_byte
FROM px GROUP BY doc_id, f
"""

# UDTF replay: mark terminator+space, split, drop empties, enumerate
ORACLES["udtf_sentences"] = r"""
WITH marked AS (
  SELECT doc_id,
    list_filter(
      string_split(
        regexp_replace(text, '([.!?]) +', '\1' || chr(1), 'g'),
        chr(1)
      ),
      x -> x <> ''
    ) AS parts
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id, CAST((u).pos AS INTEGER) AS pos, (u).s AS sentence
FROM (
  SELECT doc_id,
    unnest(list_transform(range(len(parts)),
      i -> struct_pack(pos := i, s := parts[i+1]))) AS u
  FROM marked
)
"""

# image-dedup capstone: closed-form hashes -> quadratic bit_count
# edges -> the same recursive closure as the lexical dedup chain
ORACLES["phash_dedup_clusters"] = f"""
WITH RECURSIVE hashes AS (
  SELECT doc_id, {_phash_expr()} AS phash FROM documents
), ppairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hashes a JOIN hashes b
    ON a.doc_id < b.doc_id
    AND bit_count(xor(a.phash, b.phash)) <= {C.PHASH_MAX_HAMMING}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM ppairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM ppairs
), reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
), labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), clustered AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l USING (doc_id)
)
SELECT doc_id, cluster_id,
  CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS is_canonical,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM clustered
"""

# the quadratic reference join the deletion-neighborhood blocking
# avoids — equal-length levenshtein<=1 == hamming<=1
ORACLES["fuzzy_name_pairs"] = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
  AND length(a.c_name) = length(b.c_name)
  AND levenshtein(a.c_name, b.c_name) <= 1
"""

# the full quadratic levenshtein theta-join (substitution AND
# insert/delete) that levenshtein1_pairs' deletion-neighborhood
# blocking avoids
ORACLES["fuzzy_lev_pairs"] = f"""
WITH f AS (
  SELECT c_custkey,
    'c' || (c_custkey % {C.FUZZY_MOD}) ||
    CASE WHEN c_custkey % {C.FUZZY_SUFFIX_MOD} = 0 THEN 'x' ELSE '' END
      AS nm
  FROM customer
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b
FROM f a JOIN f b
  ON a.c_custkey < b.c_custkey
  AND levenshtein(a.nm, b.nm) <= 1
"""

# JSON key profile replay: identical fixture construction (DuckDB
# to_json keeps nulls, so the null-when-absent key filters explicitly)
# + json_keys explode + the same text-level type regexes
ORACLES["json_key_profile"] = """
WITH f AS (
  SELECT event_id,
    CASE WHEN event_id % 3 = 0 THEN
      to_json(struct_pack(v := value, t := event_type,
                          flag := event_id % 2 = 0, maybe := event_id))
    ELSE
      to_json(struct_pack(v := value, t := event_type,
                          flag := event_id % 2 = 0))
    END AS js
  FROM events
), total AS (SELECT count(*) AS nr FROM events),
k AS (
  SELECT js, unnest(json_keys(js)) AS k FROM f
), typed AS (
  SELECT k,
    CASE WHEN regexp_matches(json_extract_string(js, '$.' || k),
                             '^-?[0-9]+$') THEN 1 ELSE 0 END AS i,
    CASE WHEN NOT regexp_matches(json_extract_string(js, '$.' || k),
                                 '^-?[0-9]+$')
          AND regexp_matches(json_extract_string(js, '$.' || k),
              '^-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?$')
         THEN 1 ELSE 0 END AS fl,
    CASE WHEN json_extract_string(js, '$.' || k) IN ('true', 'false')
         THEN 1 ELSE 0 END AS b
  FROM k
)
SELECT k, count(*) AS n_present,
  CAST(sum(i) AS BIGINT) AS n_int,
  CAST(sum(fl) AS BIGINT) AS n_float,
  CAST(sum(b) AS BIGINT) AS n_bool,
  CAST(count(*) - sum(i) - sum(fl) - sum(b) AS BIGINT) AS n_string,
  round(count(*) / (SELECT CAST(nr AS DOUBLE) FROM total), 6)
    AS presence_share
FROM typed GROUP BY k
"""

# snapshot schema drift: the same fixture JSON per snapshot, two
# key profiles full-outer-joined (DuckDB to_json keeps nulls, so the
# conditional keys filter explicitly)
ORACLES["json_schema_drift"] = """
WITH f AS (
  SELECT event_id, event_id % 2 = 1 AS is_new,
    CASE
      WHEN event_id % 3 = 0 AND event_id % 2 = 1 AND event_id % 4 = 1
        THEN ['v', 't', 'maybe', 'v2']
      WHEN event_id % 3 = 0 THEN ['v', 't', 'maybe']
      WHEN event_id % 2 = 1 AND event_id % 4 = 1 THEN ['v', 't', 'v2']
      ELSE ['v', 't'] END AS ks
  FROM events
), totals AS (
  SELECT
    count(*) FILTER (WHERE NOT is_new) AS n_old,
    count(*) FILTER (WHERE is_new) AS n_new
  FROM f
), k AS (
  SELECT is_new, unnest(ks) AS k FROM f
), po AS (
  SELECT k, round(count(*) / (SELECT CAST(n_old AS DOUBLE) FROM totals),
                  6) AS share_old
  FROM k WHERE NOT is_new GROUP BY k
), pn AS (
  SELECT k, round(count(*) / (SELECT CAST(n_new AS DOUBLE) FROM totals),
                  6) AS share_new
  FROM k WHERE is_new GROUP BY k
)
SELECT coalesce(po.k, pn.k) AS k, share_old, share_new,
  CASE WHEN share_old IS NULL THEN 'added'
       WHEN share_new IS NULL THEN 'dropped'
       WHEN abs(share_new - share_old) > 0.1 THEN 'drifted'
       ELSE 'stable' END AS status
FROM po FULL JOIN pn USING (k)
"""

ORACLES["key_skew_audit"] = f"""
WITH c AS (
  SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY o_custkey
), total AS (SELECT count(*) AS nr FROM orders),
top AS (
  SELECT key, n,
    CAST(row_number() OVER (ORDER BY n DESC, key) AS INTEGER) AS rank
  FROM c ORDER BY n DESC, key LIMIT {C.SKEW_AUDIT_TOPN}
)
SELECT key, n,
  round(n / (SELECT CAST(nr AS DOUBLE) FROM total), 6) AS share,
  rank,
  CAST(round(n / (SELECT CAST(nr AS DOUBLE) FROM total), 6)
    > {C.SKEW_AUDIT_SHARE} AS INT) AS skewed
FROM top
"""

ORACLES["fuzzy_lev2_pairs"] = f"""
WITH f AS (
  SELECT c_custkey,
    'c' || (c_custkey % {C.FUZZY_MOD}) ||
    CASE WHEN c_custkey % {C.FUZZY_SUFFIX_MOD} = 0 THEN 'x' ELSE '' END
      AS nm
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b
FROM f a JOIN f b
  ON a.c_custkey < b.c_custkey
  AND levenshtein(a.nm, b.nm) <= 2
"""

ORACLES["outlier_mad_filter"] = f"""
WITH med AS (
  SELECT event_type AS mt, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT event_type, value, med, abs(value - med) AS adev
  FROM events JOIN med ON event_type = mt
), mad AS (
  SELECT event_type AS at, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT event_type, count(*) AS n_total,
  CAST(sum(CASE WHEN adev > {C.MAD_K} * mad THEN 1 ELSE 0 END)
    AS BIGINT) AS n_outliers,
  round(any_value(med), 6) AS median_value,
  round(any_value(mad), 6) AS mad_value
FROM dev JOIN mad ON event_type = at
GROUP BY event_type
"""

ORACLES["value_histogram"] = f"""
SELECT CAST(floor(o_totalprice / {C.HIST_BUCKET_WIDTH}) AS BIGINT)
    AS bucket,
  count(*) AS n_orders,
  round(min(o_totalprice), 2) AS min_price,
  round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY bucket
"""

_PROFILE_COLS = ["lang", "source", "n_chars"]
ORACLES["table_profile"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_s,
  CAST(max({c}) AS VARCHAR) AS max_s
FROM documents"""
    for c in _PROFILE_COLS
)

# SCD2 merge replay: the same close/reopen/no-op/new-key/passthrough
# decisions expressed relationally
# fetch schedule: per-domain slots by (priority desc, url), offset =
# slot * delay, worker = portable md5-60-bit hash of the domain % 64
ORACLES["fetch_schedule"] = """
WITH f AS (
  SELECT doc_id,
    'd' || CAST(doc_id % 12 AS VARCHAR) AS domain,
    'https://d' || (doc_id % 12) || '/p' || doc_id AS url0,
    (doc_id * 7) % 100 AS priority,
    1 + (doc_id % 12) % 5 AS crawl_delay_s
  FROM documents
), s AS (
  SELECT doc_id, domain,
    'https://' || domain || '/p' || doc_id AS url,
    priority, crawl_delay_s,
    row_number() OVER (PARTITION BY domain
      ORDER BY priority DESC,
        'https://' || domain || '/p' || doc_id) - 1 AS slot
  FROM f
)
SELECT doc_id, domain, url, priority,
  CAST(slot AS INTEGER) AS slot,
  CAST(slot * crawl_delay_s AS BIGINT) AS offset_s,
  CAST(CAST(('0x' || substr(md5(domain), 1, 15)) AS BIGINT) % 64
    AS INTEGER) AS worker
FROM s
"""

# robots Sitemap directives: map1 when d%3!=0 (pos 0), map2 when
# d%4==0 (verbatim URL incl. case, file order)
ORACLES["robots_sitemaps"] = """
WITH rows_ AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 <> 0 AND doc_id % 4 = 0 THEN
      ['https://s' || (doc_id % 15) || '.com/map1.xml',
       'https://s' || (doc_id % 15) || '.com/sub/map2.XML']
    WHEN doc_id % 3 <> 0 THEN
      ['https://s' || (doc_id % 15) || '.com/map1.xml']
    WHEN doc_id % 4 = 0 THEN
      ['https://s' || (doc_id % 15) || '.com/sub/map2.XML']
    ELSE [] END AS urls
  FROM documents
)
SELECT doc_id, CAST(j AS INTEGER) AS pos, urls[j + 1] AS sitemap_url
FROM rows_, unnest(range(len(urls))) AS t(j)
"""

# label propagation: 3 synchronous rounds unrolled — each round is
# neighbor-label mode with (count desc, label asc) argmax over the
# symmetrized 20-host graph; isolated nodes (none here) would keep
# their label via the same coalesce the operator uses
ORACLES["host_communities"] = """
WITH hosts AS (
  SELECT DISTINCT doc_id % 20 AS k FROM documents
), e0 AS (
  SELECT k AS s, (k + 1) % 20 AS t FROM hosts
  UNION
  SELECT k, (k * 3 + 7) % 20 FROM hosts
), edges AS (
  SELECT s, t FROM e0 UNION SELECT t, s FROM e0
), l0 AS (
  SELECT k AS id, k AS lab FROM hosts
), n1 AS (
  SELECT e.s AS id, l.lab, COUNT(*) AS c
  FROM edges e JOIN l0 l ON l.id = e.t GROUP BY 1, 2
), l1 AS (
  SELECT id, lab FROM (
    SELECT id, lab,
      row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
    FROM n1) WHERE rn = 1
), n2 AS (
  SELECT e.s AS id, l.lab, COUNT(*) AS c
  FROM edges e JOIN l1 l ON l.id = e.t GROUP BY 1, 2
), l2 AS (
  SELECT id, lab FROM (
    SELECT id, lab,
      row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
    FROM n2) WHERE rn = 1
), n3 AS (
  SELECT e.s AS id, l.lab, COUNT(*) AS c
  FROM edges e JOIN l2 l ON l.id = e.t GROUP BY 1, 2
), l3 AS (
  SELECT id, lab FROM (
    SELECT id, lab,
      row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
    FROM n3) WHERE rn = 1
)
SELECT 'site' || CAST(id AS VARCHAR) AS host,
  CAST(lab AS BIGINT) AS community
FROM l3
"""

# binary metrics: Mann-Whitney average-rank AUC (integer until the
# final division) + thresholded confusion counts per model parity
ORACLES["binary_metrics"] = """
WITH r AS (
  SELECT event_id % 2 AS model_id,
    CAST((CAST(floor(value) AS BIGINT)
      + CASE WHEN event_type IN ('purchase', 'signup')
        THEN 97 ELSE 0 END) % 100 AS DOUBLE) / 100.0 AS s,
    CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
      AS y
  FROM events
), per AS (
  SELECT model_id, s, COUNT(*) AS n_at, SUM(y) AS pos_at
  FROM r GROUP BY 1, 2
), rk AS (
  SELECT *, COALESCE(SUM(n_at) OVER (PARTITION BY model_id ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per
), agg AS (
  SELECT model_id, SUM(n_at) AS n, SUM(pos_at) AS n_pos,
    SUM((2 * below + n_at + 1) * pos_at) AS r2p,
    SUM(CASE WHEN s >= 0.5 THEN pos_at ELSE 0 END) AS tp,
    SUM(CASE WHEN s >= 0.5 THEN n_at - pos_at ELSE 0 END) AS fp
  FROM rk GROUP BY 1
), d AS (
  SELECT model_id, n, n_pos, r2p, tp, fp,
    (n - n_pos) - fp AS tn, n_pos - tp AS fn,
    CASE WHEN tp + fp > 0
      THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS prec,
    CASE WHEN n_pos > 0
      THEN CAST(tp AS DOUBLE) / n_pos ELSE 0.0 END AS rec
  FROM agg
)
SELECT model_id, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
  CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
    round(CAST(r2p - n_pos * (n_pos + 1) AS DOUBLE)
      / (2.0 * n_pos * (n - n_pos)), 6) END AS auc,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
  round(prec, 6) AS precision,
  round(rec, 6) AS recall,
  round(CASE WHEN prec + rec > 0
    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1,
  round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy
FROM d
"""

# OHLC: open/close by (ts, event_id) order within (type, hour)
ORACLES["downsample_ohlc"] = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, ts, event_id,
    value
  FROM events
), o AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket
      ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, bucket
      ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type,
  strftime(bucket, '%Y-%m-%d %H:00') AS bucket,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
  COUNT(*) AS n,
  round(CAST(SUM(CAST(value AS DECIMAL(38, 6))) AS DOUBLE), 6)
    AS sum_value
FROM o GROUP BY 1, 2
"""

# calibration: bins over the binary_metrics fixture; exact DECIMAL
# score sums; ECE folded in bin order (list_sum over ordered list)
ORACLES["calibration_bins"] = """
WITH r AS (
  SELECT event_id % 2 AS model_id,
    CAST((CAST(floor(value) AS BIGINT)
      + CASE WHEN event_type IN ('purchase', 'signup')
        THEN 97 ELSE 0 END) % 100 AS DOUBLE) / 100.0 AS s,
    CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
      AS y
  FROM events
), bins AS (
  SELECT model_id,
    LEAST(CAST(floor(s * 10) AS INTEGER), 9) AS bin,
    COUNT(*) AS n, SUM(y) AS n_pos,
    SUM(CAST(s AS DECIMAL(38, 9))) AS ssum
  FROM r GROUP BY 1, 2
), terms AS (
  SELECT model_id, bin, n, n_pos, ssum,
    CAST(n AS DOUBLE)
      * abs(CAST(n_pos AS DOUBLE) / n - CAST(ssum AS DOUBLE) / n)
      AS term
  FROM bins
), g AS (
  SELECT model_id,
    round(list_sum(list(term ORDER BY bin))
      / CAST(SUM(n) AS DOUBLE), 6) AS ece
  FROM terms GROUP BY model_id
)
SELECT b.model_id, b.bin, CAST(b.n AS BIGINT) AS n,
  CAST(b.n_pos AS BIGINT) AS n_pos,
  round(CAST(b.ssum AS DOUBLE) / b.n, 6) AS mean_pred,
  round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS obs_rate,
  g.ece
FROM bins b JOIN g USING (model_id)
"""

# zone-map audit: file i, row group g covers [1000i+100g, +49];
# skippable under BETWEEN 1250 AND 2040 iff max < 1250 or min > 2040
ORACLES["file_skip_plan"] = """
WITH g AS (
  SELECT i, j,
    CAST(1000 * i + 100 * j AS BIGINT) AS mn,
    CAST(1000 * i + 100 * j + 49 AS BIGINT) AS mx
  FROM unnest(range(6)) AS a(i), unnest(range(4)) AS b(j)
)
SELECT 'f' || i || '.parquet' AS file_name,
  CAST(j AS INTEGER) AS rg,
  CAST(50 AS BIGINT) AS n_rows,
  mn AS stat_min, mx AS stat_max,
  CAST(CASE WHEN mx < 1250 OR mn > 2040 THEN 1 ELSE 0 END AS INTEGER)
    AS skippable
FROM g
"""

# delta-log replay: per path the latest action at version <= 20 wins
# ((version, action desc, size) precedence); winner must be an add
ORACLES["delta_snapshot"] = """
WITH acts AS (
  SELECT doc_id % 25 AS v,
    CASE WHEN doc_id % 5 = 0
      THEN 'part-' || CAST((doc_id + 40) % 80 AS VARCHAR)
      ELSE 'part-' || CAST(doc_id % 80 AS VARCHAR) END AS path,
    CASE WHEN doc_id % 5 = 0 THEN 'remove' ELSE 'add' END AS action,
    CASE WHEN doc_id % 5 <> 0 THEN doc_id * 100 END AS size
  FROM documents
  WHERE doc_id % 25 <= 20
), r AS (
  SELECT path, action, size, v,
    row_number() OVER (PARTITION BY path
      ORDER BY v DESC, action DESC, COALESCE(size, -1) DESC) AS rn
  FROM acts
)
SELECT path, size, v AS last_version
FROM r WHERE rn = 1 AND action = 'add'
"""

# checkpointed replay: FULL-log winner, with last_version compacted
# to the checkpoint version for files untouched since it
ORACLES["delta_snapshot_checkpoint"] = """
WITH acts AS (
  SELECT doc_id % 25 AS v,
    CASE WHEN doc_id % 5 = 0
      THEN 'part-' || CAST((doc_id + 40) % 80 AS VARCHAR)
      ELSE 'part-' || CAST(doc_id % 80 AS VARCHAR) END AS path,
    CASE WHEN doc_id % 5 = 0 THEN 'remove' ELSE 'add' END AS action,
    CASE WHEN doc_id % 5 <> 0 THEN doc_id * 100 END AS size
  FROM documents
), r AS (
  SELECT path, action, size, v,
    row_number() OVER (PARTITION BY path
      ORDER BY v DESC, action DESC, COALESCE(size, -1) DESC) AS rn
  FROM acts
)
SELECT path, size,
  CASE WHEN v <= 14 THEN 14 ELSE v END AS last_version
FROM r WHERE rn = 1 AND action = 'add'
"""

# version-window change feed: two windowed snapshot resolutions
# full-outer joined, unchanged rows suppressed
ORACLES["delta_changes"] = """
WITH acts AS (
  SELECT doc_id % 25 AS v,
    CASE WHEN doc_id % 5 = 0
      THEN 'part-' || CAST((doc_id + 40) % 80 AS VARCHAR)
      ELSE 'part-' || CAST(doc_id % 80 AS VARCHAR) END AS path,
    CASE WHEN doc_id % 5 = 0 THEN 'remove' ELSE 'add' END AS action,
    CASE WHEN doc_id % 5 <> 0 THEN doc_id * 100 END AS size
  FROM documents
), snap AS (
  SELECT 10 AS snapv, path, action, size, v,
    row_number() OVER (PARTITION BY path
      ORDER BY v DESC, action DESC, COALESCE(size, -1) DESC) AS rn
  FROM acts WHERE v <= 10
  UNION ALL
  SELECT 20, path, action, size, v,
    row_number() OVER (PARTITION BY path
      ORDER BY v DESC, action DESC, COALESCE(size, -1) DESC)
  FROM acts WHERE v <= 20
), live AS (
  SELECT snapv, path, size, v FROM snap
  WHERE rn = 1 AND action = 'add'
), olds AS (SELECT path, size AS size_old, v AS version_old
            FROM live WHERE snapv = 10),
news AS (SELECT path, size AS size_new, v AS version_new
         FROM live WHERE snapv = 20)
SELECT COALESCE(n.path, o.path) AS path,
  CASE WHEN o.path IS NULL THEN 'added'
       WHEN n.path IS NULL THEN 'removed'
       WHEN o.size_old <> n.size_new
            OR o.version_old <> n.version_new THEN 'updated' END
    AS change,
  o.size_old, n.size_new, o.version_old, n.version_new
FROM olds o FULL OUTER JOIN news n ON o.path = n.path
WHERE o.path IS NULL OR n.path IS NULL
   OR o.size_old <> n.size_new OR o.version_old <> n.version_new
"""

# timestamp time travel: commitInfo resolves 21000 -> version 20,
# then the delta_snapshot oracle replays verbatim
ORACLES["delta_time_travel_ts"] = ORACLES["delta_snapshot"]

# CDF routing: cdc versions read ONLY change files (their shadow
# adds drop); plain versions synthesize from add/remove
ORACLES["delta_cdf_window"] = """
WITH d AS (
  SELECT doc_id, doc_id % 25 AS v FROM documents
  WHERE doc_id % 25 BETWEEN 5 AND 20
)
SELECT v AS version, 'cdf-' || CAST(doc_id AS VARCHAR) AS path,
  CAST(doc_id AS BIGINT) AS size, 'cdc' AS source
FROM d WHERE v % 3 = 0 AND doc_id % 2 = 0
UNION ALL
SELECT v, 'part-' || CAST(doc_id AS VARCHAR),
  CAST(doc_id * 10 AS BIGINT), 'add'
FROM d WHERE v % 3 <> 0 AND doc_id % 5 <> 0
UNION ALL
SELECT v, 'rm-' || CAST(doc_id AS VARCHAR), NULL, 'remove'
FROM d WHERE v % 3 <> 0 AND doc_id % 5 = 0
"""

# partition pruning: same precedence replay as delta_snapshot, the
# winner's numRecords summed per in-predicate region
ORACLES["delta_partition_prune"] = """
WITH acts AS (
  SELECT doc_id % 25 AS v,
    CASE WHEN doc_id % 5 = 0
      THEN 'part-' || CAST((doc_id + 40) % 80 AS VARCHAR)
      ELSE 'part-' || CAST(doc_id % 80 AS VARCHAR) END AS path,
    CASE WHEN doc_id % 5 = 0 THEN 'remove' ELSE 'add' END AS action,
    CASE WHEN doc_id % 5 <> 0 THEN doc_id * 100 END AS size,
    CASE WHEN doc_id % 5 <> 0
      THEN CAST(100 + doc_id % 50 AS BIGINT) END AS nrec,
    CASE WHEN doc_id % 5 <> 0
      THEN CAST(doc_id % 80 % 4 AS VARCHAR) END AS region
  FROM documents
  WHERE doc_id % 25 <= 20
), r AS (
  SELECT path, action, nrec, region,
    row_number() OVER (PARTITION BY path
      ORDER BY v DESC, action DESC, COALESCE(size, -1) DESC) AS rn
  FROM acts
)
SELECT region, COUNT(*) AS n_files,
  CAST(SUM(nrec) AS BIGINT) AS live_rows
FROM r WHERE rn = 1 AND action = 'add' AND region IN ('0', '1')
GROUP BY region
"""

# deletion vectors: closed-form restatement of the planted DVs —
# d%6==0 replaced its DV (one extra position wins), d%3==0 kept the
# v0 inline DV, others have none; dv_gone only matches if the engine
# actually decoded the Z85 + RoaringBitmapArray payloads
ORACLES["delta_snapshot_dv"] = """
WITH d AS (
  SELECT doc_id,
    CAST(100 + doc_id % 50 AS BIGINT) AS nrec,
    CAST(CASE WHEN doc_id % 6 = 0 THEN doc_id % 4 + 2
              WHEN doc_id % 3 = 0 THEN doc_id % 4 + 1
              ELSE 0 END AS BIGINT) AS gone
  FROM documents
)
SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
  nrec AS num_records,
  gone AS dv_cardinality,
  gone AS dv_gone,
  nrec - gone AS live_records
FROM d
"""

# column mapping: stats/partitionValues are keyed by PHYSICAL names
# in the fixture; the closed form below is the LOGICAL-namespace
# answer, so it only matches if the engine's physical->logical remap
# actually ran (unmapped: region filter empties, must_read all 1)
ORACLES["delta_column_mapping"] = """
SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
  CAST(doc_id % 4 AS VARCHAR) AS region,
  CAST(10 + doc_id % 5 AS BIGINT) AS num_records,
  CASE WHEN doc_id * 10 % 1000 BETWEEN 150 AND 300 THEN 1
       ELSE 0 END AS must_read
FROM documents WHERE doc_id % 4 IN (0, 1)
"""

# data skipping: [lo, lo+50] overlaps [200, 300] iff lo in
# [150, 300]; statless files (d%9==0) read conservatively
ORACLES["delta_file_skip"] = """
SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
  CAST(10 + doc_id % 5 AS BIGINT) AS num_records,
  CASE WHEN doc_id % 9 = 0 THEN NULL
       ELSE CAST(doc_id * 10 % 1000 AS DOUBLE) END AS min_v,
  CASE WHEN doc_id % 9 = 0 THEN NULL
       ELSE CAST(doc_id * 10 % 1000 + 50 AS DOUBLE) END AS max_v,
  CASE WHEN doc_id % 9 = 0 THEN 1
       WHEN doc_id * 10 % 1000 BETWEEN 150 AND 300 THEN 1
       ELSE 0 END AS must_read
FROM documents
"""

# row-aware change feed: only the DV-replaced files (d%6==0) emit,
# as 'updated' with live rows before/after the replacement
ORACLES["delta_changes_live"] = """
SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
  'updated' AS change,
  CAST(100 + doc_id % 77 AS BIGINT) AS size_old,
  CAST(100 + doc_id % 77 AS BIGINT) AS size_new,
  CAST(0 AS INT) AS version_old,
  CAST(1 AS INT) AS version_new,
  CAST(100 + doc_id % 50 - (doc_id % 4 + 1) AS BIGINT)
    AS live_records_old,
  CAST(100 + doc_id % 50 - (doc_id % 4 + 2) AS BIGINT)
    AS live_records_new
FROM documents WHERE doc_id % 6 = 0
"""

# DV compaction planner: files over the dead-fraction threshold
# restated closed-form from the planted scheme (winner DV per path)
ORACLES["delta_dv_compaction"] = """
WITH d AS (
  SELECT doc_id,
    CAST(100 + doc_id % 77 AS BIGINT) AS size,
    CAST(100 + doc_id % 50 AS BIGINT) AS nrec,
    CAST(CASE WHEN doc_id % 6 = 0 THEN doc_id % 4 + 2
              WHEN doc_id % 3 = 0 THEN doc_id % 4 + 1
              ELSE 0 END AS BIGINT) AS gone
  FROM documents
)
SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
  size, nrec AS num_records, gone AS dv_cardinality,
  round(gone / CAST(nrec AS DOUBLE), 6) AS dead_fraction,
  CAST(floor(size * (gone / CAST(nrec AS DOUBLE))) AS BIGINT)
    AS reclaim_bytes
FROM d
WHERE nrec > 0 AND gone / CAST(nrec AS DOUBLE) >= 0.03
"""

# retrieval metrics: recall@10 per-mille, MRR, nDCG@10 with linear
# gains; DCG folds by ascending rank, IDCG by grade-desc position —
# both as ordered list_sum, matching the Spark folds
ORACLES["retrieval_metrics"] = """
WITH ranked AS (
  SELECT CAST(q AS BIGINT) AS query_id, CAST(r AS BIGINT) AS rank_,
    CAST((q * 37 + r * 13) % 500 AS BIGINT) AS doc_id
  FROM unnest(range(10)) AS a(q), unnest(range(1, 21)) AS b(r)
  WHERE r <= 10
), gold AS (
  SELECT doc_id % 50 AS query_id, doc_id, 1 + doc_id % 3 AS grade
  FROM documents WHERE doc_id % 50 <= 9
), hits AS (
  SELECT r.query_id, r.rank_, COALESCE(g.grade, 0) AS g
  FROM ranked r LEFT JOIN gold g
    ON g.query_id = r.query_id AND g.doc_id = r.doc_id
), dcg AS (
  SELECT query_id,
    list_sum(list(CASE WHEN g > 0
      THEN CAST(g AS DOUBLE) / log2(CAST(rank_ AS DOUBLE) + 1.0)
      ELSE 0.0 END ORDER BY rank_)) AS dcg,
    COUNT(*) FILTER (g > 0) AS n_hits,
    MIN(rank_) FILTER (g > 0) AS first_rel
  FROM hits GROUP BY query_id
), ig AS (
  SELECT query_id, grade,
    row_number() OVER (PARTITION BY query_id
      ORDER BY grade DESC, doc_id) AS pos,
    COUNT(*) OVER (PARTITION BY query_id) AS n_gold
  FROM gold
), idcg AS (
  SELECT query_id, MAX(n_gold) AS n_gold,
    list_sum(list(CAST(grade AS DOUBLE)
      / log2(CAST(pos AS DOUBLE) + 1.0) ORDER BY pos)
      FILTER (pos <= 10)) AS idcg
  FROM ig GROUP BY query_id
)
SELECT d.query_id, CAST(i.n_gold AS BIGINT) AS n_gold,
  CAST(d.n_hits AS INTEGER) AS n_hits,
  CAST(d.n_hits * 1000 // i.n_gold AS BIGINT) AS recall_pm,
  round(CASE WHEN d.first_rel IS NOT NULL
    THEN 1.0 / d.first_rel ELSE 0.0 END, 6) AS mrr,
  round(CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END, 6)
    AS ndcg
FROM dcg d JOIN idcg i USING (query_id)
"""

# one-pass correlation matrix: HUGEINT fixed-point moments, the
# identical (n*sxy - sx*sy)/(sqrt .. * sqrt ..) chain per pair
ORACLES["correlation_matrix"] = """
WITH m AS (
  SELECT
    CAST(floor(l_quantity * 1000000) AS HUGEINT) AS a,
    CAST(floor(l_extendedprice * 1000000) AS HUGEINT) AS b,
    CAST(floor(l_discount * 1000000) AS HUGEINT) AS c,
    CAST(floor(l_tax * 1000000) AS HUGEINT) AS d
  FROM lineitem
), w AS (
  SELECT COUNT(*) AS n,
    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc, SUM(d) AS sd,
    SUM(a*a) AS qa, SUM(b*b) AS qb, SUM(c*c) AS qc, SUM(d*d) AS qd,
    SUM(a*b) AS xab, SUM(a*c) AS xac, SUM(a*d) AS xad,
    SUM(b*c) AS xbc, SUM(b*d) AS xbd, SUM(c*d) AS xcd
  FROM m
), p AS (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
    n, CAST(sa AS DOUBLE) s1, CAST(sb AS DOUBLE) s2,
    CAST(qa AS DOUBLE) q1, CAST(qb AS DOUBLE) q2,
    CAST(xab AS DOUBLE) x FROM w
  UNION ALL SELECT 'l_quantity', 'l_discount', n,
    CAST(sa AS DOUBLE), CAST(sc AS DOUBLE), CAST(qa AS DOUBLE),
    CAST(qc AS DOUBLE), CAST(xac AS DOUBLE) FROM w
  UNION ALL SELECT 'l_quantity', 'l_tax', n,
    CAST(sa AS DOUBLE), CAST(sd AS DOUBLE), CAST(qa AS DOUBLE),
    CAST(qd AS DOUBLE), CAST(xad AS DOUBLE) FROM w
  UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
    CAST(sb AS DOUBLE), CAST(sc AS DOUBLE), CAST(qb AS DOUBLE),
    CAST(qc AS DOUBLE), CAST(xbc AS DOUBLE) FROM w
  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
    CAST(sb AS DOUBLE), CAST(sd AS DOUBLE), CAST(qb AS DOUBLE),
    CAST(qd AS DOUBLE), CAST(xbd AS DOUBLE) FROM w
  UNION ALL SELECT 'l_discount', 'l_tax', n,
    CAST(sc AS DOUBLE), CAST(sd AS DOUBLE), CAST(qc AS DOUBLE),
    CAST(qd AS DOUBLE), CAST(xcd AS DOUBLE) FROM w
)
SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
  CASE WHEN (n * q1 - s1 * s1) > 0 AND (n * q2 - s2 * s2) > 0 THEN
    round((n * x - s1 * s2)
      / (sqrt(n * q1 - s1 * s1) * sqrt(n * q2 - s2 * s2)), 6)
  END AS corr
FROM p
"""

# mutual information: exact cell counts; terms fold in (x, y) order
ORACLES["mutual_information"] = """
WITH cells AS (
  SELECT lang AS x, source AS y, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
), mx AS (
  SELECT x, SUM(c) AS cx FROM cells GROUP BY 1
), my AS (
  SELECT y, SUM(c) AS cy FROM cells GROUP BY 1
), w AS (
  SELECT SUM(c) AS n, COUNT(DISTINCT cells.x) AS x_card,
    COUNT(DISTINCT cells.y) AS y_card
  FROM cells
), terms AS (
  SELECT cells.x, cells.y,
    (CAST(c AS DOUBLE) / CAST(w.n AS DOUBLE))
    * ln((CAST(c AS DOUBLE) * CAST(w.n AS DOUBLE))
         / (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))) AS term
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN w
)
SELECT CAST(w.n AS BIGINT) AS n,
  CAST(w.x_card AS BIGINT) AS x_card,
  CAST(w.y_card AS BIGINT) AS y_card,
  round((SELECT list_sum(list(term ORDER BY x, y)) FROM terms), 6)
    AS mi_nats
FROM w
"""

# A/B z-test: control = purchases, treatment also signups; pooled
# variance chain over exact counts; per-mille truncating rates
ORACLES["ab_test"] = """
WITH r AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'control'
              ELSE 'treatment' END AS variant,
    CASE WHEN event_type = 'purchase'
      OR (event_id % 2 = 1 AND event_type = 'signup')
    THEN 1 ELSE 0 END AS s
  FROM events
), g AS (
  SELECT variant, COUNT(*) AS n, SUM(s) AS successes
  FROM r GROUP BY 1
), w AS (
  SELECT
    MAX(CASE WHEN variant = 'control' THEN n END) AS n1,
    MAX(CASE WHEN variant = 'control' THEN successes END) AS s1,
    MAX(CASE WHEN variant = 'treatment' THEN n END) AS n2,
    MAX(CASE WHEN variant = 'treatment' THEN successes END) AS s2
  FROM g
)
SELECT 'control' AS variant_a, 'treatment' AS variant_b,
  CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
  CAST(s1 AS BIGINT) AS succ_a, CAST(s2 AS BIGINT) AS succ_b,
  CAST(s1 * 1000 // n1 AS BIGINT) AS rate_a_pm,
  CAST(s2 * 1000 // n2 AS BIGINT) AS rate_b_pm,
  round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
    / sqrt(((CAST(s1 AS DOUBLE) + s2) / (CAST(n1 AS DOUBLE) + n2))
      * (1.0 - (CAST(s1 AS DOUBLE) + s2) / (CAST(n1 AS DOUBLE) + n2))
      * (1.0 / n1 + 1.0 / n2)), 6) AS z
FROM w
"""

# moments sketch: HUGEINT power sums over floor(value*1000) units,
# derived stats on the identical float chain (m2*sqrt(m2), not pow)
ORACLES["moments_profile"] = """
WITH m AS (
  SELECT event_type, CAST(floor(value * 1000) AS HUGEINT) AS m
  FROM events
), a AS (
  SELECT event_type, COUNT(m) AS n,
    SUM(m) AS s1, SUM(m * m) AS s2, SUM(m * m * m) AS s3,
    SUM(m * m * m * m) AS s4, MIN(m) AS mn, MAX(m) AS mx
  FROM m GROUP BY event_type
), d AS (
  SELECT event_type, n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS r1,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4,
    mn, mx
  FROM a
), c AS (
  SELECT event_type, n, r1, mn, mx,
    r2 - r1 * r1 AS m2,
    r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1 AS m3,
    r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2
      - 3.0 * r1 * r1 * r1 * r1 AS m4
  FROM d
)
SELECT event_type, CAST(n AS BIGINT) AS n,
  round(r1 / 1000, 6) AS mean,
  round(m2 / 1000000.0, 6) AS variance,
  round(CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) ELSE 0.0 END, 6)
    AS skewness,
  round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 ELSE 0.0 END, 6)
    AS kurtosis_excess,
  CAST(mn AS BIGINT) AS min_units,
  CAST(mx AS BIGINT) AS max_units
FROM c
"""

# PSI drift: even ids = reference, odd = current (+40 shift on
# 'purchase'); dense 13-bucket grid, Laplace smoothing, and the PSI
# fold runs in bucket order on both engines (ordered-list fold here)
ORACLES["drift_psi"] = """
WITH tagged AS (
  SELECT event_type,
    LEAST(CAST(floor(value / 50.0) AS INTEGER), 12) AS b,
    1 AS is_ref
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_type,
    LEAST(CAST(floor(
      (CASE WHEN event_type = 'purchase' THEN value + 40.0
            ELSE value END) / 50.0) AS INTEGER), 12) AS b,
    0 AS is_ref
  FROM events WHERE event_id % 2 = 1
), counts AS (
  SELECT event_type, b, SUM(is_ref) AS cr, SUM(1 - is_ref) AS cc
  FROM tagged GROUP BY 1, 2
), grid AS (
  SELECT g.event_type, CAST(j AS INTEGER) AS b
  FROM (SELECT DISTINCT event_type FROM tagged) g,
    unnest(range(13)) AS t(j)
), dense AS (
  SELECT g.event_type, g.b,
    COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.b = g.b
), w AS (
  SELECT event_type, SUM(cr) AS n_ref, SUM(cc) AS n_cur
  FROM dense GROUP BY event_type
), terms AS (
  SELECT d.event_type, d.b,
    ((CAST(d.cr AS DOUBLE) + 1.0) / (CAST(w.n_ref AS DOUBLE) + 13.0)
     - (CAST(d.cc AS DOUBLE) + 1.0) / (CAST(w.n_cur AS DOUBLE) + 13.0))
    * ln(((CAST(d.cr AS DOUBLE) + 1.0)
          / (CAST(w.n_ref AS DOUBLE) + 13.0))
         / ((CAST(d.cc AS DOUBLE) + 1.0)
            / (CAST(w.n_cur AS DOUBLE) + 13.0))) AS term
  FROM dense d JOIN w USING (event_type)
)
SELECT w.event_type, CAST(w.n_ref AS BIGINT) AS n_ref,
  CAST(w.n_cur AS BIGINT) AS n_cur,
  round(list_sum(list(t.term ORDER BY t.b)), 6) AS psi
FROM w JOIN terms t USING (event_type)
GROUP BY w.event_type, w.n_ref, w.n_cur
"""

# KS two-sample: exact cross-multiplied sup-distance over the
# distinct-value CDFs; one final division
ORACLES["ks_test"] = """
WITH tagged AS (
  SELECT event_type, value AS v, 1 AS r
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_type,
    CASE WHEN event_type = 'purchase' THEN value + 40.0
         ELSE value END AS v, 0 AS r
  FROM events WHERE event_id % 2 = 1
), per_v AS (
  SELECT event_type, v, SUM(r) AS c1, SUM(1 - r) AS c2
  FROM tagged GROUP BY 1, 2
), cum AS (
  SELECT event_type,
    SUM(c1) OVER (PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
    SUM(c2) OVER (PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
  FROM per_v
), totals AS (
  SELECT event_type, SUM(c1) AS n_ref, SUM(c2) AS n_cur
  FROM per_v GROUP BY 1
)
SELECT t.event_type, CAST(t.n_ref AS BIGINT) AS n_ref,
  CAST(t.n_cur AS BIGINT) AS n_cur,
  CAST(MAX(ABS(c.cum1 * t.n_cur - c.cum2 * t.n_ref)) AS BIGINT)
    AS d_scaled,
  round(CAST(MAX(ABS(c.cum1 * t.n_cur - c.cum2 * t.n_ref)) AS DOUBLE)
    / (CAST(t.n_ref AS DOUBLE) * t.n_cur), 6) AS d
FROM cum c JOIN totals t USING (event_type)
GROUP BY t.event_type, t.n_ref, t.n_cur
"""

# streaming drift replay: the merged micro-batch state must equal
# the one-pass PSI over the same budget subset — identical pipeline
# to the drift_psi oracle with the replay-subset CTE up front
ORACLES["streaming_drift_replay"] = f"""
WITH sub AS (
  SELECT event_id, event_type, value FROM events
  ORDER BY (event_id * {C.REPLAY_SPREAD}) % 4294967296, event_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), tagged AS (
  SELECT event_type,
    LEAST(CAST(floor(value / 50.0) AS INTEGER), 12) AS b,
    1 AS is_ref
  FROM sub WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_type,
    LEAST(CAST(floor(
      (CASE WHEN event_type = 'purchase' THEN value + 40.0
            ELSE value END) / 50.0) AS INTEGER), 12) AS b,
    0 AS is_ref
  FROM sub WHERE event_id % 2 = 1
), counts AS (
  SELECT event_type, b, SUM(is_ref) AS cr, SUM(1 - is_ref) AS cc
  FROM tagged GROUP BY 1, 2
), grid AS (
  SELECT g.event_type, CAST(j AS INTEGER) AS b
  FROM (SELECT DISTINCT event_type FROM tagged) g,
    unnest(range(13)) AS t(j)
), dense AS (
  SELECT g.event_type, g.b,
    COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.b = g.b
), w AS (
  SELECT event_type, SUM(cr) AS n_ref, SUM(cc) AS n_cur
  FROM dense GROUP BY event_type
), terms AS (
  SELECT d.event_type, d.b,
    ((CAST(d.cr AS DOUBLE) + 1.0) / (CAST(w.n_ref AS DOUBLE) + 13.0)
     - (CAST(d.cc AS DOUBLE) + 1.0) / (CAST(w.n_cur AS DOUBLE) + 13.0))
    * ln(((CAST(d.cr AS DOUBLE) + 1.0)
          / (CAST(w.n_ref AS DOUBLE) + 13.0))
         / ((CAST(d.cc AS DOUBLE) + 1.0)
            / (CAST(w.n_cur AS DOUBLE) + 13.0))) AS term
  FROM dense d JOIN w USING (event_type)
)
SELECT w.event_type, CAST(w.n_ref AS BIGINT) AS n_ref,
  CAST(w.n_cur AS BIGINT) AS n_cur,
  round(list_sum(list(t.term ORDER BY t.b)), 6) AS psi
FROM w JOIN terms t USING (event_type)
GROUP BY w.event_type, w.n_ref, w.n_cur
"""

# point-in-time lookup: tier = bronze before the per-customer
# boundary month (1996-01 + custkey % 36 months), gold at/after;
# every order matches exactly one version (ranges partition time
# from 1990 onward and order dates start 1995)
ORACLES["point_in_time"] = """
SELECT o.o_orderkey,
  o.o_custkey AS custkey,
  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
  CASE WHEN o.o_orderdate <
    TIMESTAMP '1996-01-01' +
      to_months(CAST(o.o_custkey % 36 AS INTEGER))
  THEN 'bronze' ELSE 'gold' END AS tier
FROM orders o
"""

# cohort retention: first-activity-week cohorts, per-mille integer
# retention (x1000 truncating division, the recrawl_priority pattern)
ORACLES["cohort_retention"] = """
WITH acts AS (
  SELECT DISTINCT user_id,
    CAST(floor(date_diff('day', DATE '2024-01-01',
      date_trunc('day', ts)) / 7.0) AS BIGINT) AS week
  FROM events
), f AS (
  SELECT user_id, MIN(week) AS cohort FROM acts GROUP BY 1
), j AS (
  SELECT a.user_id, f.cohort, a.week - f.cohort AS k
  FROM acts a JOIN f USING (user_id)
), sizes AS (
  SELECT cohort, COUNT(DISTINCT user_id) AS cohort_users
  FROM f GROUP BY 1
), cells AS (
  SELECT cohort, k, COUNT(DISTINCT user_id) AS active_users
  FROM j GROUP BY 1, 2
)
SELECT c.cohort, c.k, CAST(c.active_users AS BIGINT) AS active_users,
  CAST(s.cohort_users AS BIGINT) AS cohort_users,
  CAST(c.active_users * 1000 // s.cohort_users AS BIGINT)
    AS retention_pm
FROM cells c JOIN sizes s USING (cohort)
"""

# CDC apply: latest change per entity wins (seq = event_id, unique),
# winning delete removes the key; op cycles I/I/U/U/D/U/U by id % 7
ORACLES["cdc_apply"] = """
WITH ch AS (
  SELECT event_id % 300 AS entity_id, event_id AS seq,
    CASE WHEN event_id % 7 = 4 THEN 'D'
         WHEN event_id % 7 <= 1 THEN 'I' ELSE 'U' END AS op,
    value AS val, event_type AS tag
  FROM events
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY entity_id ORDER BY seq DESC) AS rn,
    COUNT(*) OVER (PARTITION BY entity_id) AS n_changes,
    MAX(seq) OVER (PARTITION BY entity_id) AS last_seq
  FROM ch
)
SELECT entity_id, val, tag, last_seq, n_changes
FROM r WHERE rn = 1 AND op <> 'D'
"""

# forget audit: every 97th customer; lineage counts across the
# two-hop join (customer -> orders -> lineitem)
ORACLES["forget_audit"] = """
WITH req AS (
  SELECT c_custkey AS custkey FROM customer WHERE c_custkey % 97 = 0
), o AS (
  SELECT r.custkey, COUNT(*) AS n_orders
  FROM req r JOIN orders ON o_custkey = r.custkey
  GROUP BY 1
), l AS (
  SELECT r.custkey, COUNT(*) AS n_lineitems
  FROM req r
  JOIN orders ON o_custkey = r.custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT r.custkey, CAST(1 AS INTEGER) AS n_customer,
  COALESCE(o.n_orders, 0) AS n_orders,
  COALESCE(l.n_lineitems, 0) AS n_lineitems,
  1 + COALESCE(o.n_orders, 0) + COALESCE(l.n_lineitems, 0)
    AS total_rows
FROM req r LEFT JOIN o USING (custkey) LEFT JOIN l USING (custkey)
"""

# private release: groups < 5 suppressed; Laplace(1/0.5) noise from
# the portable seeded hash -> uniform -> inverse CDF (seed 7)
ORACLES["private_release"] = """
WITH c AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
    COUNT(*) AS n
  FROM customer GROUP BY 1, 2 HAVING COUNT(*) >= 5
), h AS (
  SELECT *, CAST(('0x' || substr(md5(
    CAST(nation AS VARCHAR) || chr(31) || segment || ':7'
  ), 1, 15)) AS BIGINT) AS hv
  FROM c
), u AS (
  SELECT *, (CAST(hv % 1048576 AS DOUBLE) + 0.5) / 1048576.0 - 0.5
    AS uu
  FROM h
)
SELECT nation, segment, CAST(n AS BIGINT) AS n,
  round(n + (-(1.0 / 0.5) * sign(uu) * ln(1.0 - 2.0 * abs(uu))), 6)
    AS noisy_n
FROM u
"""

# k-anonymity/l-diversity: quasi tuple (nation, segment, custkey%4),
# sensitive = floor(acctbal/2000) bucket, k=5
ORACLES["k_anonymity"] = """
SELECT c_nationkey AS nation, c_mktsegment AS segment,
  c_custkey % 4 AS band,
  COUNT(*) AS group_size,
  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT))
    AS l_distinct,
  CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS at_risk,
  CAST(CASE WHEN COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT)) = 1
       THEN 1 ELSE 0 END AS INTEGER) AS homogeneous
FROM customer
GROUP BY 1, 2, 3
"""

ORACLES["scd2_customers"] = """
WITH cur AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
    round(c_acctbal, 2) AS balance,
    '2023-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
  FROM customer
), closed AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
    round(c_acctbal - 50.0, 2) AS balance,
    '2022-01-01' AS valid_from, '2023-01-01' AS valid_to
  FROM customer WHERE c_custkey % 10 = 0
), upd AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
    round(c_acctbal + 100.0, 2) AS balance, '2024-06-01' AS ts
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2), '2024-06-01'
  FROM customer WHERE c_custkey % 3 = 1
  UNION ALL
  SELECT c_custkey + 100000, 'NEW', 0.0, '2024-06-01'
  FROM customer WHERE c_custkey % 500 = 0
), j AS (
  SELECT cur.custkey AS ck, cur.segment AS cs, cur.balance AS cb,
    cur.valid_from AS cvf, upd.custkey AS uk, upd.segment AS us,
    upd.balance AS ub, upd.ts AS uts,
    (cur.segment IS DISTINCT FROM upd.segment
     OR cur.balance IS DISTINCT FROM upd.balance) AS changed
  FROM cur FULL OUTER JOIN upd ON cur.custkey = upd.custkey
)
SELECT custkey, segment, balance, valid_from, valid_to FROM closed
UNION ALL
SELECT ck, cs, cb, cvf,
  CASE WHEN uts IS NOT NULL AND changed THEN uts END AS valid_to
FROM j WHERE ck IS NOT NULL
UNION ALL
SELECT uk, us, ub, uts, CAST(NULL AS VARCHAR)
FROM j WHERE uts IS NOT NULL AND (ck IS NULL OR changed)
"""

# incremental view maintenance: merged state must equal full recompute
ORACLES["incremental_corpus_stats"] = """
SELECT lang, source, count(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
"""


def _zorder_oracle() -> str:
    from trollflow2_spark.extensions.zorder import zorder_sql

    zexpr = zorder_sql(["ub", "tb"], bits=C.ZORDER_BITS)
    return f"""
WITH dims AS (
  SELECT event_id,
    CAST(user_id % 1024 AS BIGINT) AS ub,
    ((CAST(floor(epoch(CAST(ts AS TIMESTAMP)
        - TIMESTAMP '{C.ZORDER_EPOCH}') / 60) AS BIGINT)
       % (1 << {C.ZORDER_BITS})) + (1 << {C.ZORDER_BITS}))
      % (1 << {C.ZORDER_BITS}) AS tb
  FROM events
), keyed AS (
  SELECT event_id, {zexpr} AS zkey FROM dims
)
SELECT zkey >> {C.ZORDER_PREFIX_SHIFT} AS zprefix,
  count(*) AS n_events,
  min(zkey) AS zkey_min, max(zkey) AS zkey_max
FROM keyed
GROUP BY zprefix
"""


ORACLES["zorder_layout"] = _zorder_oracle()

ORACLES["customer_spend_deciles"] = """
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey AS custkey, n_name AS nation, spend,
  ntile(10) OVER (PARTITION BY n_name
                  ORDER BY spend DESC, c_custkey) AS decile
FROM spend
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""

# encoding hygiene: identical regex patterns; fixture plants one
# mojibake pair, one U+FFFD and one control byte by doc_id residue
ORACLES["encoding_quality"] = """
WITH t AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 9 = 0 THEN ' caf\u00c3\u00a9'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' bad\ufffdchar'
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END AS text
  FROM documents
), m AS (
  SELECT doc_id,
    len(regexp_extract_all(text,
        '[\u00c3\u00c2\u00e2][\u0080-\u00ff]')) AS n_mojibake,
    len(regexp_extract_all(text, '\ufffd')) AS n_replacement,
    len(regexp_extract_all(text,
        '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_control
  FROM t
)
SELECT doc_id,
  CAST(n_mojibake AS INTEGER) AS n_mojibake,
  CAST(n_replacement AS INTEGER) AS n_replacement,
  CAST(n_control AS INTEGER) AS n_control,
  CAST(CASE WHEN n_mojibake = 0 AND n_replacement = 0 AND n_control = 0
       THEN 1 ELSE 0 END AS INTEGER) AS enc_ok
FROM m
"""

# Snapshot diff: old skips %13==3, new skips %11==7 and rewrites %7==0.
# Status falls out of membership + text equality (no digests needed —
# md5 equality on both engines reduces to text equality).
ORACLES["corpus_diff"] = """
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 3
),
new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 7
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE
    WHEN o.doc_id IS NULL THEN 'added'
    WHEN n.doc_id IS NULL THEN 'removed'
    WHEN o.text = n.text THEN 'unchanged'
    ELSE 'changed'
  END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

# C4-style line dedup: 4-line docs over a 40-line vocabulary; a line
# survives only at its lowest (doc_id, pos); docs reassembled in order.
# min(doc_id*4 + pos) encodes the same lexicographic first as Spark's
# min(struct(doc_id, pos)) because pos < 4.
ORACLES["line_dedup"] = """
WITH lines AS (
  SELECT doc_id, j AS pos,
    'seg ' || CAST((doc_id * 7 + j * 13) % 40 AS VARCHAR) AS line
  FROM documents, unnest(generate_series(0, 3)) AS t(j)
),
firsts AS (
  SELECT line, min(doc_id * 4 + pos) AS first_ord FROM lines GROUP BY line
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l JOIN firsts f
    ON l.line = f.line AND l.doc_id * 4 + l.pos = f.first_ord
),
rebuilt AS (
  SELECT doc_id,
    string_agg(line, chr(10) ORDER BY pos) AS text,
    count(*) AS n_lines_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(r.text, '') AS text,
  CAST(4 AS INTEGER) AS n_lines,
  CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""

# Overlapping token-window chunks: starts 0, 15, 30, ... < n_tokens;
# DuckDB's 1-based inclusive list slice tk[s+1 : s+20] is Spark's
# slice(toks, s+1, 20).
ORACLES["chunk_documents"] = """
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\\s+'),
                t -> t <> '') AS tk
  FROM documents
),
starts AS (
  SELECT doc_id, tk,
    unnest(generate_series(0, len(tk) - 1, 15)) AS s
  FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
  CAST(s / 15 AS INTEGER) AS chunk_idx,
  CAST(len(tk[s + 1 : s + 20]) AS INTEGER) AS n_chunk_tokens,
  array_to_string(tk[s + 1 : s + 20], ' ') AS chunk_text
FROM starts
"""

# shared CTE chain ending in a `spans` relation (doc_id, span_start,
# span_end) — consumed by repeated_ngram_spans, the scrub query, and
# (parameterized over the source relation) the corpus-recipe oracle
def _repeat_span_ctes(src: str = "documents") -> str:
    return _REPEAT_SPAN_TMPL.replace("__SRC__", src)


_REPEAT_SPAN_TMPL = f"""base AS (
  SELECT doc_id, {_SHINGLES_RS} AS s, len({TOKENS_SQL("text")}) AS ntok
  FROM __SRC__
), sh AS (
  SELECT doc_id, ntok, (u).pos AS pos, md5((u).sh) AS h FROM (
    SELECT doc_id, ntok,
      unnest(list_transform(range(len(s)),
        i -> struct_pack(pos := i, sh := s[i+1]))) AS u
    FROM base
  )
), multi AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h
  ) WHERE nd >= {C.REPEAT_MIN_DOCS}
), hits AS (
  SELECT s.doc_id, s.pos, least(s.pos + {C.REPEAT_NGRAM_N - 1}, s.ntok - 1) AS e
  FROM sh s JOIN multi USING (h)
), isl AS (
  SELECT doc_id, pos, e,
    CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w + 1
         THEN 1 ELSE 0 END AS ni
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl2 AS (
  SELECT doc_id, pos, e,
    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id,
    CAST(min(pos) AS BIGINT) AS span_start,
    CAST(max(e) AS BIGINT) AS span_end
  FROM isl2 GROUP BY doc_id, island
)"""

ORACLES["repeated_ngram_spans"] = f"""
WITH {_repeat_span_ctes()}
SELECT doc_id, span_start, span_end,
  span_end - span_start + 1 AS span_tokens
FROM spans
"""

ORACLES["scrub_repeated_spans"] = f"""
WITH {_repeat_span_ctes()},
sp AS (
  SELECT doc_id,
    list(struct_pack(s := span_start, e := span_end)) AS spans
  FROM spans GROUP BY doc_id
), tk AS (
  SELECT d.doc_id, {TOKENS_SQL("d.text")} AS toks,
    coalesce(sp.spans, []) AS spans
  FROM documents d LEFT JOIN sp ON d.doc_id = sp.doc_id
), cut AS (
  SELECT doc_id, toks, spans,
    list_filter(range(len(toks)),
      i -> len(list_filter(spans,
             x -> i >= x.s AND i <= x.e)) = 0) AS kept
  FROM tk
)
SELECT doc_id,
  coalesce(array_to_string(list_transform(kept, i -> toks[i + 1]),
                           ' '), '') AS clean_text,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
  CAST(len(spans) AS BIGINT) AS n_spans
FROM cut
"""

_SHINGLES_FP = WORD_SHINGLES_SQL("text", C.FINGERPRINT_SHINGLE_WORDS)
ORACLES["doc_fingerprint"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_FP})) AS s FROM documents
), h AS (
  SELECT doc_id, {HASH64_SQL('s')} AS h FROM sh
), f AS (
  SELECT doc_id, h FROM h WHERE h % {C.FINGERPRINT_MOD} = 0
)
SELECT d.doc_id, count(f.h) AS n_fingerprints, min(f.h) AS min_fingerprint
FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
GROUP BY d.doc_id
"""

# --- similarity ------------------------------------------------------------

ORACLES["embedding_centroids"] = f"""
WITH dims AS (SELECT CAST(unnest(range({C.EMB_DIM})) AS INT) AS dim)
SELECT label,
  count(*) AS n_vectors,
  dim,
  round(avg(embedding[dim + 1]), 6) AS centroid
FROM embeddings CROSS JOIN dims
GROUP BY label, dim
"""


def _cosine_sql(e_vec: str, q_vec: str) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(len({a})), "
            f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
        )

    return (
        f"{dot(e_vec, q_vec)} / "
        f"(sqrt({dot(e_vec, e_vec)}) * sqrt({dot(q_vec, q_vec)}))"
    )


# CLIP-pair gate: caption = reversed vector on every 4th doc
# (mismatch), tiny deterministic nudge otherwise; cosine rounds to 6
# BEFORE the 0.8 gate so both engines compare identical doubles
ORACLES["pair_similarity_gate"] = f"""
WITH p AS (
  SELECT d.doc_id, d.source, e.embedding,
    CASE WHEN d.doc_id % 4 = 0 THEN
      list_transform(list_reverse(e.embedding),
                     x -> CAST(x AS DOUBLE))
    ELSE
      list_transform(range(len(e.embedding)),
        i -> CAST(e.embedding[i + 1] AS DOUBLE)
             + ((d.doc_id + i) % 7 - 3) * 0.01)
    END AS cap
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), sc AS (
  SELECT doc_id, source,
    round({_cosine_sql('embedding', 'cap')}, 6) AS pair_cos
  FROM p
)
SELECT doc_id, source, pair_cos,
  CAST(CASE WHEN pair_cos >= 0.8 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM sc
"""

ORACLES["embedding_topk"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {C.TOPK_N_QUERIES}
), sc AS (
  SELECT q.query_id, e.vec_id,
    round({_cosine_sql('e.embedding', 'q.qv')}, 6) AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
FROM sc
QUALIFY rank <= {C.TOPK_K}
"""

# truncation audit: both exact rankings replayed (full dims and the
# first TRUNC_DIM prefix), intersection counted per query
ORACLES["ann_dim_truncation_audit"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {C.TOPK_N_QUERIES}
), fsc AS (
  SELECT q.query_id, e.vec_id,
    round({_cosine_sql('e.embedding', 'q.qv')}, 6) AS s
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
), fk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id)
        AS rn
    FROM fsc
  ) WHERE rn <= {C.TOPK_K}
), et AS (
  SELECT vec_id, embedding[1:{C.TRUNC_DIM}] AS ev FROM embeddings
), qt AS (
  SELECT vec_id AS query_id, embedding[1:{C.TRUNC_DIM}] AS qv
  FROM embeddings WHERE vec_id < {C.TOPK_N_QUERIES}
), tsc AS (
  SELECT qt.query_id, e.vec_id,
    round({_cosine_sql('e.ev', 'qt.qv')}, 6) AS s
  FROM et e CROSS JOIN qt WHERE e.vec_id <> qt.query_id
), tk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id)
        AS rn
    FROM tsc
  ) WHERE rn <= {C.TOPK_K}
)
SELECT fk.query_id,
  CAST({C.TOPK_K} AS INTEGER) AS k,
  CAST(count(tk.vec_id) AS INTEGER) AS n_overlap,
  CAST(count(tk.vec_id) * 1000 / {C.TOPK_K} AS INTEGER)
    AS recall_permille
FROM fk LEFT JOIN tk
  ON fk.query_id = tk.query_id AND fk.vec_id = tk.vec_id
GROUP BY fk.query_id
"""

# int8 quantization replayed in SQL: per-vector scale = max|v|/127,
# q_i = round(v_i/scale) (both engines round half away from zero);
# cosine over the int arrays — the dequant scales cancel in cosine.
_QUANT_CTE = """
  SELECT vec_id,
    list_transform(embedding,
      x -> round(CAST(x AS DOUBLE) / (CASE WHEN m > 0 THEN m / 127.0
                                           ELSE 1.0 END))) AS qv
  FROM (
    SELECT vec_id, embedding,
      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
    FROM embeddings
  )
"""
ORACLES["embedding_topk_quantized"] = f"""
WITH qz AS ({_QUANT_CTE}),
q AS (
  SELECT vec_id AS query_id, qv AS qqv FROM qz WHERE vec_id < {C.TOPK_N_QUERIES}
), sc AS (
  SELECT q.query_id, e.vec_id,
    round({_cosine_sql('e.qv', 'q.qqv')}, 6) AS cosine_sim
  FROM qz e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
FROM sc
QUALIFY rank <= {C.TOPK_K}
"""


def _centroid_values_sql() -> str | None:
    """Centroid VALUES literals shared by the IVF and semantic-dedup
    oracles.

    The centroids are deterministic (fixed 2048-lowest-id sample, fixed
    first-k init, fixed iteration count) but data-dependent, so they are
    computed here at import time — by the SAME numpy routine the Spark
    queries use (``kmeans_centroids_np``) — from the parquet named by
    ``SPARK_GRAFT_ORACLE_SF_DIR`` (default sf0.01, the driver's gate
    scale), and embedded as full-precision DOUBLE literals.
    """
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from trollflow2_spark.extensions.similarity import kmeans_centroids_np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype="float64")
    cents = kmeans_centroids_np(X, k=C.IVF_N_CLUSTERS, n_iter=5)
    return ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(v)) for v in cents[j]))
        for j in range(len(cents))
    )


# rounded normalized-dot to a centroid literal: replicates the Spark
# queries' rounded-argmax cell assignment exactly (round(dot, 6), ties
# to the lowest cell via the ORDER BY cell ASC tiebreak)
_CENT_NDOT = (
    "round(list_sum(list_transform(range(len(e.embedding)), "
    "i -> CAST(e.embedding[i+1] AS DOUBLE) * c.cv[i+1])) / "
    "GREATEST(sqrt(list_sum(list_transform(range(len(e.embedding)), "
    "i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE)"
    "))), 1e-12), 6)"
)


def _ivf_oracle_sql() -> str | None:
    """IVF oracle with literal centroid vectors (see
    :func:`_centroid_values_sql`). Cell assignment/probing replicates
    the query's rounded-argmax exactly."""
    values = _centroid_values_sql()
    if values is None:
        return None
    ndot = _CENT_NDOT
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {ndot} AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM ed
  WHERE vec_id < {C.TOPK_N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC)
    <= {C.IVF_N_PROBE}
),
sc AS (
  SELECT p.query_id, a.vec_id,
    round({{cos}}, 6) AS cosine_sim
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
FROM sc
QUALIFY rank <= {C.ANN_K}
""".replace("{cos}", _cosine_sql("e.embedding", "q.embedding"))


def _pca_oracle_sql() -> str | None:
    """PCA oracle with literal component/mean values from the SAME
    deterministic power-iteration routine the Spark query uses
    (``pca_components_np``) on the same fixed sample."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from trollflow2_spark.extensions.similarity import pca_components_np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype="float64")
    mu, W = pca_components_np(X, n_components=C.PCA_COMPONENTS)
    proj_cols = []
    for k in range(W.shape[0]):
        wlist = "[" + ", ".join(repr(float(v)) for v in W[k]) + "]"
        proj_cols.append(
            f"round(list_sum(list_transform(range(len(embedding)), "
            f"i -> CAST(embedding[i+1] AS DOUBLE) * {wlist}[i+1])) "
            f"- {float(mu @ W[k])!r}, 6) AS pc{k}"
        )
    return "SELECT vec_id,\n  " + ",\n  ".join(proj_cols) + "\nFROM embeddings"


_pca_sql = _pca_oracle_sql()
if _pca_sql:
    ORACLES["embedding_pca"] = _pca_sql


def _pq_oracle_sqls() -> tuple[str | None, str | None, str | None]:
    """PQ oracles with codebook / lookup-table literals from the SAME
    deterministic routine the Spark queries use (``pq_codebooks_np``)
    on the same fixed sample."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None, None, None
    import duckdb
    import numpy as np

    from trollflow2_spark.extensions.similarity import pq_codebooks_np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id LIMIT 2048"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype="float64")
    books = pq_codebooks_np(X, m=C.PQ_M, k=C.PQ_K)
    m, kc, sub = books.shape

    def d2_expr(s, j):
        terms = " + ".join(
            f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
            f"{float(books[s, j, i])!r}) * "
            f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
            f"{float(books[s, j, i])!r})"
            for i in range(sub)
        )
        return f"({terms})"

    code_cols = []
    for s in range(m):
        lst = "[" + ", ".join(d2_expr(s, j) for j in range(kc)) + "]"
        code_cols.append(
            f"CAST(list_position({lst}, list_min({lst})) - 1 AS INTEGER) "
            f"AS code_{s}"
        )
    codes_sql = (
        "SELECT vec_id,\n  " + ",\n  ".join(code_cols)
        + "\nFROM embeddings"
    )

    # asymmetric-distance top-k: per-query lookup tables as literals
    selects = []
    for qid in range(C.PQ_N_QUERIES):
        qv = X[qid]
        parts = []
        for s in range(m):
            table = [
                round(
                    float(((qv[s * sub : (s + 1) * sub] - books[s, j]) ** 2
                           ).sum()),
                    10,
                )
                for j in range(kc)
            ]
            lut = "[" + ", ".join(repr(v) for v in table) + "]"
            parts.append(f"{lut}[code_{s} + 1]")
        selects.append(
            f"SELECT {qid} AS query_id, vec_id, "
            f"round({' + '.join(parts)}, 6) AS adc_dist FROM codes"
        )
    topk_sql = (
        "WITH codes AS (" + codes_sql + "),\n"
        + "adc AS (" + "\nUNION ALL\n".join(selects) + "),\n"
        + "ranked AS (SELECT query_id, vec_id, adc_dist, "
        + "row_number() OVER (PARTITION BY query_id "
        + "ORDER BY adc_dist ASC, vec_id ASC) AS rn FROM adc)\n"
        + f"SELECT query_id, vec_id, adc_dist, "
        + f"CAST(rn AS INTEGER) AS rank FROM ranked WHERE rn <= {C.PQ_TOPK}"
    )
    # two-stage serving: ADC shortlist -> full-vector exact-cosine
    # re-rank (the FAISS refine step), same cosine convention as
    # embedding_topk; self-match excluded at the rerank stage
    rerank_sql = (
        "WITH codes AS (" + codes_sql + "),\n"
        + "adc AS (" + "\nUNION ALL\n".join(selects) + "),\n"
        + "ranked AS (SELECT query_id, vec_id, adc_dist, "
        + "row_number() OVER (PARTITION BY query_id "
        + "ORDER BY adc_dist ASC, vec_id ASC) AS rn FROM adc),\n"
        + f"short AS (SELECT query_id, vec_id, adc_dist FROM ranked "
        + f"WHERE rn <= {C.PQ_SHORTLIST}),\n"
        + "q AS (SELECT vec_id AS query_id, embedding AS qv "
        + f"FROM embeddings WHERE vec_id < {C.PQ_N_QUERIES}),\n"
        + "sc AS (SELECT s.query_id, s.vec_id, s.adc_dist, "
        + f"round({_cosine_sql('e.embedding', 'q.qv')}, 6) AS cosine_sim\n"
        + "  FROM short s JOIN embeddings e USING (vec_id) "
        + "JOIN q ON q.query_id = s.query_id "
        + "WHERE s.vec_id <> s.query_id)\n"
        + "SELECT query_id, vec_id, adc_dist, cosine_sim, "
        + "CAST(row_number() OVER (PARTITION BY query_id "
        + "ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank "
        + f"FROM sc QUALIFY rank <= {C.PQ_TOPK}"
    )
    return codes_sql, topk_sql, rerank_sql


_pq_codes_sql, _pq_topk_sql, _pq_rerank_sql = _pq_oracle_sqls()
if _pq_codes_sql:
    ORACLES["embedding_pq_codes"] = _pq_codes_sql
    ORACLES["embedding_pq_topk"] = _pq_topk_sql
    ORACLES["embedding_pq_rerank"] = _pq_rerank_sql


_ivf_sql = _ivf_oracle_sql()
if _ivf_sql is not None:
    ORACLES["embedding_ivf"] = _ivf_sql


def _ivf_drift_oracle_sql() -> str | None:
    """Incremental-IVF drift oracle: rounded-argmax assignment from
    the shared centroid literals (frozen index), per-cell populations
    split on the increment predicate, and means recomputed from the
    SAME integer micro-unit sums as the Spark side (sum of
    round(sim*1e6) as BIGINT, mean = ratio of exact integers)."""
    values = _centroid_values_sql()
    if values is None:
        return None
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {_CENT_NDOT} AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell, d FROM ed
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
lab AS (
  SELECT cell,
    CAST(round(d * 1000000) AS BIGINT) AS micro,
    (vec_id % 10 = 0) AS isnew
  FROM assign
),
agg AS (
  SELECT cell,
    CAST(sum(CASE WHEN NOT isnew THEN 1 ELSE 0 END) AS BIGINT)
      AS n_base,
    CAST(sum(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
    CAST(sum(CASE WHEN NOT isnew THEN micro ELSE 0 END) AS BIGINT)
      AS mb,
    CAST(sum(CASE WHEN isnew THEN micro ELSE 0 END) AS BIGINT) AS mn
  FROM lab GROUP BY cell
)
SELECT cell, n_base, n_new,
  CASE WHEN n_base > 0
    THEN round(CAST(mb AS DOUBLE) / n_base / 1000000, 6) END
    AS mean_sim_base,
  CASE WHEN n_new > 0
    THEN round(CAST(mn AS DOUBLE) / n_new / 1000000, 6) END
    AS mean_sim_new,
  CASE WHEN n_base > 0 AND n_new > 0
    THEN round(round(CAST(mb AS DOUBLE) / n_base / 1000000, 6)
             - round(CAST(mn AS DOUBLE) / n_new / 1000000, 6), 6) END
    AS sim_drift,
  round(CAST(n_new AS DOUBLE) / GREATEST(n_base, 1), 6) AS growth
FROM agg
"""


_ivf_drift_sql = _ivf_drift_oracle_sql()
if _ivf_drift_sql is not None:
    ORACLES["incremental_ivf_drift"] = _ivf_drift_sql


def _semantic_contam_oracle_sql() -> str | None:
    """Semantic-contamination oracle: the held/corpus split (with the
    planted verbatim leaks re-injected at shifted ids), cell
    assignment from the shared centroid literals, and the same-cell
    cosine rollup — all replayed from scratch."""
    values = _centroid_values_sql()
    if values is None:
        return None
    cos = _cosine_sql("cc.embedding", "hh.embedding")
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
held AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  UNION ALL
  SELECT vec_id + {C.CONTAM_PLANT_ID_SHIFT}, embedding FROM held
  WHERE ((vec_id - {C.CONTAM_RESIDUE}) // {C.CONTAM_MOD})
        % {C.CONTAM_PLANT_MOD} = 0
),
hd AS (
  SELECT e.vec_id, e.embedding, c.cell, {_CENT_NDOT} AS d
  FROM held e CROSS JOIN cents c
),
hassign AS (
  SELECT vec_id, embedding, cell FROM hd
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY d DESC, cell ASC) <= 3
),
cd AS (
  SELECT e.vec_id, e.embedding, c.cell, {_CENT_NDOT} AS d
  FROM corpus e CROSS JOIN cents c
),
cassign AS (
  SELECT vec_id, embedding, cell FROM cd
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
pairs AS (
  SELECT hh.vec_id, round({cos}, 6) AS sim
  FROM cassign cc JOIN hassign hh ON cc.cell = hh.cell
)
SELECT vec_id,
  CAST(count(*) AS BIGINT) AS n_candidates,
  CAST(sum(CASE WHEN sim >= {C.SEMCONTAM_THRESHOLD} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_contaminated,
  max(sim) AS max_sim
FROM pairs GROUP BY vec_id
"""


_semcontam_sql = _semantic_contam_oracle_sql()
if _semcontam_sql is not None:
    ORACLES["contamination_semantic"] = _semcontam_sql


def _bpe_oracle_sql() -> str | None:
    """Subword-tokenizer oracle: the vocabulary literals come from the
    SAME training routine the Spark query uses (lowest-id sample, BPE
    merges, lexicographic tie-break), and the greedy longest-match
    encode is replayed as a per-character recursive CTE — each step
    strips the longest vocab prefix (scalar correlated subquery over
    the vocab VALUES, longest-then-lexicographic order) or emits the
    <unk> token and advances one character."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from trollflow2_spark.extensions.tokenizer import (
        normalize_for_bpe,
        train_bpe_vocab,
    )

    rows = duckdb.sql(
        f"SELECT text FROM '{path}' ORDER BY doc_id LIMIT {C.BPE_SAMPLE_N}"
    ).fetchall()
    words: list = []
    for (t,) in rows:
        words.extend(normalize_for_bpe(t or ""))
    vocab = train_bpe_vocab(words, n_merges=C.BPE_MERGES)
    values = ",".join("('{}')".format(v.replace("'", "''")) for v in vocab)
    unk = C.BPE_UNK
    body = _bpe_cte_body(values, unk)
    return f"""
WITH RECURSIVE {body}
SELECT doc_id, tokens_str,
  CAST(len(string_split(tokens_str, ' ')) AS INTEGER) AS n_tokens,
  CAST((length(tokens_str) -
        length(replace(tokens_str, '{unk}', ''))) / {len(unk)}
       AS INTEGER) AS n_unk
FROM agg
"""


def _bpe_cte_body(values: str, unk: str) -> str:
    """The vocab->words->greedy-step->agg CTE chain, reusable by every
    oracle that consumes the BPE token stream (tokenize, packing)."""
    return f"""vocab(tok) AS (
  SELECT * FROM (VALUES {values}) v(t)
),
norm AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g') AS t
  FROM documents WHERE doc_id % {C.BPE_DOC_MOD} = 0
),
words AS (
  SELECT doc_id, (u).pos AS wpos,
    substring((u).w, 1, {C.BPE_WORD_MAX}) AS word
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(len(ws)),
        i -> struct_pack(pos := i, w := ws[i+1]))) AS u
    FROM (
      SELECT doc_id,
        list_filter(string_split(t, ' '), x -> x <> '') AS ws
      FROM norm
    )
  )
),
step (doc_id, wpos, rest, toks) AS (
  SELECT doc_id, wpos, word, '' FROM words
  UNION ALL
  SELECT doc_id, wpos,
    CASE WHEN best IS NULL THEN substring(rest, 2)
         ELSE substring(rest, length(best) + 1) END,
    toks || CASE WHEN toks = '' THEN '' ELSE ' ' END
         || coalesce(best, '{unk}')
  FROM (
    SELECT s.doc_id, s.wpos, s.rest, s.toks,
      (SELECT v.tok FROM vocab v
       WHERE starts_with(s.rest, v.tok)
       ORDER BY length(v.tok) DESC, v.tok LIMIT 1) AS best
    FROM step s WHERE s.rest <> ''
  )
),
done AS (
  SELECT doc_id, wpos, toks FROM step WHERE rest = ''
),
agg AS (
  SELECT doc_id, string_agg(toks, ' ' ORDER BY wpos) AS tokens_str
  FROM done GROUP BY doc_id
)"""


_bpe_sql = _bpe_oracle_sql()
if _bpe_sql is not None:
    ORACLES["bpe_tokenize"] = _bpe_sql


def _bpe_pack_oracle_sql() -> str | None:
    """Packing by REAL tokenizer counts: the BPE CTE chain supplies
    n_tokens, then the standard shard/cumsum/bin replay."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from trollflow2_spark.extensions.tokenizer import (
        normalize_for_bpe,
        train_bpe_vocab,
    )

    rows = duckdb.sql(
        f"SELECT text FROM '{path}' ORDER BY doc_id LIMIT {C.BPE_SAMPLE_N}"
    ).fetchall()
    words: list = []
    for (t,) in rows:
        words.extend(normalize_for_bpe(t or ""))
    vocab = train_bpe_vocab(words, n_merges=C.BPE_MERGES)
    values = ",".join("('{}')".format(v.replace("'", "''")) for v in vocab)
    body = _bpe_cte_body(values, C.BPE_UNK)
    return f"""
WITH RECURSIVE {body},
d AS (
  SELECT doc_id,
    CAST(len(string_split(tokens_str, ' ')) AS BIGINT) AS n_tokens,
    CAST(({HASH64_SQL('CAST(doc_id AS VARCHAR)', C.PACK_SEED)}
      % {C.PACK_SHARDS}) AS INT) AS shard
  FROM agg
),
c AS (
  SELECT doc_id, n_tokens, shard,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
    ) AS cum_tokens
  FROM d
)
SELECT doc_id, n_tokens, shard,
  CAST(floor((cum_tokens - n_tokens) / {float(C.PACK_BUDGET)}) AS INT) AS bin,
  cum_tokens
FROM c
"""


_bpe_pack_sql = _bpe_pack_oracle_sql()
if _bpe_pack_sql is not None:
    ORACLES["pack_sequences_bpe"] = _bpe_pack_sql


def _bpe_train_oracle_sql(n_merges: int = C.BPE_DIST_MERGES) -> str:
    """Distributed-BPE-training oracle: unlike ``bpe_tokenize`` (which
    embeds a Python-trained vocab as literals), this replays the WHOLE
    training loop in SQL — per iteration: adjacent-pair counts over
    the current symbol arrays, the (count desc, pair asc) argmax, and
    the greedy left-to-right non-overlapping merge rewrite. The
    rewrite uses the island-parity identity: candidate positions at
    consecutive indices form islands (idx minus rank), and the greedy
    scan merges exactly the odd-ranked candidate of each island — so
    a window function reproduces the sequential loop. SUMs are cast
    to BIGINT (DuckDB HUGEINT vs Spark long)."""
    its = []
    for i in range(1, int(n_merges) + 1):
        its.append(f"""
pos{i} AS MATERIALIZED (
  SELECT word, freq,
    unnest(range(1, len(syms) + 1)) AS idx,
    unnest(syms) AS sym
  FROM s{i - 1}
),
pairs{i} AS MATERIALIZED (
  SELECT p1.sym AS a, p2.sym AS b, CAST(sum(p1.freq) AS BIGINT) AS cnt
  FROM pos{i} p1
  JOIN pos{i} p2 ON p1.word = p2.word AND p2.idx = p1.idx + 1
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT a, b, a || b AS ab, cnt FROM pairs{i}
  ORDER BY cnt DESC, a, b LIMIT 1
),
cand{i} AS MATERIALIZED (
  SELECT p1.word, p1.idx
  FROM pos{i} p1
  JOIN pos{i} p2 ON p1.word = p2.word AND p2.idx = p1.idx + 1
  JOIN best{i} bb ON p1.sym = bb.a AND p2.sym = bb.b
),
mrg{i} AS MATERIALIZED (
  SELECT word, idx FROM (
    SELECT word, idx,
      row_number() OVER (PARTITION BY word, grp ORDER BY idx) AS k
    FROM (
      SELECT word, idx,
        idx - row_number() OVER (PARTITION BY word ORDER BY idx) AS grp
      FROM cand{i}
    )
  ) WHERE k % 2 = 1
),
s{i} AS MATERIALIZED (
  SELECT q.word, q.freq, list(q.sym ORDER BY q.idx) AS syms
  FROM (
    SELECT p.word, p.freq, p.idx,
      CASE WHEN m.idx IS NOT NULL THEN (SELECT ab FROM best{i})
           ELSE p.sym END AS sym
    FROM pos{i} p
    LEFT JOIN mrg{i} m ON m.word = p.word AND m.idx = p.idx
    LEFT JOIN mrg{i} m2 ON m2.word = p.word AND m2.idx = p.idx - 1
    WHERE m2.idx IS NULL
  ) q
  GROUP BY q.word, q.freq
)""")
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT ab AS token, 'merge' AS kind,"
        f" CAST({i} AS BIGINT) AS merge_rank,"
        f" a AS pair_a, b AS pair_b, cnt FROM best{i}"
        for i in range(1, int(n_merges) + 1)
    )
    return f"""
WITH norm AS MATERIALIZED (
  SELECT regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g') AS t
  FROM documents
),
words AS MATERIALIZED (
  SELECT substring(w, 1, {C.BPE_WORD_MAX}) AS word
  FROM (
    SELECT unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS w
    FROM norm
  )
),
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, freq,
    list_transform(range(length(word)),
                   i -> substring(word, i + 1, 1)) AS syms
  FROM wf
),{",".join(its)}
SELECT sym AS token, 'char' AS kind, CAST(0 AS BIGINT) AS merge_rank,
       '' AS pair_a, '' AS pair_b, CAST(0 AS BIGINT) AS cnt
FROM (SELECT DISTINCT sym FROM pos1)
UNION ALL
{merge_rows}
"""


ORACLES["bpe_train"] = _bpe_train_oracle_sql()


def _wordpiece_train_oracle_sql(n_merges: int = C.BPE_DIST_MERGES) -> str:
    """WordPiece-training oracle: the ``bpe_train`` unrolled replay
    with the likelihood argmax — per iteration the symbol-frequency
    table joins the pair counts and the winner maximizes the
    fixed-point BIGINT score ``cnt(ab) * SCALE // (cnt(a) * cnt(b))``
    (truncating integer division on both engines; positive operands,
    so DuckDB's floor ``//`` equals Spark's truncating ``DIV``), ties
    broken lexicographically."""
    scale = 10**9  # WORDPIECE_SCORE_SCALE
    its = []
    for i in range(1, int(n_merges) + 1):
        its.append(f"""
pos{i} AS MATERIALIZED (
  SELECT word, freq,
    unnest(range(1, len(syms) + 1)) AS idx,
    unnest(syms) AS sym
  FROM s{i - 1}
),
symcnt{i} AS MATERIALIZED (
  SELECT sym, CAST(sum(freq) AS BIGINT) AS c FROM pos{i} GROUP BY sym
),
pairs{i} AS MATERIALIZED (
  SELECT p1.sym AS a, p2.sym AS b, CAST(sum(p1.freq) AS BIGINT) AS cnt
  FROM pos{i} p1
  JOIN pos{i} p2 ON p1.word = p2.word AND p2.idx = p1.idx + 1
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT a, b, a || b AS ab, cnt,
    CAST((cnt * {scale}) // (ca.c * cb.c) AS BIGINT) AS score
  FROM pairs{i} p
  JOIN symcnt{i} ca ON ca.sym = p.a
  JOIN symcnt{i} cb ON cb.sym = p.b
  ORDER BY score DESC, a, b LIMIT 1
),
cand{i} AS MATERIALIZED (
  SELECT p1.word, p1.idx
  FROM pos{i} p1
  JOIN pos{i} p2 ON p1.word = p2.word AND p2.idx = p1.idx + 1
  JOIN best{i} bb ON p1.sym = bb.a AND p2.sym = bb.b
),
mrg{i} AS MATERIALIZED (
  SELECT word, idx FROM (
    SELECT word, idx,
      row_number() OVER (PARTITION BY word, grp ORDER BY idx) AS k
    FROM (
      SELECT word, idx,
        idx - row_number() OVER (PARTITION BY word ORDER BY idx) AS grp
      FROM cand{i}
    )
  ) WHERE k % 2 = 1
),
s{i} AS MATERIALIZED (
  SELECT q.word, q.freq, list(q.sym ORDER BY q.idx) AS syms
  FROM (
    SELECT p.word, p.freq, p.idx,
      CASE WHEN m.idx IS NOT NULL THEN (SELECT ab FROM best{i})
           ELSE p.sym END AS sym
    FROM pos{i} p
    LEFT JOIN mrg{i} m ON m.word = p.word AND m.idx = p.idx
    LEFT JOIN mrg{i} m2 ON m2.word = p.word AND m2.idx = p.idx - 1
    WHERE m2.idx IS NULL
  ) q
  GROUP BY q.word, q.freq
)""")
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT ab AS token, 'merge' AS kind,"
        f" CAST({i} AS BIGINT) AS merge_rank,"
        f" a AS pair_a, b AS pair_b, cnt, score FROM best{i}"
        for i in range(1, int(n_merges) + 1)
    )
    return f"""
WITH norm AS MATERIALIZED (
  SELECT regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g') AS t
  FROM documents
),
words AS MATERIALIZED (
  SELECT substring(w, 1, {C.BPE_WORD_MAX}) AS word
  FROM (
    SELECT unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS w
    FROM norm
  )
),
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, freq,
    list_transform(range(length(word)),
                   i -> substring(word, i + 1, 1)) AS syms
  FROM wf
),{",".join(its)}
SELECT sym AS token, 'char' AS kind, CAST(0 AS BIGINT) AS merge_rank,
       '' AS pair_a, '' AS pair_b, CAST(0 AS BIGINT) AS cnt,
       CAST(0 AS BIGINT) AS score
FROM (SELECT DISTINCT sym FROM pos1)
UNION ALL
{merge_rows}
"""


ORACLES["wordpiece_train"] = _wordpiece_train_oracle_sql()


# --- byte-level BPE (GPT-2 byte fallback) -----------------------------------

_BPE_BYTES_SUFFIX_SQL = "text || ' Café №' || (doc_id % 3) || ' 日本語'"


def _byte_symbol_values() -> str:
    """The 256-row (hex byte, symbol) VALUES literal both byte-level
    oracles join through — symbols escaped for DuckDB ('' doubling;
    DuckDB literals are backslash-free, so that is the whole escape
    surface)."""
    from trollflow2_spark.extensions.tokenizer import BYTE_SYMBOLS

    return ",".join(
        "('{:02X}','{}')".format(b, sym.replace("'", "''"))
        for b, sym in enumerate(BYTE_SYMBOLS)
    )


def _bpe_bytes_words_sql(where: str) -> str:
    """CTE chain turning the non-ASCII fixture text into byte-symbol
    words (doc_id, wpos, word): ASCII-whitespace collapse, split,
    character truncation, then hex(encode(word)) pairs joined through
    the byte-symbol map — the SQL replay of
    ``normalize_for_bpe_bytes``."""
    return f"""bytemap(h, sym) AS MATERIALIZED (
  SELECT * FROM (VALUES {_byte_symbol_values()}) b(h, sym)
),
bnorm AS MATERIALIZED (
  SELECT doc_id,
    regexp_replace({_BPE_BYTES_SUFFIX_SQL},
                   '[ \t\n\r\f\x0B]+', ' ', 'g') AS t
  FROM documents {where}
),
bwords0 AS MATERIALIZED (
  SELECT doc_id, (u).pos AS wpos,
    substring((u).w, 1, {C.BPE_WORD_MAX}) AS rawword
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(len(ws)),
        i -> struct_pack(pos := i, w := ws[i+1]))) AS u
    FROM (
      SELECT doc_id,
        list_filter(string_split(t, ' '), x -> x <> '') AS ws
      FROM bnorm
    )
  )
),
bwords AS MATERIALIZED (
  SELECT doc_id, wpos, string_agg(sym, '' ORDER BY i) AS word
  FROM (
    SELECT doc_id, wpos, hx, unnest(range(length(hx) // 2)) AS i
    FROM (SELECT doc_id, wpos, hex(encode(rawword)) AS hx FROM bwords0)
  ) q JOIN bytemap ON h = substring(hx, i * 2 + 1, 2)
  GROUP BY doc_id, wpos
)"""


def _bpe_bytes_oracle_sql() -> str | None:
    """bpe_tokenize_bytes: vocab from the SHARED byte-level training
    routine (full-alphabet-seeded) as literals; normalization and the
    greedy longest-match replayed in SQL over the same fixture."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from trollflow2_spark.extensions.tokenizer import (
        BYTE_SYMBOLS,
        normalize_for_bpe_bytes,
        train_bpe_vocab,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{path}' ORDER BY doc_id"
        f" LIMIT {C.BPE_SAMPLE_N}"
    ).fetchall()
    words: list = []
    for did, t in rows:
        fixture = (t or "") + f" Café №{did % 3} 日本語"
        words.extend(normalize_for_bpe_bytes(fixture))
    vocab = sorted(
        set(train_bpe_vocab(words, n_merges=C.BPE_MERGES))
        | set(BYTE_SYMBOLS)
    )
    values = ",".join(
        "('{}')".format(v.replace("'", "''")) for v in vocab
    )
    unk = C.BPE_UNK
    words_chain = _bpe_bytes_words_sql(
        f"WHERE doc_id % {C.BPE_DOC_MOD} = 0"
    )
    return f"""
WITH RECURSIVE vocab(tok) AS (
  SELECT * FROM (VALUES {values}) v(t)
),
{words_chain},
step (doc_id, wpos, rest, toks) AS (
  SELECT doc_id, wpos, word, '' FROM bwords
  UNION ALL
  SELECT doc_id, wpos,
    CASE WHEN best IS NULL THEN substring(rest, 2)
         ELSE substring(rest, length(best) + 1) END,
    toks || CASE WHEN toks = '' THEN '' ELSE ' ' END
         || coalesce(best, '{unk}')
  FROM (
    SELECT s.doc_id, s.wpos, s.rest, s.toks,
      (SELECT v.tok FROM vocab v
       WHERE starts_with(s.rest, v.tok)
       ORDER BY length(v.tok) DESC, v.tok LIMIT 1) AS best
    FROM step s WHERE s.rest <> ''
  )
),
done AS (
  SELECT doc_id, wpos, toks FROM step WHERE rest = ''
),
agg AS (
  SELECT doc_id, string_agg(toks, ' ' ORDER BY wpos) AS tokens_str
  FROM done GROUP BY doc_id
)
SELECT doc_id, tokens_str,
  CAST(len(string_split(tokens_str, ' ')) AS INTEGER) AS n_tokens,
  CAST((length(tokens_str) -
        length(replace(tokens_str, '{unk}', ''))) / {len(unk)}
       AS INTEGER) AS n_unk
FROM agg
"""


_bpe_bytes_sql = _bpe_bytes_oracle_sql()
if _bpe_bytes_sql is not None:
    ORACLES["bpe_tokenize_bytes"] = _bpe_bytes_sql


def _bpe_train_bytes_oracle_sql(
    n_merges: int = C.BPE_DIST_MERGES,
) -> str:
    """bpe_train_bytes: the identical unrolled-iteration replay as
    ``bpe_train`` (island-parity greedy rewrite, no Python-trained
    literals) over BYTE-SYMBOL words from the non-ASCII fixture."""
    base = _bpe_train_oracle_sql(n_merges)
    # swap the [a-z0-9] prelude (norm/words CTEs) for the byte chain,
    # keeping wf/s0 and every iteration verbatim
    head, _, tail = base.partition("wf AS MATERIALIZED (")
    assert tail, "bpe_train oracle shape changed"
    byte_words = _bpe_bytes_words_sql("")
    return f"""
WITH {byte_words},
words AS MATERIALIZED (
  SELECT word FROM bwords
),
wf AS MATERIALIZED ({tail}"""


ORACLES["bpe_train_bytes"] = _bpe_train_bytes_oracle_sql()


def _semantic_dedup_oracle_sql() -> str | None:
    """Semantic-dedup oracle: the same centroid literals and rounded-
    argmax assignment as the IVF oracle, within-cell cosine edges at
    ``SEMDEDUP_THRESHOLD``, then the connected-components closure as a
    recursive CTE (least reachable id = cluster id), singletons
    self-clustered via the left join — the exact replay of
    ``semantic_dedup_clusters``."""
    values = _centroid_values_sql()
    if values is None:
        return None
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH RECURSIVE cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {_CENT_NDOT} AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
pr AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM assign x
  JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
  WHERE round({cos}, 6) >= {C.SEMDEDUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b AS src, id_a AS dst FROM pr
),
reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
),
labels AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
clustered AS (
  SELECT v.vec_id, coalesce(l.cluster_id, v.vec_id) AS cluster_id
  FROM embeddings v LEFT JOIN labels l USING (vec_id)
)
SELECT vec_id, cluster_id,
  CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS is_canonical,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM clustered
"""


_semdedup_sql = _semantic_dedup_oracle_sql()
if _semdedup_sql is not None:
    ORACLES["semantic_dedup"] = _semdedup_sql


def _cluster_stats_oracle_sql() -> str | None:
    """Per-cell profile oracle: same centroid literals + rounded-argmax
    assignment; the per-vector cosine IS the winning rounded dot (unit
    centroids), so the stats replay exactly."""
    values = _centroid_values_sql()
    if values is None:
        return None
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {_CENT_NDOT} AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell, d FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
agg AS (
  SELECT cell, count(*) AS n_vectors,
    round(avg(d), 6) AS mean_cos,
    round(min(d), 6) AS min_cos
  FROM assign GROUP BY cell
)
SELECT cell, n_vectors, mean_cos, min_cos,
  round(CAST(n_vectors AS DOUBLE) / sum(n_vectors) OVER (), 6) AS share
FROM agg
"""


_cstats_sql = _cluster_stats_oracle_sql()
if _cstats_sql is not None:
    ORACLES["embedding_cluster_stats"] = _cstats_sql


def _cell_guard_stats_oracle_sql() -> str | None:
    """Guard-stats oracle: same centroid literals + rounded-argmax
    assignment, then the closed-form salt/cap pair accounting replayed
    over the per-cell sizes (kept pairs of a salted cell =
    floor(n/t) full t-sub-buckets plus the remainder chunk)."""
    values = _centroid_values_sql()
    if values is None:
        return None
    t = C.SEMDEDUP_GUARD_T
    mx = C.SEMDEDUP_GUARD_MAX
    full_chunk = t * (t - 1) / 2
    return f"""
WITH cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {_CENT_NDOT} AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
sizes AS (
  SELECT cell, count(*) AS n FROM assign GROUP BY cell HAVING count(*) >= 2
)
SELECT
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(sum(CASE WHEN n > {t} AND n <= {mx} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_salted,
  CAST(sum(CASE WHEN n > {mx} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  max(n) AS max_cell_size,
  round(
    sum(CASE
      WHEN n > {mx} THEN n * (n - 1) / 2.0
      WHEN n > {t} THEN n * (n - 1) / 2.0
        - (floor(n / {t}.0) * {full_chunk}
           + (n % {t}) * ((n % {t}) - 1) / 2.0)
      ELSE 0 END)
    / sum(n * (n - 1) / 2.0), 6) AS pairs_skipped_share
FROM sizes
"""


_cguard_sql = _cell_guard_stats_oracle_sql()
if _cguard_sql is not None:
    ORACLES["semantic_cell_guard_stats"] = _cguard_sql


def _semskew_fixture_parts() -> tuple[str, str] | None:
    """(fixture CTE SQL, centroid VALUES literals) for the hot-cell
    stress pair: the DuckDB replay of ``_hot_cell_embeddings`` (odd
    replicas overwritten with the float32 hot direction) and the
    k-means centroids retrained on that fixture — the same
    lowest-2048-id sample / numpy routine the Spark queries use."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from trollflow2_spark.extensions.similarity import kmeans_centroids_np

    rep = C.SEMSKEW_REPLICATE
    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id LIMIT {4096 // rep}"
    ).fetchall()
    sample = []
    for orig_id, (vec,) in enumerate(rows):
        for r in range(rep):
            nid = orig_id * rep + r
            if r % 2 == 1:
                hot = np.zeros(C.EMB_DIM, dtype="float32")
                hot[0] = 1.0
                hot[1] = np.float32((nid % C.SEMSKEW_MOD) / 10000.0)
                sample.append(hot)
            else:
                sample.append(np.asarray(vec, dtype="float32"))
    X = np.stack(sample[:2048]).astype("float64")
    cents = kmeans_centroids_np(X, k=C.IVF_N_CLUSTERS, n_iter=5)
    values = ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(v)) for v in cents[j]))
        for j in range(len(cents))
    )
    zeros = ", ".join(["CAST(0.0 AS FLOAT)"] * (C.EMB_DIM - 2))
    fixture = f"""
fix AS (
  SELECT e.vec_id * {rep} + r.r AS vec_id,
    CASE WHEN r.r % 2 = 1 THEN
      [CAST(1.0 AS FLOAT),
       CAST(((e.vec_id * {rep} + r.r) % {C.SEMSKEW_MOD}) / 10000.0 AS FLOAT),
       {zeros}]
    ELSE e.embedding END AS embedding
  FROM embeddings e
  CROSS JOIN (SELECT unnest(range({rep})) AS r) r
)"""
    return fixture, values


def _semskew_pairs_oracle_sql(salted: bool) -> str | None:
    """Hot-cell stress pair oracle: fixture + retrained centroid
    literals + rounded-argmax assignment, then within-cell pairs —
    either the full cross-product (plain) or the deterministic
    sorted-id chunking of the salted path (row_number/chunk-id join:
    cells at or under the threshold fall in one chunk, i.e. the direct
    path, so one formula replays both branches)."""
    parts = _semskew_fixture_parts()
    if parts is None:
        return None
    fixture, values = parts
    cos = _cosine_sql("a.embedding", "b.embedding")
    ndot = _CENT_NDOT.replace("e.embedding", "f.embedding")
    chunk_expr = (
        "CAST(floor((row_number() OVER (PARTITION BY cell ORDER BY vec_id)"
        " - 1) / 256) AS BIGINT)"
        if salted
        else "CAST(0 AS BIGINT)"
    )
    return f"""
WITH {fixture},
cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT f.vec_id, c.cell, {ndot} AS d
  FROM fix f CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
chunked AS (
  SELECT vec_id, cell, {chunk_expr} AS chunk FROM assign
)
SELECT x.vec_id AS id_a, y.vec_id AS id_b
FROM chunked x
JOIN chunked y ON x.cell = y.cell AND x.chunk = y.chunk
  AND x.vec_id < y.vec_id
JOIN fix a ON a.vec_id = x.vec_id
JOIN fix b ON b.vec_id = y.vec_id
WHERE round({cos}, 6) >= {C.SEMSKEW_THRESHOLD}
"""


_semskew_plain_sql = _semskew_pairs_oracle_sql(salted=False)
if _semskew_plain_sql is not None:
    ORACLES["semantic_cells_plain"] = _semskew_plain_sql
_semskew_salted_sql = _semskew_pairs_oracle_sql(salted=True)
if _semskew_salted_sql is not None:
    ORACLES["semantic_cells_guarded"] = _semskew_salted_sql


def _ivf_quantized_oracle_sql() -> str | None:
    """Quantized-IVF oracle: the SAME full-precision centroid literals
    as ``embedding_ivf``, but assignment/probing/scoring replayed over
    the int8-quantized vectors (the SQL quantization CTE, scales
    cancelling in cosine exactly as on the Spark side)."""
    values = _centroid_values_sql()
    if values is None:
        return None
    # _CENT_NDOT/_cosine_sql address e.embedding — expose qv under that
    # name via a wrapper CTE
    return f"""
WITH qz0 AS ({_QUANT_CTE}),
qz AS (
  SELECT vec_id, qv AS embedding FROM qz0
),
cents AS (
  SELECT * FROM (VALUES
  {values}
  ) AS c(cell, cv)
),
ed AS (
  SELECT e.vec_id, c.cell, {_CENT_NDOT} AS d
  FROM qz e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM ed
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM ed
  WHERE vec_id < {C.TOPK_N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC)
    <= {C.IVF_N_PROBE}
),
sc AS (
  SELECT p.query_id, a.vec_id,
    round({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS cosine_sim
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN qz e ON e.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
FROM sc
QUALIFY rank <= {C.ANN_K}
"""


_ivfq_sql = _ivf_quantized_oracle_sql()
if _ivfq_sql is not None:
    ORACLES["embedding_ivf_quantized"] = _ivfq_sql


_CELL = " + ".join(
    f"(CASE WHEN CAST(embedding[{i+1}] AS DOUBLE) >= 0 THEN {2**i} ELSE 0 END)"
    for i in range(C.ANN_BITS)
)
ORACLES["embedding_ann"] = f"""
WITH b AS (
  SELECT vec_id, embedding, {_CELL} AS cell FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM b
  WHERE vec_id < {C.TOPK_N_QUERIES}
), sc AS (
  SELECT q.query_id, b.vec_id,
    round({_cosine_sql('b.embedding', 'q.qv')}, 6) AS cosine_sim
  FROM b JOIN q ON b.cell = q.cell
  WHERE b.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
FROM sc
QUALIFY rank <= {C.ANN_K}
"""

# --- text analysis ---------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
_NTOK = f"len({_TOKS})"
_NCHARS = "length(text)"
_STOPHITS = f"len(list_filter({_TOKS}, x -> lower(x) IN ({_STOP_LIST})))"
_NALPHA = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
_MEANTOK = f"CASE WHEN {_NTOK} > 0 THEN CAST({_NCHARS} AS DOUBLE) / {_NTOK} ELSE 0.0 END"
_STOPRATIO = f"CASE WHEN {_NTOK} > 0 THEN CAST({_STOPHITS} AS DOUBLE) / {_NTOK} ELSE 0.0 END"
_ALPHARATIO = f"CASE WHEN {_NCHARS} > 0 THEN CAST({_NALPHA} AS DOUBLE) / {_NCHARS} ELSE 0.0 END"
_LENSCORE = f"least(CAST({_NTOK} AS DOUBLE) / 20.0, 1.0)"
# token array / counts computed once per row (CTE), not re-split per metric
_C_NTOK = "len(toks)"
_C_STOPHITS = f"len(list_filter(toks, x -> lower(x) IN ({_STOP_LIST})))"
_C_MEANTOK = f"CASE WHEN {_C_NTOK} > 0 THEN CAST({_NCHARS} AS DOUBLE) / {_C_NTOK} ELSE 0.0 END"
_C_STOPRATIO = f"CASE WHEN {_C_NTOK} > 0 THEN CAST({_C_STOPHITS} AS DOUBLE) / {_C_NTOK} ELSE 0.0 END"
_C_LENSCORE = f"least(CAST({_C_NTOK} AS DOUBLE) / 20.0, 1.0)"
ORACLES["text_quality"] = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id,
    {_C_NTOK} AS n_tok, {_C_MEANTOK} AS mean_tok,
    {_C_STOPRATIO} AS stop_ratio, {_ALPHARATIO} AS alpha_ratio,
    {_C_LENSCORE} AS len_score
  FROM t
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  round(mean_tok, 6) AS mean_token_len,
  round(stop_ratio, 6) AS stopword_ratio,
  round(alpha_ratio, 6) AS alpha_ratio,
  round(len_score * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.2
        + alpha_ratio * 0.4, 6) AS quality_score
FROM m
"""


ORACLES["tfidf_top_terms"] = f"""
WITH tok AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, tfidf,
    CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS term_rank
  FROM scored
)
SELECT doc_id, term, tf, tfidf, term_rank FROM ranked
WHERE term_rank <= {C.TFIDF_TOP_N}
"""

# unigram LM quality score: the model (top-k vocab + OOV mass) and the
# per-doc mean logprob are fully replayable in SQL; top-k ties break on
# the token string in both engines, and the score rounds to 6 so
# cross-engine float-summation-order noise (~1e-13) cannot flip a hash.
ORACLES["unigram_logprob"] = f"""
WITH tok AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS token FROM documents
), counts AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), stats AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
  FROM counts
), model AS (
  SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {C.UNIGRAM_VOCAB_K}
), scored AS (
  SELECT t.doc_id,
    CASE WHEN m.token IS NULL THEN 1 ELSE 0 END AS oov,
    ln((coalesce(m.c, 0) + {C.UNIGRAM_ALPHA})
       / (s.n + {C.UNIGRAM_ALPHA} * (s.v + 1))) AS logp
  FROM tok t LEFT JOIN model m USING (token) CROSS JOIN stats s
)
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(sum(oov) AS BIGINT) AS n_oov,
  round(avg(logp), 6) AS mean_logprob
FROM scored GROUP BY doc_id
"""

# multinomial NB language classifier: train AND score replayed — the
# per-token likelihood is the identical double expression, per-class
# sums rounded to 6 before the argmax, ties to the class name
ORACLES["nb_lang_classifier"] = f"""
WITH tok_t AS (
  SELECT lang, lower(unnest({_TOKS})) AS token FROM documents
  WHERE doc_id % {C.NB_SPLIT_MOD} <> 0
), ctc AS (
  SELECT lang, token, count(*) AS c FROM tok_t GROUP BY lang, token
), totals AS (
  SELECT lang, CAST(sum(c) AS DOUBLE) AS total_c FROM ctc GROUP BY lang
), nd AS (
  SELECT lang, count(*) AS ndc FROM documents
  WHERE doc_id % {C.NB_SPLIT_MOD} <> 0 GROUP BY lang
), n_all AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
  WHERE doc_id % {C.NB_SPLIT_MOD} <> 0
), vstat AS (
  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM tok_t
), classes AS (
  SELECT nd.lang, ln(nd.ndc / n_all.n) AS prior, totals.total_c
  FROM nd CROSS JOIN n_all JOIN totals ON totals.lang = nd.lang
), tok_s AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS token FROM documents
  WHERE doc_id % {C.NB_SPLIT_MOD} = 0
), scored AS (
  SELECT t.doc_id, cl.lang, cl.prior,
    ln((coalesce(m.c, 0) + {C.NB_ALPHA})
       / (cl.total_c + {C.NB_ALPHA} * (vstat.v + 1))) AS logp
  FROM tok_s t
  CROSS JOIN classes cl
  LEFT JOIN ctc m ON m.token = t.token AND m.lang = cl.lang
  CROSS JOIN vstat
), per AS (
  SELECT doc_id, lang,
    round(any_value(prior) + sum(logp), 6) AS score,
    count(*) AS n_tokens
  FROM scored GROUP BY doc_id, lang
), win AS (
  SELECT doc_id, lang AS pred_lang, score, n_tokens,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, lang ASC) AS rn
  FROM per
)
SELECT w.doc_id, d.lang, w.pred_lang, w.score, w.n_tokens,
  CASE WHEN w.pred_lang = d.lang THEN 1 ELSE 0 END AS correct
FROM win w JOIN documents d USING (doc_id)
WHERE w.rn = 1
"""

# classifier-bootstrapped quality filter: heuristic labels (the SAME
# rounded quality-score expression as text_quality) train the NB model,
# the held-out split filters on the model's prediction — full replay.
ORACLES["classifier_quality_filter"] = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), lab AS (
  SELECT doc_id, text,
    CASE WHEN round(({_C_LENSCORE}) * 0.4
                    + least(({_C_STOPRATIO}) * 5.0, 1.0) * 0.2
                    + ({_ALPHARATIO.replace('text', 't.text')}) * 0.4, 6)
           >= {C.QFILTER_SCORE_THRESHOLD}
      THEN 'hi' ELSE 'lo' END AS q_label
  FROM t
), tok_t AS (
  SELECT q_label, lower(unnest({_TOKS})) AS token FROM lab
  WHERE doc_id % {C.QFILTER_SPLIT_MOD} <> 0
), ctc AS (
  SELECT q_label, token, count(*) AS c FROM tok_t GROUP BY q_label, token
), totals AS (
  SELECT q_label, CAST(sum(c) AS DOUBLE) AS total_c
  FROM ctc GROUP BY q_label
), nd AS (
  SELECT q_label, count(*) AS ndc FROM lab
  WHERE doc_id % {C.QFILTER_SPLIT_MOD} <> 0 GROUP BY q_label
), n_all AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM lab
  WHERE doc_id % {C.QFILTER_SPLIT_MOD} <> 0
), vstat AS (
  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM tok_t
), classes AS (
  SELECT nd.q_label, ln(nd.ndc / n_all.n) AS prior, totals.total_c
  FROM nd CROSS JOIN n_all JOIN totals ON totals.q_label = nd.q_label
), tok_s AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS token FROM lab
  WHERE doc_id % {C.QFILTER_SPLIT_MOD} = 0
), scored AS (
  SELECT s.doc_id, cl.q_label, cl.prior,
    ln((coalesce(m.c, 0) + {C.NB_ALPHA})
       / (cl.total_c + {C.NB_ALPHA} * (vstat.v + 1))) AS logp
  FROM tok_s s
  CROSS JOIN classes cl
  LEFT JOIN ctc m ON m.token = s.token AND m.q_label = cl.q_label
  CROSS JOIN vstat
), per AS (
  SELECT doc_id, q_label AS cand,
    round(any_value(prior) + sum(logp), 6) AS score
  FROM scored GROUP BY doc_id, q_label
), win AS (
  SELECT doc_id, cand AS pred_q_label, score,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, cand ASC) AS rn
  FROM per
)
SELECT w.doc_id, l.q_label, w.pred_q_label, w.score,
  CASE WHEN w.pred_q_label = 'hi' THEN 1 ELSE 0 END AS keep
FROM win w JOIN lab l USING (doc_id)
WHERE w.rn = 1
"""

# distributed logistic regression, replayed END-TO-END: every gradient-
# descent iteration is an unrolled CTE — per-doc sigmoids rounded to 6,
# per-doc gradient contributions quantized to integer micro-units before
# the order-free BIGINT sum, weights re-rounded each step with the SAME
# double expression text as the Spark side — so the final scores carry
# no Python-trained literals. MATERIALIZED per the bpe_train lesson
# (inlining re-expands each iteration's weight refs exponentially).
def _logreg_oracle_sql(
    dim: int = C.LOGREG_DIM,
    iters: int = C.LOGREG_ITERS,
    lr: float = C.LOGREG_LR,
    seed: int = C.LOGREG_SEED,
    split_mod: int | None = None,
) -> str:
    bucket = f"{HASH64_SQL('tok', seed)} % {dim}"
    feat_cols = ",\n    ".join(
        "CAST(CASE WHEN len(bks) > 0 THEN"
        f" round((CAST(len(list_filter(bks, b -> b = {j})) AS DOUBLE)"
        " * 1000.0) / CAST(len(bks) AS DOUBLE))"
        f" ELSE 0.0 END AS INTEGER) AS x{j}"
        for j in range(dim)
    )

    def dot(w: str) -> str:
        z = f"{w}.w0"
        for j in range(dim):
            z = f"({z} + (CAST(x{j} AS DOUBLE) * {w}.w{j + 1}))"
        return z

    def prob(w: str) -> str:
        return f"round(1.0 / (1.0 + exp(-({dot(w)}))), 6)"

    lab_case = (
        f"CASE WHEN round(({_C_LENSCORE}) * 0.4"
        f" + least(({_C_STOPRATIO}) * 5.0, 1.0) * 0.2"
        f" + ({_ALPHARATIO}) * 0.4, 6)"
        f" >= {C.LOGREG_LABEL_THRESHOLD} THEN 1 ELSE 0 END"
    )
    parts = [
        f"WITH t AS (\n  SELECT doc_id, text, {_TOKS} AS toks FROM documents\n)",
        f"lab AS (\n  SELECT doc_id, toks, {lab_case} AS y FROM t\n)",
        "b AS (\n  SELECT doc_id, y,\n"
        f"    list_transform(list_transform(toks, x -> lower(x)),\n"
        f"                   tok -> {bucket}) AS bks\n  FROM lab\n)",
        # with split_mod set, f is the TRAIN split and fs the held-out
        # scoring split (the production train/serve shape)
        "f AS MATERIALIZED (\n  SELECT doc_id, y,\n"
        f"    {feat_cols}\n  FROM b"
        + (
            f"\n  WHERE doc_id % {split_mod} <> 0"
            if split_mod is not None
            else ""
        )
        + "\n)",
        "it0 AS (\n  SELECT "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS w{k}" for k in range(dim + 1))
        + "\n)",
    ]
    inner_w = ", ".join(f"w.w{k} AS pw{k}" for k in range(dim + 1))
    inner_x = ", ".join(f"x{j}" for j in range(dim))
    for t in range(1, iters + 1):
        # p computed ONCE per row in the inner select (numerically
        # identical to inlining it into every gradient sum)
        err = "(CAST(y AS DOUBLE) - p)"
        upd = []
        for k in range(dim + 1):
            xk = "1.0" if k == 0 else f"CAST(x{k - 1} AS DOUBLE)"
            g = f"sum(CAST(round(({err} * {xk}) * 1000000.0) AS BIGINT))"
            upd.append(
                f"round(any_value(pw{k}) + CAST({lr!r} AS DOUBLE)"
                f" * CAST({g} AS DOUBLE) / CAST(count(*) AS DOUBLE)"
                f" / 1000000.0, 6) AS w{k}"
            )
        parts.append(
            f"it{t} AS MATERIALIZED (\n  SELECT\n    "
            + ",\n    ".join(upd)
            + f"\n  FROM (\n    SELECT y, {inner_x}, {inner_w},"
            f"\n      {prob('w')} AS p"
            f"\n    FROM f CROSS JOIN it{t - 1} w\n  )\n)"
        )
    if split_mod is not None:
        parts.append(
            "fs AS MATERIALIZED (\n  SELECT doc_id, y,\n"
            f"    {feat_cols}\n  FROM b"
            f"\n  WHERE doc_id % {split_mod} = 0\n)"
        )
    score_src = "f" if split_mod is None else "fs"
    p_final = prob("w")
    tail = f"""
, sc AS (
  SELECT doc_id, y, {p_final} AS score
  FROM {score_src} CROSS JOIN it{iters} w
)
SELECT doc_id, y, score,
  CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred,
  CASE WHEN (CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) = y
    THEN 1 ELSE 0 END AS correct
FROM sc
"""
    return ",\n".join(parts) + tail


ORACLES["logreg_train"] = _logreg_oracle_sql()


def _kmeans_oracle_sql(
    k: int = C.KMEANS_TRAIN_K, iters: int = C.KMEANS_TRAIN_ITERS
) -> str:
    """Unrolled full-corpus Lloyd replay: vectors quantized to integer
    micro-units, centroids carried as RELATIONAL (cell, dim, val)
    CTEs — one assignment CTE (exact bigint distances, argmin ties to
    the lowest cell) and one update CTE (mean re-rounded to
    micro-units, empty cells keep their previous centroid via the
    left-join coalesce) per iteration. No Python-trained literals
    anywhere — the recurrence is the SQL."""
    dist = "sum((v.val - c.val) * (v.val - c.val))"
    parts = [
        f"""u AS (
  SELECT vec_id, CAST(i AS INT) AS dim,
    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS BIGINT)
      AS val
  FROM embeddings, unnest(range({C.EMB_DIM})) AS r(i)
), c0 AS (
  SELECT CAST(vec_id AS INT) AS cell, dim, val FROM u WHERE vec_id < {k}
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (
      SELECT v.vec_id, c.cell, {dist} AS d
      FROM u v JOIN {prev} c ON v.dim = c.dim
      GROUP BY v.vec_id, c.cell
    )
  ) WHERE rn = 1
), c{t} AS (
  SELECT p.cell, p.dim, coalesce(n.val, p.val) AS val
  FROM {prev} p LEFT JOIN (
    SELECT a.cell, u.dim, CAST(round(avg(u.val)) AS BIGINT) AS val
    FROM u JOIN a{t} a ON u.vec_id = a.vec_id
    GROUP BY a.cell, u.dim
  ) n ON p.cell = n.cell AND p.dim = n.dim
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(d AS BIGINT) AS dist_q
FROM (
  SELECT vec_id, cell, d,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM (
    SELECT v.vec_id, c.cell, {dist} AS d
    FROM u v JOIN c{iters} c ON v.dim = c.dim
    GROUP BY v.vec_id, c.cell
  )
) WHERE rn = 1
"""


ORACLES["kmeans_train"] = _kmeans_oracle_sql()

# DPO pair replay: one shared prompt truncation budgeted by the
# LONGER response; overflow and length-skew gates; both digests stated
ORACLES["dpo_pairs"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
    CAST(3 + doc_id % 10 AS BIGINT) AS p,
    CAST(1 + doc_id % 12 AS BIGINT) AS c,
    CAST(1 + (doc_id * 7) % 15 AS BIGINT) AS r
  FROM documents
), s AS (
  SELECT doc_id,
    toks[1:p] AS pt,
    toks[p + 1:p + c] AS ct,
    toks[p + c + 1:p + c + r] AS rt
  FROM t
), m AS (
  SELECT doc_id, pt, ct, rt,
    len(pt) AS np, len(ct) AS nc, len(rt) AS nr
  FROM s
), kc AS (
  SELECT *,
    greatest(nc, nr) AS lng, least(nc, nr) AS shrt,
    (greatest(nc, nr) + 3 <= {C.SFT_MAX_LEN}) AS fits,
    (least(nc, nr) * 1000
       >= {C.DPO_MIN_RATIO_PERMILLE} * greatest(nc, nr)) AS balanced,
    least(np, {C.SFT_MAX_LEN} - 3 - greatest(nc, nr)) AS kp
  FROM m
), fin AS (
  SELECT *, (fits AND balanced) AS keep,
    CASE WHEN kp > 0 THEN pt[np - kp + 1:np]
         ELSE CAST([] AS VARCHAR[]) END AS ptr
  FROM kc
)
SELECT doc_id,
  CAST(CASE WHEN keep THEN 1 ELSE 0 END AS INTEGER) AS kept,
  CASE WHEN NOT fits THEN 'response_overflow'
       WHEN NOT balanced THEN 'length_skew' END AS reason,
  CAST(CASE WHEN lng > 0 THEN shrt * 1000 // lng ELSE 1000 END
    AS INTEGER) AS len_ratio_permille,
  CAST(CASE WHEN keep THEN kp END AS INTEGER) AS n_prompt_kept,
  CAST(CASE WHEN keep THEN nc END AS INTEGER) AS n_chosen,
  CAST(CASE WHEN keep THEN nr END AS INTEGER) AS n_rejected,
  CASE WHEN keep THEN md5(array_to_string(
    ['<|user|>'] || ptr || ['<|assistant|>'] || ct || ['<|end|>'],
    ' ')) END AS chosen_md5,
  CASE WHEN keep THEN md5(array_to_string(
    ['<|user|>'] || ptr || ['<|assistant|>'] || rt || ['<|end|>'],
    ' ')) END AS rejected_md5
FROM fin
"""

# expectations replay: each rule is one plain-SQL aggregate; NULLs
# fail range and FK rules (unknown is not known-good)
ORACLES["table_expectations"] = """
SELECT 'not_null:o_orderdate' AS rule,
  CAST(count(*) AS BIGINT) AS n_checked,
  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violations,
  CAST(CASE WHEN sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
    = 0 THEN 1 ELSE 0 END AS INTEGER) AS pass
FROM orders
UNION ALL
SELECT 'unique:c_custkey',
  CAST(count(*) AS BIGINT),
  CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT),
  CAST(CASE WHEN count(c_custkey) = count(DISTINCT c_custkey)
    THEN 1 ELSE 0 END AS INTEGER)
FROM customer
UNION ALL
SELECT 'range:l_quantity:[1,50]',
  CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
    AS BIGINT),
  CAST(CASE WHEN sum(CASE WHEN l_quantity BETWEEN 1 AND 50
    THEN 0 ELSE 1 END) = 0 THEN 1 ELSE 0 END AS INTEGER)
FROM lineitem
UNION ALL
SELECT 'range:l_discount:[0.0,0.05]',
  CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.05 THEN 0 ELSE 1 END)
    AS BIGINT),
  CAST(CASE WHEN sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.05
    THEN 0 ELSE 1 END) = 0 THEN 1 ELSE 0 END AS INTEGER)
FROM lineitem
UNION ALL
SELECT 'fk:o_custkey->c_custkey',
  CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
  CAST(CASE WHEN sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
    = 0 THEN 1 ELSE 0 END AS INTEGER)
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
"""

# count-min sketch replay: every (row, cell) counter rebuilt with the
# same seeded portable hash, exact top-k by (count desc, token), the
# estimate = min over depth cells — overestimate is one-sided by
# construction (collisions only add)
ORACLES["cms_heavy_hitters"] = f"""
WITH tk AS (
  SELECT lower(unnest({_TOKS})) AS tok FROM documents
), rows_ AS (
  SELECT CAST(unnest(range({C.CMS_DEPTH})) AS INT) AS row
), cells AS (
  SELECT r.row,
    CAST({HASH64_SQL("(tok || ':' || CAST(" + str(C.CMS_SEED) + " + r.row AS VARCHAR))")} % {C.CMS_WIDTH} AS INT) AS cell
  FROM tk CROSS JOIN rows_ r
), sk AS (
  SELECT row, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, cell
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM tk GROUP BY tok
), topk AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok ASC LIMIT {C.CMS_TOPK}
), cc AS (
  SELECT t.tok, t.exact_cnt, r.row,
    CAST({HASH64_SQL("(t.tok || ':' || CAST(" + str(C.CMS_SEED) + " + r.row AS VARCHAR))")} % {C.CMS_WIDTH} AS INT) AS cell
  FROM topk t CROSS JOIN rows_ r
)
SELECT cc.tok, cc.exact_cnt, min(sk.cnt) AS cms_est,
  min(sk.cnt) - cc.exact_cnt AS overestimate
FROM cc JOIN sk ON cc.row = sk.row AND cc.cell = sk.cell
GROUP BY cc.tok, cc.exact_cnt
"""

# SFT chat-template replay: prompt/response carved from the token
# stream, fit policy (response survives, prompt left-truncates,
# response overflow drops accounted), sequence and mask digests stated
# verbatim — DuckDB list slices are 1-based inclusive
ORACLES["sft_chat_masks"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
    CAST(3 + doc_id % 10 AS BIGINT) AS p,
    CAST(1 + doc_id % 20 AS BIGINT) AS r
  FROM documents
), s AS (
  SELECT doc_id,
    toks[1:p] AS pt,
    toks[p + 1:p + r] AS rt
  FROM t
), m AS (
  SELECT doc_id, pt, rt, len(pt) AS np, len(rt) AS nr FROM s
), kc AS (
  SELECT *, (nr + 3 <= {C.SFT_MAX_LEN}) AS fits,
    least(np, {C.SFT_MAX_LEN} - 3 - nr) AS kp
  FROM m
)
SELECT doc_id,
  CAST(CASE WHEN fits THEN 1 ELSE 0 END AS INTEGER) AS kept,
  CASE WHEN fits THEN NULL ELSE 'response_overflow' END AS reason,
  CAST(CASE WHEN fits THEN kp + nr + 3 END AS INTEGER) AS n_tokens,
  CAST(CASE WHEN fits THEN nr + 1 END AS INTEGER) AS n_loss,
  CAST(CASE WHEN fits THEN CASE WHEN np > kp THEN 1 ELSE 0 END END
    AS INTEGER) AS truncated,
  CASE WHEN fits THEN md5(array_to_string(
    ['<|user|>']
      || CASE WHEN kp > 0 THEN pt[np - kp + 1:np]
              ELSE CAST([] AS VARCHAR[]) END
      || ['<|assistant|>'] || rt || ['<|end|>'], ' ')) END AS tokens_md5,
  CASE WHEN fits THEN md5(repeat('0', CAST(kp + 2 AS INT))
    || repeat('1', CAST(nr + 1 AS INT))) END AS mask_md5
FROM kc
"""
ORACLES["logreg_holdout"] = _logreg_oracle_sql(
    split_mod=C.QFILTER_SPLIT_MOD
)

# interpolated bigram LM: transitions from list_zip of the lowered
# token array; top-k bigram table (ties: count desc, w1, w2) + the same
# smoothed unigram model; absent pairs back off to the unigram term
ORACLES["bigram_logprob"] = f"""
WITH lowered AS (
  SELECT doc_id, list_transform({_TOKS}, t -> lower(t)) AS tk
  FROM documents
), pairs AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM lowered,
    unnest(list_zip(tk[1 : len(tk) - 1], tk[2 : len(tk)])) AS z(p)
  WHERE len(tk) >= 2
), counts AS (
  SELECT unnest(tk) AS token FROM lowered
), c1t AS (
  SELECT token, count(*) AS c1 FROM counts GROUP BY token
), stats AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
  FROM c1t
), uni AS (
  SELECT token AS w2, c1 AS uc FROM c1t
  ORDER BY c1 DESC, token LIMIT {C.UNIGRAM_VOCAB_K}
), bc AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
), big AS (
  SELECT bc.w1, bc.w2, bc.c12, c1t.c1
  FROM (SELECT * FROM bc ORDER BY c12 DESC, w1, w2
        LIMIT {C.BIGRAM_TOP_K}) bc
  JOIN c1t ON c1t.token = bc.w1
), scored AS (
  SELECT p.doc_id,
    ln({C.BIGRAM_LAMBDA} * coalesce(CAST(b.c12 AS DOUBLE) / b.c1, 0.0)
       + {1.0 - C.BIGRAM_LAMBDA}
         * ((coalesce(u.uc, 0) + {C.UNIGRAM_ALPHA})
            / (s.n + {C.UNIGRAM_ALPHA} * (s.v + 1)))) AS logp
  FROM pairs p
  LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
  LEFT JOIN uni u ON u.w2 = p.w2
  CROSS JOIN stats s
)
SELECT doc_id, count(*) AS n_transitions,
  round(avg(logp), 6) AS mean_bigram_logprob
FROM scored GROUP BY doc_id
"""

ORACLES["vocab_topk"] = f"""
WITH tok AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS token FROM documents
), counts AS (
  SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY token
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS INT)
    AS rank, token, n_occurrences, n_docs
  FROM counts
)
SELECT rank, token, n_occurrences, n_docs FROM ranked
WHERE rank <= {C.VOCAB_TOPK}
"""

# packing-efficiency audit: the pack assignment rolled up per
# (shard, bin) with an integer-ppm fill rate and overflow flag
ORACLES["packing_efficiency"] = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST(({HASH64_SQL('CAST(doc_id AS VARCHAR)', C.PACK_SEED)}
      % {C.PACK_SHARDS}) AS INT) AS shard
  FROM documents
), c AS (
  SELECT doc_id, n_tokens, shard,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
    ) AS cum_tokens
  FROM d
), p AS (
  SELECT shard,
    CAST(floor((cum_tokens - n_tokens) / {float(C.PACK_BUDGET)}) AS INT)
      AS bin,
    n_tokens
  FROM c
), g AS (
  SELECT shard, bin,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
  FROM p GROUP BY shard, bin
)
SELECT shard, bin, n_docs, tokens_packed,
  CAST(round(CAST(tokens_packed AS DOUBLE) * 1000000.0
             / {float(C.PACK_BUDGET)}) AS BIGINT) AS fill_ppm,
  CASE WHEN tokens_packed > {C.PACK_BUDGET} THEN 1 ELSE 0 END AS overflow
FROM g
"""

# token-budget sampling: greedy per-source admission in spread-hash
# order until the token budget is spent (the crossing doc is admitted)
_TB_BUDGET = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {b}" for s, b in C.TOKEN_BUDGET_OVERRIDES
) + f" ELSE {C.TOKEN_BUDGET_DEFAULT} END"
ORACLES["token_budget_sample"] = f"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST(({_TB_BUDGET}) AS BIGINT) AS budget,
    (doc_id * {C.REPLAY_SPREAD}) % 4294967296 AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens, budget,
    CAST(coalesce(sum(n_tokens) OVER (
      PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS tokens_before
  FROM t
)
SELECT doc_id, source, n_tokens, budget, tokens_before,
  CASE WHEN tokens_before < budget THEN 1 ELSE 0 END AS keep
FROM c
"""

# vocabulary drift: the corpus_diff snapshot split compared token-wise
# over the combined top-K vocab, integer ppm frequencies
ORACLES["vocab_drift"] = f"""
WITH u AS (
  SELECT token, s FROM (
    SELECT lower(unnest({_TOKS})) AS token, 'a' AS s FROM documents
    WHERE doc_id % 13 <> 3
    UNION ALL
    SELECT lower(unnest({_TOKS})) AS token, 'b' AS s FROM documents
    WHERE doc_id % 11 <> 7
  )
), c AS (
  SELECT token,
    CAST(sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
    CAST(sum(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM u GROUP BY token
), t AS (
  SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM c
), k AS (
  SELECT token, cnt_a, cnt_b FROM c
  ORDER BY cnt_a + cnt_b DESC, token ASC LIMIT {C.VOCAB_DRIFT_K}
), p AS (
  SELECT token, cnt_a, cnt_b,
    CAST(round(CAST(cnt_a AS DOUBLE) * 1000000.0
               / CAST(tot_a AS DOUBLE)) AS BIGINT) AS ppm_a,
    CAST(round(CAST(cnt_b AS DOUBLE) * 1000000.0
               / CAST(tot_b AS DOUBLE)) AS BIGINT) AS ppm_b
  FROM k CROSS JOIN t
)
SELECT token, cnt_a, cnt_b, ppm_a, ppm_b,
  abs(ppm_a - ppm_b) AS drift_ppm
FROM p
"""

# content-defined chunking: hash-decided boundaries, prefix-sum chunk
# ids, per-chunk ordered string_agg re-assembly
_CDC_CTES = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), z AS (
  SELECT doc_id, toks,
    list_transform(toks, tok ->
      CASE WHEN {HASH64_SQL('tok', C.CDC_SEED)} % {C.CDC_MOD} = 0
        THEN 1 ELSE 0 END) AS flags
  FROM t
), w AS (
  SELECT doc_id, toks,
    list_transform(range(1, len(toks) + 1),
      i -> len(list_filter(flags[1:i - 1], f -> f = 1))) AS cids
  FROM z
), p AS (
  SELECT doc_id, toks[i] AS tok, i, cids[i] AS cid
  FROM w, unnest(range(1, len(toks) + 1)) AS r(i)
), chunks AS (
  SELECT doc_id, CAST(cid AS INTEGER) AS chunk_idx,
    string_agg(tok, ' ' ORDER BY i) AS chunk_text,
    CAST(count(*) AS INTEGER) AS n_tokens
  FROM p GROUP BY doc_id, cid
)
"""

ORACLES["cdc_chunks"] = _CDC_CTES + """
SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM chunks
"""

ORACLES["cdc_chunk_dedup"] = _CDC_CTES + f"""
SELECT md5(chunk_text) AS chunk_md5,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  min(doc_id) AS first_doc,
  min(n_tokens) AS n_tokens
FROM chunks GROUP BY md5(chunk_text)
HAVING count(DISTINCT doc_id) >= {C.CDC_MIN_DOCS}
"""

# monster-doc CDC replay — LINEAR, unlike the general cdc_chunks
# oracle's quadratic prefix recount (fine at fixture token counts,
# hopeless at 20k tokens/doc): boundary POSITIONS once, chunk count
# closed-form (one chunk per boundary + a trailing partial), and the
# reassembly digest is just md5 of the original joined token stream —
# token conservation + ordering proven without materializing chunks
ORACLES["cdc_monster_doc"] = f"""
WITH d AS (
  SELECT unnest(range({C.CDC_MONSTER_DOCS})) AS doc_id
), t AS (
  SELECT doc_id,
    list_transform(range({C.CDC_MONSTER_TOKENS}),
      j -> 't' || CAST((doc_id * 7 + j * j) % 2048 AS VARCHAR)) AS toks
  FROM d
), z AS (
  SELECT doc_id, toks,
    list_filter(list_transform(range(1, {C.CDC_MONSTER_TOKENS} + 1),
      i -> CASE WHEN {HASH64_SQL('toks[i]', C.CDC_SEED)}
                     % {C.CDC_MOD} = 0 THEN i END),
      x -> x IS NOT NULL) AS bp
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(bp) + CASE WHEN len(bp) = 0
                        OR bp[-1] < {C.CDC_MONSTER_TOKENS}
                      THEN 1 ELSE 0 END AS INTEGER) AS n_chunks,
  CAST({C.CDC_MONSTER_TOKENS} AS BIGINT) AS n_tokens_total,
  md5(array_to_string(toks, ' ')) AS reassembly_md5
FROM z
"""

# blocklist gate: whole-word matches on the lowered token array;
# distinct-term rule OR the integer cross-multiplied density rule
_BL_TERMS = ", ".join(f"'{t}'" for t in C.BLOCKLIST_TERMS)
ORACLES["blocklist_filter"] = f"""
WITH t AS (
  SELECT doc_id,
    list_transform({_TOKS}, x -> lower(x)) AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    len(list_filter(toks, x -> x IN ({_BL_TERMS}))) AS n_hits,
    len(list_distinct(list_filter(toks, x -> x IN ({_BL_TERMS}))))
      AS n_distinct_hits
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  CAST(n_hits AS INTEGER) AS n_hits,
  CAST(n_distinct_hits AS INTEGER) AS n_distinct_hits,
  CASE WHEN n_distinct_hits >= {C.BLOCKLIST_MIN_DISTINCT}
         OR n_hits * 10000 > {C.BLOCKLIST_MAX_DENSITY_BP} * n_tokens
    THEN 0 ELSE 1 END AS keep
FROM m
"""

# quality_filter applies its thresholds to the SAME rounded metrics the
# text_quality oracle computes, so the rule CASE reuses those fragments
_QF_NTOK = f"CAST({_C_NTOK} AS BIGINT)"
_QF_STOP = f"round({_C_STOPRATIO}, 6)"
_QF_SCORE = (
    f"round({_C_LENSCORE} * 0.4 + least(({_C_STOPRATIO}) * 5.0, 1.0) * 0.2"
    f" + {_ALPHARATIO} * 0.4, 6)"
)
ORACLES["quality_filter"] = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), r AS (
  SELECT doc_id,
    CASE WHEN {_QF_NTOK} < 20 THEN 'too_few_tokens'
         WHEN {_QF_STOP} < 0.03 THEN 'low_stopword_ratio'
         WHEN {_QF_SCORE} < 0.5 THEN 'low_quality_score'
    END AS reject_reason
  FROM t
)
SELECT doc_id,
  CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END AS keep,
  reject_reason
FROM r
"""

# datasheet replay: every metric restated with the SAME rounded
# fragments the quality_filter oracle pins; integer division matches
# Spark's `div`
ORACLES["dataset_datasheet"] = f"""
WITH t AS (
  SELECT doc_id, text, source, lang, {_TOKS} AS toks FROM documents
), per AS (
  SELECT doc_id, text, source, lang,
    {_QF_NTOK} AS n_tokens,
    CASE WHEN {_QF_NTOK} >= 20 AND {_QF_STOP} >= 0.03
           AND {_QF_SCORE} >= 0.5 THEN 1 ELSE 0 END AS keep,
    CAST(round({_QF_SCORE} * 1000000.0) AS BIGINT) AS qmicro
  FROM t
), a AS (
  SELECT count(*) AS n_docs,
    CAST(sum(n_tokens) AS BIGINT) AS tt,
    count(DISTINCT md5(text)) AS nd,
    CAST(sum(qmicro) AS BIGINT) AS qsum,
    CAST(sum(keep) AS BIGINT) AS keeps,
    count(DISTINCT source) AS nsrc,
    count(DISTINCT lang) AS nlang
  FROM per
)
SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM a
UNION ALL SELECT 'total_tokens', tt FROM a
UNION ALL SELECT 'mean_doc_tokens', tt // n_docs FROM a
UNION ALL SELECT 'exact_dup_rate_permille',
  (1000 * (n_docs - nd)) // n_docs FROM a
UNION ALL SELECT 'mean_quality_micro', qsum // n_docs FROM a
UNION ALL SELECT 'quality_keep_rate_permille',
  (1000 * keeps) // n_docs FROM a
UNION ALL SELECT 'n_sources', CAST(nsrc AS BIGINT) FROM a
UNION ALL SELECT 'n_langs', CAST(nlang AS BIGINT) FROM a
"""

ORACLES["source_quality"] = f"""
WITH t AS (
  SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id, source,
    {_QF_NTOK} AS n_tokens, {_QF_STOP} AS stop_ratio, {_QF_SCORE} AS score
  FROM t
)
SELECT source,
  count(*) AS n_docs,
  round(avg(score), 6) AS mean_quality,
  round(avg(CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.03
                  AND score >= 0.5 THEN 1 ELSE 0 END), 6) AS keep_rate
FROM m
GROUP BY source
"""

ORACLES["corpus_stats"] = """
SELECT source,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_size,
  round(avg(n_chars), 6) AS mean_size,
  round(quantile_cont(n_chars, 0.5), 6) AS p50_size,
  round(quantile_cont(n_chars, 0.9), 6) AS p90_size,
  round(quantile_cont(n_chars, 0.99), 6) AS p99_size
FROM documents
GROUP BY source
"""


# corpus-recipe capstone: the composed chain replayed — quality CASE
# over documents, span scrub over the SURVIVORS (span statistics are
# recomputed within the filtered corpus, exactly as the staged Spark
# plan does), digest-window exact dedup, split CASE
def _corpus_recipe_oracle() -> str:
    return f"""
WITH t0 AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), kept AS (
  SELECT doc_id, text FROM t0
  WHERE NOT ({_QF_NTOK} < 20)
    AND NOT ({_QF_STOP} < 0.03)
    AND NOT ({_QF_SCORE} < 0.5)
), {_repeat_span_ctes("kept")},
sp AS (
  SELECT doc_id,
    list(struct_pack(s := span_start, e := span_end)) AS spans
  FROM spans GROUP BY doc_id
), tk AS (
  SELECT d.doc_id, {TOKENS_SQL("d.text")} AS toks,
    coalesce(sp.spans, []) AS spans
  FROM kept d LEFT JOIN sp ON d.doc_id = sp.doc_id
), cut AS (
  SELECT doc_id, toks, spans,
    list_filter(range(len(toks)),
      i -> len(list_filter(spans,
             x -> i >= x.s AND i <= x.e)) = 0) AS kept_idx
  FROM tk
), scrubbed AS (
  SELECT doc_id,
    coalesce(array_to_string(
      list_transform(kept_idx, i -> toks[i + 1]), ' '), '') AS text
  FROM cut
), ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      min(doc_id) OVER (PARTITION BY md5(text)) AS kid
    FROM scrubbed
  ) WHERE doc_id = kid
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
  {_split_case_sql()} AS split
FROM ded
"""


def _marker_count(sub: str) -> str:
    p = "(' ' || lower(text) || ' ')"
    esc = sub.replace("'", "''")
    return f"CAST((length({p}) - length(replace({p}, '{esc}', ''))) / {len(sub)} AS INTEGER)"


_LANG_SCORES = {
    lang: " + ".join(_marker_count(m) for m in markers)
    for lang, markers in sorted(LANG_MARKERS.items())
}
_SCORE_COLS = ",\n  ".join(f"({expr}) AS s_{lang}" for lang, expr in _LANG_SCORES.items())
_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(LANG_MARKERS)) + ")"
_PICK = "CASE " + " ".join(
    f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
) + " END"
ORACLES["lang_id"] = f"""
WITH sc AS (
  SELECT doc_id,
  {_SCORE_COLS}
  FROM documents
), b AS (
  SELECT doc_id, {_BEST} AS best, * FROM sc
)
SELECT doc_id,
  CASE WHEN best > 0 THEN {_PICK} ELSE 'und' END AS predicted_lang,
  best AS marker_hits
FROM b
"""

# fertility: the token_count pair rolled up per language, ratio as
# truncating per-mille
ORACLES["token_fertility"] = f"""
WITH t AS (
  SELECT lang,
    CAST(len({_TOKS}) AS BIGINT) AS ws,
    CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT)
      AS bpe
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
  CAST(SUM(bpe) * 1000 // SUM(ws) AS BIGINT) AS fertility_pm
FROM t GROUP BY lang
"""

ORACLES["token_count"] = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_tokens
FROM documents
"""

# --- sampling / splitting / packing ----------------------------------------

def _rate_bucket_sql(seed: int) -> str:
    return f"({HASH64_SQL('CAST(doc_id AS VARCHAR)', seed)} % 10000)"


def _split_case_over(expr: str, seed: int) -> str:
    bucket = f"({HASH64_SQL(expr, seed)} % 10000)"
    cases = []
    cum = 0.0
    for name, frac in C.SPLIT_FRACS[:-1]:
        cum += frac
        cases.append(
            f"WHEN {bucket} < {int(round(cum * 10000))} THEN '{name}'"
        )
    return "CASE " + " ".join(cases) + f" ELSE '{C.SPLIT_FRACS[-1][0]}' END"


def _split_case_sql() -> str:
    return _split_case_over("CAST(doc_id AS VARCHAR)", C.SPLIT_SEED)


ORACLES["dataset_split"] = f"""
SELECT doc_id, source, {_split_case_sql()} AS split FROM documents
"""

# long-string fuzzy tier: ground truth is DuckDB's OWN levenshtein
# over every pair of the fixed 320-doc fixture — no blocking logic
# shared with the engine under test (length band only, a theorem)
_FLT = (
    " lorem ipsum dolor sit amet consectetur adipiscing"
    " elit sed do eiusmod tempor incididunt ut labore"
)
ORACLES["fuzzy_long_pairs"] = f"""
WITH base AS (
  SELECT doc_id,
    'Title ' || repeat(CAST(doc_id // 4 AS VARCHAR), 9) || '{_FLT}' AS t
  FROM documents WHERE doc_id < {C.FUZZY_LONG_DOCS}
), fix AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN t
      WHEN 1 THEN 'X' || t[2:]
      WHEN 2 THEN t[2:]
      ELSE t || '!!'
    END AS title
  FROM base
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM fix a JOIN fix b ON a.doc_id < b.doc_id
WHERE abs(len(a.title) - len(b.title)) <= 2
  AND levenshtein(a.title, b.title) <= 2
"""

# fuzzy scope audit: the length-cap quarantine accounting
ORACLES["fuzzy_scope_audit"] = """
WITH s AS (
  SELECT length(substring(text, 1, CAST(20 + (doc_id % 13) * 9 AS INT)))
    AS ln
  FROM documents
)
SELECT count(*) AS n_total,
  CAST(sum(CASE WHEN ln BETWEEN 1 AND 64 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_in_scope,
  CAST(sum(CASE WHEN ln IS NULL OR ln BETWEEN 1 AND 64 THEN 0 ELSE 1 END)
    AS BIGINT) AS n_skipped,
  CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(max(CASE WHEN ln IS NULL OR ln BETWEEN 1 AND 64 THEN NULL
    ELSE ln END) AS INT) AS max_skipped_len
FROM s
"""

# group-atomic split on the REAL domain chain: the oracle replays URL
# canonicalization (scheme strip, fragment strip, host lowering,
# userinfo/port removal) and the PSL eTLD+1 rule over the same planted
# messy URLs, then hashes THAT group key — every doc of a registrable
# domain lands in one split no matter how its URLs are spelled
_PSL_IN = ", ".join(f"'{s}'" for s in C.PSL_2LD)

# WAT->frontier capstone: rebuild the planted messy link strings
# closed-form (absolute uppercase/default-port/tracking link + the
# root-relative href resolved against the subdomain origin), then
# replay the host regex + PSL eTLD+1 rule — the group_split chain
# applied to the WAT link graph — and roll up per registrable domain.
ORACLES["wat_frontier"] = f"""
WITH links AS (
  SELECT doc_id,
    'HTTPS://WWW.Site' || ((doc_id + 1) % 20) || '.CO.UK:443/x/'
      || doc_id || '?utm_source=z&b=1#f' AS url
  FROM documents
  UNION ALL
  SELECT doc_id,
    'http://sub.site' || (doc_id % 20) || '.co.uk/rel/'
      || (doc_id % 5) AS url
  FROM documents
), h AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(regexp_extract(
      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      '^([^/?#]*)', 1)), '^[^@]*@', ''), ':[0-9]+$', '') AS host
  FROM links
), lab AS (
  SELECT doc_id, host, string_split(host, '.') AS ls FROM h
), d AS (
  SELECT doc_id, host,
    CASE
      WHEN len(ls) <= 1 THEN host
      WHEN (ls[-2] || '.' || ls[-1]) IN ({{psl}}) AND len(ls) >= 3
        THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
      ELSE ls[-2] || '.' || ls[-1]
    END AS domain
  FROM lab
)
SELECT domain,
  CAST(count(*) AS BIGINT) AS n_links,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_source_docs,
  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM d GROUP BY domain
""".replace("{psl}", _PSL_IN)

# domain-level quality gate: the group_split URL/PSL chain feeding a
# per-domain micro-unit mean, broadcast back as a doc-level keep flag
ORACLES["domain_quality_gate"] = f"""
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://www.site' || (doc_id % 50)
        || '.co.uk/p/' || doc_id || '?utm_source=x&b=2#frag'
      WHEN 1 THEN 'http://site' || (doc_id % 50) || '.co.uk:80/p?b=2&a=1'
      WHEN 2 THEN 'https://a.b.site' || (doc_id % 50) || '.co.uk/q'
      ELSE 'HTTPS://SITE' || (doc_id % 50) || '.CO.UK#x'
    END AS url
  FROM documents
), h AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(regexp_extract(
      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      '^([^/?#]*)', 1)), '^[^@]*@', ''), ':[0-9]+$', '') AS host
  FROM u
), lab AS (
  SELECT doc_id, host, string_split(host, '.') AS ls FROM h
), dm AS (
  SELECT doc_id,
    CASE
      WHEN len(ls) <= 1 THEN host
      WHEN (ls[-2] || '.' || ls[-1]) IN ({_PSL_IN}) AND len(ls) >= 3
        THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
      ELSE ls[-2] || '.' || ls[-1]
    END AS domain
  FROM lab
), t AS (
  SELECT doc_id, text, {{toks}} AS toks FROM documents
), q AS (
  SELECT doc_id,
    CAST(round(({{score}}) * 1000000.0) AS BIGINT) AS qm
  FROM t
), g AS (
  SELECT domain,
    round(CAST(sum(qm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          / 1000000.0, 6) AS domain_q
  FROM dm JOIN q USING (doc_id) GROUP BY domain
)
SELECT dm.doc_id, dm.domain, g.domain_q,
  CASE WHEN g.domain_q >= {C.DOMAIN_Q_THRESHOLD} THEN 1 ELSE 0 END AS keep
FROM dm JOIN g USING (domain)
""".replace("{toks}", _TOKS).replace("{score}", _QF_SCORE)

ORACLES["group_split"] = f"""
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://www.site' || (doc_id % 50)
        || '.co.uk/p/' || doc_id || '?utm_source=x&b=2#frag'
      WHEN 1 THEN 'http://site' || (doc_id % 50) || '.co.uk:80/p?b=2&a=1'
      WHEN 2 THEN 'https://a.b.site' || (doc_id % 50) || '.co.uk/q'
      ELSE 'HTTPS://SITE' || (doc_id % 50) || '.CO.UK#x'
    END AS url
  FROM documents
), h AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(regexp_extract(
      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      '^([^/?#]*)', 1)), '^[^@]*@', ''), ':[0-9]+$', '') AS host
  FROM u
), lab AS (
  SELECT doc_id, host, string_split(host, '.') AS ls FROM h
), d AS (
  SELECT doc_id,
    CASE
      WHEN len(ls) <= 1 THEN host
      WHEN (ls[-2] || '.' || ls[-1]) IN ({_PSL_IN}) AND len(ls) >= 3
        THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
      ELSE ls[-2] || '.' || ls[-1]
    END AS domain
  FROM lab
)
SELECT doc_id, domain,
  {_split_case_over("domain", C.SPLIT_SEED)} AS split
FROM d
"""

_RATE_CASE = "CASE source " + " ".join(
    f"WHEN '{v}' THEN {r}" for v, r in sorted(C.SAMPLE_RATES)
) + f" ELSE {C.SAMPLE_DEFAULT_RATE} END"
# epoch-aware mixture: per-source (n_full, partial-epoch threshold)
# precomputed as the SAME integers the Spark side embeds
def _epoch_cases() -> tuple[str, str]:
    import math

    def parts(f: float) -> tuple[int, int]:
        n = int(math.floor(float(f)))
        return n, int(round((float(f) - n) * 10000))

    nf = "CASE source " + " ".join(
        f"WHEN '{v}' THEN {parts(f)[0]}"
        for v, f in sorted(C.EPOCH_FACTORS)
    ) + f" ELSE {parts(1.0)[0]} END"
    thr = "CASE source " + " ".join(
        f"WHEN '{v}' THEN {parts(f)[1]}"
        for v, f in sorted(C.EPOCH_FACTORS)
    ) + f" ELSE {parts(1.0)[1]} END"
    return nf, thr


_EPOCH_NF, _EPOCH_THR = _epoch_cases()
ORACLES["epoch_mixture"] = f"""
WITH f AS (
  SELECT doc_id, source, ({_EPOCH_NF}) AS nf, ({_EPOCH_THR}) AS thr,
    {_rate_bucket_sql(C.EPOCH_SEED)} AS b
  FROM documents
), e AS (
  SELECT doc_id, source, nf, thr, b,
    unnest(range(0, nf + 1)) AS epoch
  FROM f
)
SELECT doc_id, source, CAST(epoch AS INT) AS epoch
FROM e WHERE epoch < nf OR b < thr
"""

ORACLES["stratified_sample"] = f"""
SELECT doc_id, source FROM documents
WHERE {_rate_bucket_sql(C.SAMPLE_SEED)}
  < CAST(round(({_RATE_CASE}) * 10000, 0) AS INT)
"""

def _temperature_oracle_sql() -> str | None:
    """Temperature-mixture oracle: the per-lang keep rates come from
    the SAME driver-side routine the Spark query uses
    (``temperature_rates``) on the same count table, embedded as
    full-precision literals; the bucket predicate mirrors the
    stratified-sample oracle exactly."""
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from trollflow2_spark.extensions.sampling import temperature_rates

    counts = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM '{path}' GROUP BY lang"
        ).fetchall()
    )
    rates = temperature_rates(counts, C.TEMP_ALPHA, C.TEMP_TARGET_FRAC)
    # CAST each literal to DOUBLE: DuckDB would otherwise parse the
    # full-precision literals as wide DECIMALs and overflow the *10000
    case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{k}' THEN CAST({rates[k]!r} AS DOUBLE)"
            for k in sorted(rates)
        )
        + " ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {_rate_bucket_sql(C.TEMP_SEED)}
  < CAST(round(({case}) * 10000, 0) AS INT)
"""


_temp_sql = _temperature_oracle_sql()
if _temp_sql is not None:
    ORACLES["temperature_mixture"] = _temp_sql


_SHUF_H = (
    f"({HASH64_SQL('CAST(doc_id AS VARCHAR)', C.SHUFFLE_SEED)}"
    f" % {1 << 31})"
)
ORACLES["global_shuffle"] = f"""
SELECT doc_id,
  row_number() OVER (ORDER BY {_SHUF_H}, doc_id) AS shuffle_pos
FROM documents
"""

_MIX_W = "CASE source " + " ".join(
    f"WHEN '{v}' THEN {w}" for v, w in sorted(C.MIX_WEIGHTS)
) + f" ELSE {C.MIX_DEFAULT_WEIGHT} END"
ORACLES["interleave_mixture"] = f"""
WITH r AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY {_SHUF_H}, doc_id)
      AS src_rank,
    ({_MIX_W}) AS w
  FROM documents
  WHERE ({_MIX_W}) > 0
)
SELECT doc_id, source, src_rank,
  round((src_rank - 0.5) / w, 6) AS mix_key
FROM r
"""

ORACLES["pack_sequences"] = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST(({HASH64_SQL('CAST(doc_id AS VARCHAR)', C.PACK_SEED)}
      % {C.PACK_SHARDS}) AS INT) AS shard
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, shard,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
    ) AS cum_tokens
  FROM d
)
SELECT doc_id, n_tokens, shard,
  CAST(floor((cum_tokens - n_tokens) / {float(C.PACK_BUDGET)}) AS INT) AS bin,
  cum_tokens
FROM c
"""

ORACLES["text_repetition"] = f"""
WITH lines AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\n'), s -> trim(s) <> '') AS L
  FROM documents
),
base AS (
  SELECT doc_id,
    CAST(len(L) AS INTEGER) AS n_lines,
    CASE WHEN len(L) > 0
      THEN round(1.0 - CAST(len(list_distinct(L)) AS DOUBLE) / len(L), 6)
      ELSE 0.0 END AS dup_line_frac
  FROM lines
),
g AS (
  SELECT doc_id, unnest({WORD_SHINGLES_SQL('text', 2)}) AS g FROM documents
),
c AS (SELECT doc_id, g, count(*) AS n FROM g GROUP BY 1, 2),
t AS (
  SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_bigram_frac
  FROM c GROUP BY doc_id
)
SELECT base.doc_id, base.n_lines, base.dup_line_frac, t.top_bigram_frac
FROM base JOIN t ON base.doc_id = t.doc_id
"""

# --- PII scrub -------------------------------------------------------------

# Generated from the SAME rule table the Spark operator uses, so the
# patterns / token order cannot drift between engines.
def _pii_scrub_sql() -> str:
    from trollflow2_spark.extensions.text import PII_RULES

    def q(pat: str) -> str:
        # DuckDB single-quoted literals take backslashes verbatim
        return "'" + pat.replace("'", "''") + "'"

    plant = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.1 call 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    )
    ctes = [
        "planted AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
        f"{plant} ELSE text END AS t0 FROM documents)"
    ]
    counts = []
    for i, (name, pat, token) in enumerate(PII_RULES):
        counts.append(
            f"CAST(len(regexp_extract_all(t{i}, {q(pat)})) AS INT) AS n_{name}"
        )
        ctes.append(
            f"s{i + 1} AS (SELECT *, regexp_replace(t{i}, {q(pat)}, "
            f"'{token}', 'g') AS t{i + 1} FROM "
            f"{'planted' if i == 0 else f's{i}'})"
        )
    last = len(PII_RULES)
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT doc_id, "
        + ", ".join(counts)
        + f", t{last} AS scrubbed FROM s{last}"
    )


ORACLES["pii_scrub"] = _pii_scrub_sql()

# --- contamination ---------------------------------------------------------

_CONTAM_SH = WORD_SHINGLES_SQL("text", C.CONTAM_SHINGLE_WORDS)
_NORM_TEXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

ORACLES["contamination_check"] = f"""
WITH corp AS (
  SELECT DISTINCT {HASH64_SQL('sh')} AS h FROM (
    SELECT unnest({_CONTAM_SH}) AS sh
    FROM documents WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  )
),
held AS (
  SELECT DISTINCT doc_id, {HASH64_SQL('sh')} AS h FROM (
    SELECT doc_id, unnest({_CONTAM_SH}) AS sh
    FROM documents WHERE doc_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
  )
)
SELECT held.doc_id,
  count(*) AS n_shingles,
  count(corp.h) AS n_matched,
  round(CAST(count(corp.h) AS DOUBLE) / count(*), 6) AS contamination
FROM held LEFT JOIN corp ON held.h = corp.h
GROUP BY held.doc_id
"""

# bloom-prefiltered tier: same semantics, different plan - the
# bloom only bounds scan-stage survivors; FPs die in the verify join
ORACLES["contamination_bloom"] = ORACLES["contamination_check"]

ORACLES["contamination_exact"] = f"""
WITH corp AS (
  SELECT DISTINCT {HASH64_SQL(_NORM_TEXT)} AS text_hash
  FROM documents WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  UNION
  -- planted leak: a deterministic subset of the held-out docs re-injected
  SELECT DISTINCT {HASH64_SQL(_NORM_TEXT)} AS text_hash
  FROM documents WHERE doc_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
    AND (doc_id // {C.CONTAM_MOD}) % {C.CONTAM_PLANT_MOD} = 0
)
SELECT doc_id, {HASH64_SQL(_NORM_TEXT)} AS text_hash
FROM documents
WHERE doc_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
  AND {HASH64_SQL(_NORM_TEXT)} IN (SELECT text_hash FROM corp)
"""

# decontamination recipe capstone: held shingle digests -> distinct-hit
# floor -> digest-window dedup -> split CASE, one SQL chain
# static-held decontam replay: the spread-hash budget subset split
# into held (id convention) and train; held digests gate train docs;
# split CASE — streaming == batch because the held state is static
ORACLES["corpus_recipe_decontam_replay"] = f"""
WITH f0 AS (
  SELECT doc_id FROM documents
  ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), f AS (
  SELECT d.doc_id, d.text FROM f0 JOIN documents d USING (doc_id)
), heldsh AS (
  SELECT DISTINCT {HASH64_SQL('sh')} AS h FROM (
    SELECT unnest({_CONTAM_SH}) AS sh
    FROM f WHERE doc_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
  )
), corpsh AS (
  SELECT DISTINCT doc_id, {HASH64_SQL('sh')} AS h FROM (
    SELECT doc_id, unnest({_CONTAM_SH}) AS sh
    FROM f WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  )
), bad AS (
  SELECT doc_id FROM corpsh JOIN heldsh USING (h)
  GROUP BY doc_id HAVING count(*) >= {C.DECONTAM_MIN_HITS}
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
  {_split_case_sql()} AS split
FROM f
WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  AND doc_id NOT IN (SELECT doc_id FROM bad)
"""

ORACLES["corpus_recipe_decontam"] = f"""
WITH heldsh AS (
  SELECT DISTINCT {HASH64_SQL('sh')} AS h FROM (
    SELECT unnest({_CONTAM_SH}) AS sh
    FROM documents WHERE doc_id % {C.CONTAM_MOD} = {C.CONTAM_RESIDUE}
  )
),
corpsh AS (
  SELECT DISTINCT doc_id, {HASH64_SQL('sh')} AS h FROM (
    SELECT doc_id, unnest({_CONTAM_SH}) AS sh
    FROM documents WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
  )
),
bad AS (
  SELECT doc_id FROM corpsh JOIN heldsh USING (h)
  GROUP BY doc_id HAVING count(*) >= {C.DECONTAM_MIN_HITS}
),
kept AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {C.CONTAM_MOD} <> {C.CONTAM_RESIDUE}
    AND doc_id NOT IN (SELECT doc_id FROM bad)
),
ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      min(doc_id) OVER (PARTITION BY md5(text)) AS kid
    FROM kept
  ) WHERE doc_id = kid
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
  {_split_case_sql()} AS split
FROM ded
"""

# --- multimodal ------------------------------------------------------------

ORACLES["multimodal_meta"] = """
SELECT doc_id,
  'image/fake' AS media_type,
  CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 + 16 AS INTEGER) AS width,
  CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 + 16 AS INTEGER) AS height,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""

# --- spatial / raster additions -------------------------------------------

_XY_T = (
    f"SELECT event_id AS t_id, CAST(user_id % {C.R2D_XMOD} AS DOUBLE) AS x,"
    f" CAST(event_id % {C.R2D_YMOD} AS DOUBLE) AS y"
    " FROM events WHERE event_type = 'purchase'"
)
_XY_S = (
    f"SELECT event_id AS s_id, CAST(user_id % {C.R2D_XMOD} AS DOUBLE) AS x,"
    f" CAST(event_id % {C.R2D_YMOD} AS DOUBLE) AS y"
    " FROM events WHERE event_type = 'click'"
)
# Fake media payload == UTF-8 text bytes, and the corpus is pure ASCII
# (byte == codepoint), so the byte-statistics decoder and the frame
# sampler are exactly expressible with ascii()/generate_series.
ORACLES["multimodal_decode"] = """
WITH chars AS (
  SELECT doc_id,
    ascii(text[CAST(unnest(generate_series(1, length(text))) AS INT)]) AS b
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, count(*) AS n_bytes,
  round(CAST(sum(b) AS DOUBLE) / count(*), 6) AS mean_byte,
  max(b) AS max_byte
FROM chars GROUP BY doc_id
"""

# Real PNG decode: the encoded pixel ramp is (doc_id + k) % 256 over a
# (doc_id%5+2) x (doc_id%3+2) gray image; integer sums are exact in
# float64, so the mean matches numpy bit-for-bit.
ORACLES["multimodal_decode_png"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 5 + 2 AS BIGINT) AS w,
    CAST(doc_id % 3 + 2 AS BIGINT) AS h
  FROM documents
),
vals AS (
  SELECT doc_id, w, h,
    (doc_id + unnest(generate_series(0, w * h - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

# Real WebP-lossless decode: same ramp as the PNG route, but gray
# encodes as RGB so every stat runs over 3 replicated channels (sum
# and count triple; mean and max are unchanged).
ORACLES["multimodal_decode_webp"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 5 + 2 AS BIGINT) AS w,
    CAST(doc_id % 3 + 2 AS BIGINT) AS h
  FROM documents
),
vals AS (
  SELECT doc_id, w, h,
    (doc_id + unnest(generate_series(0, w * h - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) * 3 AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

# Real TIFF decode: page-0 gray pixel ramp (doc_id*3 + k) % 256 over a
# (doc_id%4+2) x (doc_id%6+2) deflate-compressed GeoTIFF.
ORACLES["multimodal_decode_tiff"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 6 + 2 AS BIGINT) AS w,
    CAST(doc_id % 4 + 2 AS BIGINT) AS h
  FROM documents
),
vals AS (
  SELECT doc_id, w, h,
    (doc_id * 3 + unnest(generate_series(0, w * h - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

# Real paged-TIFF frame sampling: every 2nd page of a (doc_id%6+2)-frame
# container; frame_byte = max of the 4x5 page ramp (doc_id*5 + f*7 + k) % 256.
ORACLES["frame_sample_tiff"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 6 + 2 AS BIGINT) AS nf FROM documents
), frames AS (
  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM spec
), sampled AS (
  SELECT doc_id, f FROM frames WHERE f % 2 = 0
), px AS (
  SELECT doc_id, f,
    (doc_id * 5 + f * 7 + unnest(generate_series(0, 19))) % 256 AS v
  FROM sampled
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
  CAST(max(v) AS INTEGER) AS frame_byte
FROM px GROUP BY doc_id, f
"""

# Real MJPEG frame sampling: every 2nd frame of a (doc_id%6+2)-frame
# concatenated-JPEG stream; constant even value (doc_id*2 + f*4) % 256
# per frame decodes losslessly, so frame_byte is the constant itself.
# animated WebP: lossless VP8L frames, so sampled maxima are the
# constants the fixture painted
# Real lossy-WebP (VP8) decode: one-macroblock DC-only frames at
# quantizer index 40 (y2dc = 2*DC_Q[40] = 74) reconstruct in closed
# form: wht_dc = (level*74 + 3) >> 3, pixel = 128 + ((wht_dc + 4) >> 3),
# then the BT.601 integer conversion with neutral chroma. floor()
# divisions replicate arithmetic shifts on negatives.
ORACLES["multimodal_decode_webp_lossy"] = """
WITH base AS (
  SELECT doc_id, CAST(doc_id % 9 AS BIGINT) - 4 AS v FROM documents
), lum AS (
  SELECT doc_id,
    least(255, greatest(0,
      128 + CAST(floor((CAST(floor((v * 74 + 3) / 8.0) AS BIGINT) + 4)
                       / 8.0) AS BIGINT)
    )) AS yv
  FROM base
), px AS (
  SELECT doc_id,
    least(255, greatest(0,
      CAST(floor((298 * (yv - 16) + 128) / 256.0) AS BIGINT))) AS rgb
  FROM lum
)
SELECT doc_id,
  CAST(768 AS BIGINT) AS n_bytes,
  round(CAST(rgb AS DOUBLE), 6) AS mean_byte,
  CAST(rgb AS INTEGER) AS max_byte,
  CAST(16 AS INTEGER) AS width,
  CAST(16 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS n_channels
FROM px
"""

# Real GIF decode: identity-gray-palette LZW round-trips exactly, so
# the stats are the ramp (doc_id*11 + k) % 256 over a
# (doc_id%7+2) x (doc_id%4+2) image (odd doc_ids interlaced — a row
# permutation, stats invariant).
ORACLES["multimodal_decode_gif"] = """
WITH px AS (
  SELECT doc_id,
    CAST(doc_id % 7 + 2 AS BIGINT) AS w,
    CAST(doc_id % 4 + 2 AS BIGINT) AS h
  FROM documents
),
vals AS (
  SELECT doc_id, w, h,
    (doc_id * 11 + unnest(generate_series(0, w * h - 1))) % 256 AS v
  FROM px
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(any_value(w) AS INTEGER) AS width,
  CAST(any_value(h) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_channels
FROM vals GROUP BY doc_id
"""

# Animated GIF: constant full-canvas frames stored as changed-bbox
# sub-rectangles (disposal=1); compositing reconstructs each constant
# canvas exactly, so sampled maxima are the painted constants.
ORACLES["frame_sample_gif"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 5 + 2 AS BIGINT) AS nf FROM documents
), frames AS (
  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM spec
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
  CAST((doc_id * 3 + f * 17) % 256 AS INTEGER) AS frame_byte
FROM frames WHERE f % 2 = 0
"""

ORACLES["frame_sample_webp"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 5 + 2 AS BIGINT) AS nf FROM documents
), frames AS (
  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM spec
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
  CAST((doc_id * 7 + f * 13) % 256 AS INTEGER) AS frame_byte
FROM frames WHERE f % 2 = 0
"""

ORACLES["frame_sample_mjpeg"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 6 + 2 AS BIGINT) AS nf FROM documents
), frames AS (
  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM spec
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
  CAST((doc_id * 2 + f * 4) % 256 AS INTEGER) AS frame_byte
FROM frames WHERE f % 2 = 0
"""

# Real baseline-JPEG decode: constant even-valued gray images quantize
# losslessly (DC-only blocks, Annex-K Q[0,0]=16 | 8*(v-128) for even v),
# so the decoded stats are the constant itself — closed-form oracle.
ORACLES["multimodal_decode_jpeg"] = """
SELECT doc_id,
  CAST(8 * (doc_id % 3 + 1) * 8 * (doc_id % 2 + 1) AS BIGINT) AS n_bytes,
  round(CAST((doc_id * 2) % 256 AS DOUBLE), 6) AS mean_byte,
  CAST((doc_id * 2) % 256 AS INTEGER) AS max_byte,
  CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS width,
  CAST(8 * (doc_id % 2 + 1) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_channels
FROM documents
"""

# Progressive JPEG carries the same quantized coefficients as baseline
# (only the scan layout differs), so the constant even-valued fixture
# shares the baseline closed-form oracle.
ORACLES["multimodal_decode_jpeg_progressive"] = ORACLES[
    "multimodal_decode_jpeg"
]

# FLAC is lossless: the deterministic ramp fixture (base..base+n-1 per
# channel, channel c offset by 100c) decodes exactly, so every statistic
# is a closed form of doc_id. n = 100 + (doc_id%7)*10 frames,
# ch = 1 + doc_id%2 channels, base = doc_id%50.
ORACLES["multimodal_decode_flac"] = """
WITH p AS (
  SELECT doc_id,
    doc_id % 50 AS base,
    100 + (doc_id % 7) * 10 AS n,
    1 + doc_id % 2 AS ch
  FROM documents
)
SELECT doc_id,
  CAST(n * ch AS BIGINT) AS n_bytes,
  round(base + (n - 1) / 2.0 + CASE WHEN ch = 2 THEN 50 ELSE 0 END, 6)
    AS mean_byte,
  CAST(base + n - 1 + CASE WHEN ch = 2 THEN 100 ELSE 0 END AS INTEGER)
    AS max_byte,
  CAST(8000 AS INTEGER) AS width,
  CAST(n AS INTEGER) AS height,
  CAST(ch AS INTEGER) AS n_channels
FROM p
"""

# Real color-JPEG decode (4:2:0 YCbCr): constant gray-RGB images are
# exact (zero chroma coefficients + lossless even-luma DC), stats over
# the (H, W, 3) pixel array.
ORACLES["multimodal_decode_jpeg_color"] = """
SELECT doc_id,
  CAST(16 * (doc_id % 2 + 1) * 16 * 3 AS BIGINT) AS n_bytes,
  round(CAST((doc_id * 2) % 256 AS DOUBLE), 6) AS mean_byte,
  CAST((doc_id * 2) % 256 AS INTEGER) AS max_byte,
  CAST(16 * (doc_id % 2 + 1) AS INTEGER) AS width,
  CAST(16 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS n_channels
FROM documents
"""

# Real WAV decode: 16-bit mono PCM ramp ((doc_id*7 + i) % 201) - 100 over
# (doc_id % 50 + 10) frames at 8 kHz; integer sums exact in float64.
ORACLES["multimodal_decode_wav"] = """
WITH spec AS (
  SELECT doc_id, CAST(doc_id % 50 + 10 AS BIGINT) AS n FROM documents
),
s AS (
  SELECT doc_id, n,
    (doc_id * 7 + unnest(generate_series(0, n - 1))) % 201 - 100 AS v
  FROM spec
)
SELECT doc_id,
  count(*) AS n_bytes,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_byte,
  CAST(max(v) AS INTEGER) AS max_byte,
  CAST(8000 AS INTEGER) AS width,
  CAST(any_value(n) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_channels
FROM s GROUP BY doc_id
"""

ORACLES["frame_sample"] = """
WITH fr AS (
  SELECT doc_id, text,
    CAST(unnest(generate_series(0,
      CAST(ceil(length(text) / 64.0) AS BIGINT) - 1)) AS INT) AS frame_idx
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, frame_idx,
  ascii(text[frame_idx * 64 + 1]) AS frame_byte
FROM fr
"""

# Resize stand-in: n = max(1, floor(len * min(64*64 / max(w*h, 1), 1)));
# the scale arithmetic is exact IEEE double on both engines, so floor is
# safe. Payload is the blob truncated to n bytes.
ORACLES["multimodal_resize"] = """
WITH m AS (
  SELECT doc_id,
    CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 + 16 AS BIGINT) AS w,
    CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 + 16 AS BIGINT) AS h,
    CAST(octet_length(encode(text)) AS BIGINT) AS len
  FROM documents
),
n AS (
  SELECT doc_id,
    GREATEST(CAST(1 AS BIGINT),
      CAST(floor(len * LEAST(4096.0 / GREATEST(w * h, 1), 1.0)) AS BIGINT)
    ) AS n_bytes
  FROM m
)
SELECT doc_id,
  CAST(64 AS INTEGER) AS width,
  CAST(64 AS INTEGER) AS height,
  n_bytes,
  CAST(n_bytes AS INTEGER) AS payload_bytes
FROM n
"""

ORACLES["resample_2d_nearest"] = f"""
WITH t AS ({_XY_T}), s AS ({_XY_S}), j AS (
  SELECT t.t_id, s.s_id,
    sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) AS d
  FROM t JOIN s
    ON abs(t.x - s.x) <= {C.R2D_RADIUS} AND abs(t.y - s.y) <= {C.R2D_RADIUS}
  WHERE sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) <= {C.R2D_RADIUS}
)
SELECT t_id, s_id AS nearest_id, round(d, 6) AS dist FROM j
QUALIFY row_number() OVER (PARTITION BY t_id ORDER BY d ASC, s_id ASC) = 1
"""

ORACLES["resample_grid_mapped"] = f"""
WITH src AS (
  SELECT CAST(event_id % {C.GRID_SRC_H} AS INT) AS s_row,
         CAST(user_id % {C.GRID_SRC_W} AS INT) AS s_col,
         {_dsum('value')} AS value_sum,
         count(*) AS n_points
  FROM events GROUP BY 1, 2
),
map AS (
  -- target 32x24 grid at 2x pixel size, origin 0.3: the nearest source
  -- pixel of target (r, c) is (2r+1, 2c+1) in closed form
  SELECT CAST(i.range % {C.GRID_TGT_W} AS INT) AS t_col,
         CAST(i.range // {C.GRID_TGT_W} AS INT) AS t_row,
         CAST(2 * (i.range % {C.GRID_TGT_W}) + 1 AS INT) AS s_col,
         CAST(2 * (i.range // {C.GRID_TGT_W}) + 1 AS INT) AS s_row
  FROM range(0, {C.GRID_TGT_W * C.GRID_TGT_H}) i
)
SELECT m.t_row, m.t_col, s.value_sum, s.n_points
FROM map m JOIN src s ON m.s_row = s.s_row AND m.s_col = s.s_col
"""

ORACLES["coverage_real"] = f"""
WITH track AS (
  SELECT
    degrees(asin({C.COV_SIN_INCL} * sin({C.COV_U_STEP} * CAST(k.range AS DOUBLE)))) AS lat_s,
    {C.COV_NODE_LON} + degrees(atan2(
        {C.COV_COS_INCL} * sin({C.COV_U_STEP} * CAST(k.range AS DOUBLE)),
        cos({C.COV_U_STEP} * CAST(k.range AS DOUBLE))))
      - {C.COV_DRIFT_STEP} * CAST(k.range AS DOUBLE) AS lon_s
  FROM range(0, {C.COV_TRACK_N}) k
),
grid AS (
  SELECT g.range % {C.COV_GRID_N} AS gi, g.range // {C.COV_GRID_N} AS gj
  FROM range(0, {C.COV_GRID_N * C.COV_GRID_N}) g
),
pts AS (
  SELECT r.r_name, gi, gj,
    (r.r_regionkey * 60 - 150) + (gi + 0.5) * 40.0 / {float(C.COV_GRID_N)} AS lon_g,
    (r.r_regionkey * 25 - 60) + (gj + 0.5) * 30.0 / {float(C.COV_GRID_N)} AS lat_g
  FROM region r, grid
),
cov AS (
  SELECT r_name, gi, gj,
    max(CASE WHEN round(acos(greatest(-1.0, least(1.0,
        sin(radians(lat_g)) * sin(radians(lat_s))
        + cos(radians(lat_g)) * cos(radians(lat_s))
          * cos(radians(lon_g - lon_s))))), 6) <= {C.COV_HALF_SWATH_RAD}
      THEN 1 ELSE 0 END) AS covered
  FROM pts, track
  GROUP BY 1, 2, 3
)
SELECT r_name,
  round(100.0 * SUM(covered) / {C.COV_GRID_N * C.COV_GRID_N}, 4) AS coverage_pct,
  round(100.0 * SUM(covered) / {C.COV_GRID_N * C.COV_GRID_N}, 4)
    >= {C.COVERAGE_MIN_PCT} AS kept
FROM cov GROUP BY r_name
"""

ORACLES["resample_coarsest"] = f"""
WITH pts AS (
  SELECT event_type AS band,
    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 ELSE 4 END AS res,
    CAST(user_id % {C.R2D_XMOD} AS DOUBLE) AS x,
    CAST(event_id % {C.R2D_YMOD} AS DOUBLE) AS y,
    value
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
),
r AS (SELECT max(res) AS target_res FROM pts)
SELECT band,
  CAST(floor(y / r.target_res) AS INT) AS t_row,
  CAST(floor(x / r.target_res) AS INT) AS t_col,
  {_dsum('value')} AS value_sum,
  count(*) AS n_points
FROM pts, r
GROUP BY 1, 2, 3
"""

ORACLES["weighted_resample_2d"] = f"""
WITH t AS ({_XY_T}),
s AS (
  SELECT CAST(user_id % {C.R2D_XMOD} AS DOUBLE) AS x,
         CAST(event_id % {C.R2D_YMOD} AS DOUBLE) AS y,
         value
  FROM events WHERE event_type = 'click'
),
j AS (
  SELECT t.t_id, s.value,
    sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) AS d
  FROM t JOIN s
    ON abs(t.x - s.x) <= {C.R2D_RADIUS} AND abs(t.y - s.y) <= {C.R2D_RADIUS}
  WHERE sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) <= {C.R2D_RADIUS}
)
SELECT t_id,
  round(SUM(value * (1.0/(d + 1e-9))) / SUM(1.0/(d + 1e-9)), 4) AS resampled_value,
  count(*) AS n_neighbors
FROM j GROUP BY t_id
"""

ORACLES["resample_2d_nearest_left"] = f"""
WITH t AS ({_XY_T}), s AS ({_XY_S}), j AS (
  SELECT t.t_id, s.s_id,
    sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) AS d
  FROM t LEFT JOIN s
    ON abs(t.x - s.x) <= {C.R2D_RADIUS_LEFT}
   AND abs(t.y - s.y) <= {C.R2D_RADIUS_LEFT}
   AND sqrt(power(t.x - s.x, 2) + power(t.y - s.y, 2)) <= {C.R2D_RADIUS_LEFT}
)
SELECT t_id, s_id AS nearest_id, round(d, 6) AS dist FROM j
QUALIFY row_number() OVER (
  PARTITION BY t_id ORDER BY d ASC NULLS LAST, s_id ASC NULLS LAST) = 1
"""

_SZA_EV = SZA_SQL(
    "ts",
    "CAST(user_id % 360 - 180 AS DOUBLE)",
    "CAST(user_id % 180 - 90 AS DOUBLE)",
)
ORACLES["sunlight_coverage"] = f"""
WITH s AS (
  SELECT event_type,
    CASE WHEN round({_SZA_EV}, 4) < 90.0 THEN 1 ELSE 0 END AS lit_flag
  FROM events
)
SELECT event_type, round(avg(lit_flag) * 100.0, 4) AS sunlight_pct,
       count(*) AS n_points
FROM s GROUP BY event_type
HAVING sunlight_pct >= {C.SUNLIGHT_MIN_PCT} AND sunlight_pct <= {C.SUNLIGHT_MAX_PCT}
"""


def _pyramid_level_sql(factor: int) -> str:
    return f"""
SELECT {factor} AS level, CAST(FLOOR(event_id / {factor}) AS BIGINT) AS block,
  round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value), 6)
    AS value_avg,
  count(*) AS n_rows
FROM events GROUP BY 2"""


ORACLES["overview_pyramid"] = "\nUNION ALL\n".join(
    _pyramid_level_sql(f) for f in C.PYRAMID_FACTORS
)

ORACLES["native_upsample"] = f"""
WITH a AS (
  SELECT CAST(FLOOR(event_id / 64) AS BIGINT) AS block,
    round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value), 6)
      AS value
  FROM events GROUP BY 1
)
SELECT a.block * {C.UPSAMPLE_FACTOR} + o.off AS up_id, a.block,
       CAST(o.off AS INTEGER) AS offset, a.value
FROM a CROSS JOIN (SELECT unnest(range({C.UPSAMPLE_FACTOR})) AS off) o
"""

# --- dedup / similarity additions -----------------------------------------

_NEARDUP_CELL = " + ".join(
    f"(CASE WHEN CAST(embedding[{i + 1}] AS DOUBLE) >= 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(C.NEARDUP_BITS)
)
ORACLES["embedding_neardup"] = f"""
WITH c AS (
  SELECT vec_id, embedding, ({_NEARDUP_CELL}) AS cell FROM embeddings
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine_sim
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= {C.NEARDUP_THRESHOLD}
"""

_ROWS_PER_BAND = C.MINHASH_NUM_HASHES // C.MINHASH_BANDS
_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sigs".format(
        b=b,
        concat=" || '|' || ".join(
            f"CAST(minhash_{i} AS VARCHAR)"
            for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
        ),
    )
    for b in range(C.MINHASH_BANDS)
)
ORACLES["minhash_lsh_pairs"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sized AS (
  SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 1000
), fb AS (
  SELECT bk.doc_id, bk.band, bk.bh FROM bk JOIN sized USING (band, bh)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM fb a JOIN fb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""

# Incremental (daily-increment) dedup: batch = every 10th doc, corpus =
# the rest. Exact tier flags batch docs against corpus digests + earlier
# batch occurrences; LSH tier emits (batch, corpus) band-bucket matches.
ORACLES["incremental_dedup"] = """
WITH c AS (
  SELECT md5(text) AS h, min(doc_id) AS corpus_id
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
), b AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
), b2 AS (
  SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS batch_first FROM b
)
SELECT b2.doc_id,
  coalesce(c.corpus_id,
           CASE WHEN b2.batch_first < b2.doc_id THEN b2.batch_first END)
    AS dup_of,
  CAST(CASE WHEN c.corpus_id IS NULL AND b2.batch_first = b2.doc_id
       THEN 1 ELSE 0 END AS INTEGER) AS is_new
FROM b2 LEFT JOIN c USING (h)
"""

_BAND_SELECTS_CORPUS = _BAND_SELECTS.replace("FROM sigs", "FROM csigs")
_BAND_SELECTS_BATCH = _BAND_SELECTS.replace("FROM sigs", "FROM bsigs")
ORACLES["incremental_lsh_matches"] = f"""
WITH csh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents WHERE doc_id % 10 <> 0
), csigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM csh GROUP BY doc_id
), bsh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents WHERE doc_id % 10 = 0
), bsigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM bsh GROUP BY doc_id
), cbk AS (
{_BAND_SELECTS_CORPUS}
), bbk AS (
{_BAND_SELECTS_BATCH}
)
SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
FROM cbk c JOIN bbk b ON c.band = b.band AND c.bh = b.bh
"""

ORACLES["incremental_neardup"] = f"""
WITH csh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents WHERE doc_id % 10 <> 0
), csigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM csh GROUP BY doc_id
), bsh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents WHERE doc_id % 10 = 0
), bsigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM bsh GROUP BY doc_id
), cbk AS (
{_BAND_SELECTS_CORPUS}
), bbk AS (
{_BAND_SELECTS_BATCH}
), cand AS (
  SELECT DISTINCT b.doc_id AS id_a, c.doc_id AS id_b
  FROM cbk c JOIN bbk b ON c.band = b.band AND c.bh = b.bh
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM documents
), p AS (
  SELECT c.id_a, c.id_b,
    round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2))) AS DOUBLE)
        ELSE 0.0 END, 6) AS jaccard
  FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id
)
SELECT id_a AS batch_id, id_b AS corpus_id, jaccard FROM p
WHERE jaccard >= {C.JACCARD_THRESHOLD}
"""

# train/eval leakage audit: split CASE + the incremental LSH chain with
# the split as the partitioner + jaccard verify, rolled up per eval doc
ORACLES["split_leakage_audit"] = f"""
WITH sp AS (
  SELECT doc_id, {_split_case_sql()} AS split FROM documents
), csh AS (
  SELECT d.doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents d JOIN sp USING (doc_id) WHERE sp.split = 'train'
), csigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM csh GROUP BY doc_id
), bsh AS (
  SELECT d.doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM documents d JOIN sp USING (doc_id) WHERE sp.split <> 'train'
), bsigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM bsh GROUP BY doc_id
), cbk AS (
{_BAND_SELECTS_CORPUS}
), bbk AS (
{_BAND_SELECTS_BATCH}
), cand AS (
  SELECT DISTINCT b.doc_id AS id_a, c.doc_id AS id_b
  FROM cbk c JOIN bbk b ON c.band = b.band AND c.bh = b.bh
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM documents
), p AS (
  SELECT c.id_a, c.id_b,
    round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2))) AS DOUBLE)
        ELSE 0.0 END, 6) AS jaccard
  FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id
), per AS (
  SELECT id_a AS doc_id,
    count(*) AS n_candidates,
    CAST(sum(CASE WHEN jaccard >= {C.JACCARD_THRESHOLD} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_leaks,
    max(CASE WHEN jaccard >= {C.JACCARD_THRESHOLD} THEN jaccard END)
      AS max_jaccard
  FROM p GROUP BY id_a
)
SELECT per.doc_id, sp.split, per.n_candidates, per.n_leaks, per.max_jaccard
FROM per JOIN sp USING (doc_id)
"""

# LSH candidate chain + n-gram verify tier: the contract (and scale)
# form of the jaccard/containment queries — candidates come from banded
# minhash LSH, never from a within-block self-join.
_LSH_VERIFY_CTES = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sized AS (
  SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 1000
), fb AS (
  SELECT bk.doc_id, bk.band, bk.bh FROM bk JOIN sized USING (band, bh)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fb a JOIN fb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM documents
)
"""

ORACLES["ngram_jaccard_pairs"] = _LSH_VERIFY_CTES + f"""
, p AS (
  SELECT c.id_a, c.id_b,
    round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2))) AS DOUBLE)
        ELSE 0.0 END, 6) AS jaccard
  FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id
)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= {C.JACCARD_THRESHOLD}
"""

# Paragraph-level near-dup: the identical LSH + verify chain over the
# paragraph-exploded fixture (3 paragraphs per doc; sibling docs 2k and
# 2k+1 share templates up to the tail word), keyed doc_id*4 + position.
_PARA_LSH_CTES = f"""
WITH pd AS (
  SELECT doc_id AS d, j FROM documents, unnest(generate_series(0, 2)) AS t(j)
), paras AS (
  SELECT d * 4 + j AS doc_id,
    concat_ws(' ',
      'w' || CAST((d // 2) * 5 + j * 11 + 0 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 1 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 2 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 3 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 4 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 5 AS VARCHAR),
      'w' || CAST((d // 2) * 5 + j * 11 + 6 AS VARCHAR),
      't' || CAST(d % 2 AS VARCHAR)) AS text
  FROM pd
), sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM paras
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sized AS (
  SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 1000
), fb AS (
  SELECT bk.doc_id, bk.band, bk.bh FROM bk JOIN sized USING (band, bh)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fb a JOIN fb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), s AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM paras
)
"""

ORACLES["paragraph_neardup"] = _PARA_LSH_CTES + f"""
, p AS (
  SELECT c.id_a, c.id_b,
    round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2))) AS DOUBLE)
        ELSE 0.0 END, 6) AS jaccard
  FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id
)
SELECT CAST(id_a // 4 AS BIGINT) AS doc_a,
  CAST(id_a % 4 AS INTEGER) AS para_a,
  CAST(id_b // 4 AS BIGINT) AS doc_b,
  CAST(id_b % 4 AS INTEGER) AS para_b,
  jaccard
FROM p WHERE jaccard >= {C.JACCARD_THRESHOLD}
"""

ORACLES["ngram_containment_pairs"] = _LSH_VERIFY_CTES + f"""
, p AS (
  SELECT c.id_a, c.id_b,
    round(CASE WHEN len(a.sh2) > 0
      THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE) / len(a.sh2)
      ELSE 0.0 END, 6) AS containment_a,
    round(CASE WHEN len(b.sh2) > 0
      THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE) / len(b.sh2)
      ELSE 0.0 END, 6) AS containment_b
  FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id
)
SELECT id_a, id_b, containment_a, containment_b FROM p
WHERE containment_a >= {C.CONTAINMENT_THRESHOLD}
   OR containment_b >= {C.CONTAINMENT_THRESHOLD}
"""

# the recovery audit replays the salted chunking twice: chunks in id
# order (what salting actually emits) vs chunks in rotated-hash order
# (what one recovery round emits); n_recovered = rotated-only pairs.
_LSH_T = C.LSH_STATS_SALT_THRESHOLD
_LSH_ROT = HASH64_SQL("CAST(bk.doc_id AS VARCHAR)", seed=C.LSH_ROT_SEED)
ORACLES["lsh_bucket_stats"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sizes AS (
  SELECT band, bh, count(*) AS n FROM bk GROUP BY band, bh
  HAVING count(*) >= 2
), salted AS (
  SELECT band, bh FROM sizes WHERE n > {_LSH_T} AND n <= 100000
), mem AS (
  SELECT bk.doc_id, bk.band, bk.bh, {_LSH_ROT} AS rh
  FROM bk JOIN salted USING (band, bh)
), ranked AS (
  SELECT doc_id, band, bh,
    CAST(floor((row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) - 1)
               / {_LSH_T}) AS BIGINT) AS c_id,
    CAST(floor((row_number() OVER (PARTITION BY band, bh ORDER BY rh, doc_id) - 1)
               / {_LSH_T}) AS BIGINT) AS c_rot
  FROM mem
), p_id AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ranked a JOIN ranked b
    ON a.band = b.band AND a.bh = b.bh AND a.c_id = b.c_id
   AND a.doc_id < b.doc_id
), p_rot AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ranked a JOIN ranked b
    ON a.band = b.band AND a.bh = b.bh AND a.c_rot = b.c_rot
   AND a.doc_id < b.doc_id
), rec AS (
  SELECT count(*) AS n_recovered
  FROM (SELECT id_a, id_b FROM p_rot EXCEPT SELECT id_a, id_b FROM p_id)
)
SELECT count(*) AS n_buckets,
  CAST(sum(CASE WHEN n > {_LSH_T} AND n <= 100000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_salted,
  CAST(sum(CASE WHEN n > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  max(n) AS max_bucket_size,
  (SELECT n_recovered FROM rec) AS n_recovered
FROM sizes
"""

# The iterative min-label connected-components operator, replayed in SQL
# as a recursive transitive closure: min reachable id == converged label.
# The CTE chain is shared between duplicate_clusters and dedup_corpus.
_CC_CTES = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sized AS (
  SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 1000
), fb AS (
  SELECT bk.doc_id, bk.band, bk.bh FROM bk JOIN sized USING (band, bh)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fb a JOIN fb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
), labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), clustered AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l USING (doc_id)
)
"""

ORACLES["duplicate_clusters"] = _CC_CTES + """
SELECT doc_id, cluster_id,
  CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS is_canonical,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM clustered
"""

# dedup attribution: the recursive closure re-rooted onto the source
# rollup — non-canonical members are the wasted fetches, ppm matches
# Spark's double-division-then-truncate cast via //
ORACLES["dedup_source_attribution"] = _CC_CTES + """
, att AS (
  SELECT d.source,
    count(*) AS n_docs,
    sum(CASE WHEN c.doc_id = c.cluster_id THEN 0 ELSE 1 END) AS n_dup
  FROM clustered c JOIN documents d USING (doc_id)
  GROUP BY d.source
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_dup AS BIGINT) AS n_dup,
  CAST(n_dup * 1000000 // n_docs AS BIGINT) AS dup_ppm
FROM att
"""

# end-to-end dedup: only the canonical doc of each cluster survives
ORACLES["dedup_corpus"] = _CC_CTES + """
, cl_sized AS (
  SELECT doc_id, cluster_id,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM clustered
)
SELECT s.doc_id, s.cluster_size, d.n_chars
FROM cl_sized s JOIN documents d USING (doc_id)
WHERE s.doc_id = s.cluster_id
"""

# production end-to-end dedup: the n-gram Jaccard VERIFY tier sits
# between LSH candidates and the recursive-closure clustering, so only
# confirmed near-dup edges link documents.
_CC_CTES_VERIFIED = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle FROM documents
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), sized AS (
  SELECT band, bh FROM bk GROUP BY band, bh HAVING count(*) <= 1000
), fb AS (
  SELECT bk.doc_id, bk.band, bk.bh FROM bk JOIN sized USING (band, bh)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fb a JOIN fb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), s2 AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM documents
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN s2 a ON c.id_a = a.doc_id JOIN s2 b ON c.id_b = b.doc_id
  WHERE round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2))) AS DOUBLE)
        ELSE 0.0 END, 6) >= {C.JACCARD_THRESHOLD}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
), labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), clustered AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l USING (doc_id)
)
"""

# LSH recall audit: BOTH sides replayed — the md5 minhash/banding
# candidate chain AND the quadratic exact-jaccard ground truth on the
# budget sample — then the same count arithmetic
def _lsh_recall_oracle() -> str:
    return f"""
WITH lrfix AS (
  SELECT f0.doc_id, d.text || ' v' || (f0.doc_id % 3) AS text
  FROM (
    SELECT doc_id FROM documents
    ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
    LIMIT {C.REPLAY_ROW_BUDGET}
  ) f0 JOIN documents d ON d.doc_id = (f0.doc_id // 3) * 3
), shm AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_MH})) AS shingle
  FROM lrfix
), sigs AS (
  SELECT doc_id,
  {_MINHASH_COLS}
  FROM shm GROUP BY doc_id
), bk AS (
{_BAND_SELECTS}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), s2 AS (
  SELECT doc_id, list_distinct({_SHINGLES_J}) AS sh2 FROM lrfix
), truep AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
  WHERE round(
      CASE WHEN len(list_distinct(list_concat(a.sh2, b.sh2))) > 0
        THEN CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh2, b.sh2)))
                    AS DOUBLE)
        ELSE 0.0 END, 6) >= {C.JACCARD_THRESHOLD}
), hit AS (
  SELECT t.id_a FROM truep t JOIN cand c USING (id_a, id_b)
), counts AS (
  SELECT (SELECT count(*) FROM truep) AS n_true,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM hit) AS n_hit
)
SELECT n_true, n_candidates, n_hit,
  round(CASE WHEN n_true > 0
    THEN CAST(n_hit AS DOUBLE) / n_true ELSE 0.0 END, 6) AS recall,
  round(CASE WHEN n_candidates > 0
    THEN CAST(n_hit AS DOUBLE) / n_candidates ELSE 0.0 END, 6)
    AS precision
FROM counts
"""


ORACLES["lsh_recall_audit"] = _lsh_recall_oracle()

# incremental near-dup recipe replay == the batch near-dup recipe on
# the concatenation: the SAME verified-CC chain (md5 minhash -> bands
# -> jaccard verify -> recursive closure), re-rooted onto the jittered
# leader-text fixture and gated at the recipe threshold; survivors are
# the cluster canonicals, then the split CASE. The fixture's clusters
# are cliques arriving in id order, so streaming first-seen equals the
# batch canonical (the equality the replay proves).
def _recipe_neardup_oracle() -> str:
    fixture = f"""
  SELECT f0.doc_id,
    d.text || ' v' || (f0.doc_id % 3) AS text
  FROM (
    SELECT doc_id FROM documents
    ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
    LIMIT {C.REPLAY_ROW_BUDGET}
  ) f0 JOIN documents d ON d.doc_id = (f0.doc_id // 3) * 3
"""
    frag = _CC_CTES_VERIFIED.replace("FROM documents", "FROM ndfix")
    frag = frag.replace(
        f">= {C.JACCARD_THRESHOLD}", f">= {C.RECIPE_ND_THRESHOLD}"
    )
    frag = frag.replace(
        "WITH RECURSIVE sh AS (",
        f"WITH RECURSIVE ndfix AS ({fixture}), sh AS (",
    )
    return frag + f"""
SELECT c.doc_id, CAST(length(n.text) AS BIGINT) AS n_chars,
  {_split_case_sql()} AS split
FROM clustered c JOIN ndfix n USING (doc_id)
WHERE c.doc_id = c.cluster_id
"""


ORACLES["corpus_recipe_neardup_replay"] = _recipe_neardup_oracle()

# the release capstone: quality + blocklist gates re-root the
# recursive-closure chain onto the surviving subset, then the
# best-representative argmax and the cluster-keyed split bucket
ORACLES["corpus_release"] = (
    f"""
WITH RECURSIVE t0 AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), q_ok AS (
  SELECT doc_id, text, toks FROM t0
  WHERE NOT ({_QF_NTOK} < 20)
    AND NOT ({_QF_STOP} < 0.03)
    AND NOT ({_QF_SCORE} < 0.5)
), bl AS (
  SELECT doc_id, text,
    len(toks) AS n_tokens,
    len(list_filter(list_transform(toks, x -> lower(x)),
        x -> x IN ({_BL_TERMS}))) AS n_hits,
    len(list_distinct(list_filter(list_transform(toks, x -> lower(x)),
        x -> x IN ({_BL_TERMS})))) AS n_distinct_hits
  FROM q_ok
), kept AS (
  SELECT doc_id, text FROM bl
  WHERE NOT (n_distinct_hits >= {C.BLOCKLIST_MIN_DISTINCT}
             OR n_hits * 10000 > {C.BLOCKLIST_MAX_DENSITY_BP} * n_tokens)
),
"""
    + _CC_CTES.replace("WITH RECURSIVE ", "", 1).replace(
        "FROM documents", "FROM kept"
    )
    + f"""
, cl_sized AS (
  SELECT doc_id, cluster_id,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM clustered
), ranked_rel AS (
  SELECT s.doc_id, s.cluster_id, s.cluster_size,
    CAST(length(k.text) AS BIGINT) AS n_chars,
    row_number() OVER (PARTITION BY s.cluster_id
                       ORDER BY length(k.text) DESC, s.doc_id ASC) AS rn
  FROM cl_sized s JOIN kept k USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, n_chars,
  {{split_case}} AS split
FROM ranked_rel WHERE rn = 1
""".replace(
        "{split_case}",
        _split_case_over("CAST(cluster_id AS VARCHAR)", C.SPLIT_SEED),
    )
)

# quality-preferred dedup: each cluster ships its highest-quality
# member (n_chars desc, doc_id asc) — the argmax window over the same
# recursive closure
ORACLES["dedup_best_representative"] = _CC_CTES + """
, cl_sized AS (
  SELECT doc_id, cluster_id,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM clustered
), ranked_q AS (
  SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars,
    row_number() OVER (PARTITION BY s.cluster_id
                       ORDER BY d.n_chars DESC, s.doc_id ASC) AS rn
  FROM cl_sized s JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM ranked_q WHERE rn = 1
"""

# near-dup-atomic split: the dataset_split bucket predicate keyed on
# the connected-component cluster id
ORACLES["cluster_atomic_split"] = _CC_CTES + f"""
SELECT doc_id, cluster_id,
  {{split_case}} AS split
FROM clustered
""".replace(
    "{split_case}", _split_case_over("CAST(cluster_id AS VARCHAR)", C.SPLIT_SEED)
)

ORACLES["dedup_corpus_verified"] = _CC_CTES_VERIFIED + """
, cl_sized AS (
  SELECT doc_id, cluster_id,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM clustered
)
SELECT s.doc_id, s.cluster_size, d.n_chars
FROM cl_sized s JOIN documents d USING (doc_id)
WHERE s.doc_id = s.cluster_id
"""


# DSIR importance weights: target LM (lang='en' docs) vs raw-corpus LM,
# both the same smoothed top-k construction as unigram_logprob; the
# per-token expression is the identical double math on both engines.
_DSIR_SCORED = f"""
tok AS (
  SELECT doc_id, lower(unnest({{toks}})) AS token FROM documents
), ttok AS (
  SELECT lower(unnest({{toks}})) AS token FROM documents
  WHERE lang = '{C.DSIR_TARGET_LANG}'
), tc AS (
  SELECT token, count(*) AS c FROM ttok GROUP BY token
), ts AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM tc
), tm AS (
  SELECT token, c FROM tc ORDER BY c DESC, token LIMIT {C.DSIR_VOCAB_K}
), rc AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), rs AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM rc
), rm AS (
  SELECT token, c FROM rc ORDER BY c DESC, token LIMIT {C.DSIR_VOCAB_K}
), scored AS (
  SELECT t.doc_id,
    ln((coalesce(tm.c, 0) + {C.DSIR_ALPHA})
       / (ts.n + {C.DSIR_ALPHA} * (ts.v + 1)))
    - ln((coalesce(rm.c, 0) + {C.DSIR_ALPHA})
         / (rs.n + {C.DSIR_ALPHA} * (rs.v + 1))) AS lr
  FROM tok t
  LEFT JOIN tm USING (token)
  LEFT JOIN rm USING (token)
  CROSS JOIN ts CROSS JOIN rs
)
"""

# Gopher rule replay: identical folds over the token / line lists
_GOPHER_STOPS = "['the','be','to','of','and','that','have','with']"
ORACLES["gopher_rules"] = f"""
WITH t AS (
  SELECT doc_id, text, {TOKENS_SQL("text")} AS words,
    string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n,
    CASE WHEN len(words) > 0 THEN
      CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
        / len(words) ELSE 0.0 END AS mwl,
    CASE WHEN len(words) > 0 THEN
      CAST((length(text) - length(replace(text, '#', '')))
        + (length(text) - length(replace(text, '...', ''))) / 3
        AS DOUBLE) / len(words) ELSE 0.0 END AS sym,
    CAST(len(list_filter(lines,
      ln -> starts_with(ln, chr(8226))
         OR starts_with(trim(ln), '- '))) AS DOUBLE) / len(lines) AS bul,
    CAST(len(list_filter(lines, ln -> ends_with(ln, '...'))) AS DOUBLE)
      / len(lines) AS ell,
    CASE WHEN len(words) > 0 THEN
      CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
        AS DOUBLE) / len(words) ELSE 0.0 END AS alp,
    len(list_filter({_GOPHER_STOPS},
      sw -> list_contains(list_transform(words, w -> lower(w)), sw)))
      AS stops
  FROM t
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  round(mwl, 6) AS mean_word_len,
  round(sym, 6) AS symbol_ratio,
  round(bul, 6) AS bullet_line_ratio,
  round(ell, 6) AS ellipsis_line_ratio,
  round(alp, 6) AS alpha_word_ratio,
  CAST(stops AS BIGINT) AS n_stop_hits,
  CAST(n BETWEEN {C.GOPHER_MIN_WORDS} AND {C.GOPHER_MAX_WORDS}
    AND mwl BETWEEN {C.GOPHER_MIN_MWL} AND {C.GOPHER_MAX_MWL}
    AND sym <= {C.GOPHER_MAX_SYMBOL}
    AND bul <= {C.GOPHER_MAX_BULLET}
    AND ell <= {C.GOPHER_MAX_ELLIPSIS}
    AND alp >= {C.GOPHER_MIN_ALPHA}
    AND stops >= {C.GOPHER_MIN_STOP} AS INT) AS keep
FROM m
"""

# C4 line-cleaning replay: identical fixture lining + rule lambda
_C4_SFX = (
    "CASE (doc_id + i) % 5 WHEN 0 THEN '.' WHEN 1 THEN '' "
    "WHEN 2 THEN ' javascript enabled.' WHEN 3 THEN ' {x}.' "
    "ELSE '!' END"
)
_C4_RULE = (
    "regexp_matches(ln, '[.!?\"]\\s*$') "
    "AND len(list_filter(string_split(ln, ' '), w -> w <> ''))"
    f" >= {C.C4_MIN_WORDS} "
    "AND NOT contains(lower(ln), 'javascript') "
    "AND NOT contains(ln, '{')"
)
ORACLES["c4_line_filter"] = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL("text")} AS toks FROM documents
), l AS (
  SELECT doc_id,
    list_transform(
      range(CAST(ceil(len(toks) / {C.C4_LINE_TOKENS}.0) AS BIGINT)),
      i -> array_to_string(
             toks[i * {C.C4_LINE_TOKENS} + 1 : (i + 1) * {C.C4_LINE_TOKENS}],
             ' ') || {_C4_SFX}) AS lines
  FROM t
), k AS (
  SELECT doc_id, lines,
    list_filter(lines, ln -> {_C4_RULE}) AS kept
  FROM l
)
SELECT doc_id,
  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CAST(len(kept) >= {C.C4_MIN_LINES} AS INT) AS keep_doc
FROM k
"""

# Efraimidis-Spirakis weighted sampling replay: same portable-hash
# uniform, same pow key, same pre-rank rounding and id tie-break
_WS_U = (
    "((" + HASH64_SQL("CAST(doc_id AS VARCHAR)", seed=C.WSAMPLE_SEED)
    + " + 0.5) / 1152921504606846976.0)"
)
ORACLES["weighted_sample"] = f"""
WITH w AS (
  SELECT doc_id, source,
    CAST(doc_id % 10 + 1 AS DOUBLE) AS weight
  FROM documents
), s AS (
  SELECT doc_id, source, weight,
    round(pow({_WS_U}, 1.0 / weight), {C.WSAMPLE_ROUND}) AS wkey
  FROM w
)
SELECT doc_id, source, weight, rank FROM (
  SELECT doc_id, source, weight,
    CAST(row_number() OVER (PARTITION BY source
      ORDER BY wkey DESC, doc_id) AS INTEGER) AS rank
  FROM s
) WHERE rank <= {C.WSAMPLE_K}
"""

# BM25 replay: same tokenization, Lucene idf, micro-unit summation
_BM25_TERMS_SQL = ", ".join("'%s'" % t for t in C.BM25_TERMS)
_BM25_CTES = f"""tok AS (
  SELECT doc_id, lower(t) AS term
  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), tf2 AS (
  SELECT doc_id, term, tf,
    sum(tf) OVER (PARTITION BY doc_id) AS dl
  FROM tf
), q AS (
  SELECT unnest([{_BM25_TERMS_SQL}]) AS term
), dfq AS (
  SELECT term, count(*) AS dfc FROM tf JOIN q USING (term) GROUP BY term
), stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n,
    CAST(sum(tf) AS DOUBLE) AS tot
  FROM tf
), m AS (
  SELECT t.doc_id,
    CAST(round(
      ln(1.0 + (s.n - d.dfc + 0.5) / (d.dfc + 0.5))
      * (t.tf * {C.BM25_K1 + 1.0})
      / (t.tf + {C.BM25_K1}
         * ({1.0 - C.BM25_B} + {C.BM25_B} * t.dl / (s.tot / s.n)))
      * 1000000.0) AS BIGINT) AS micro
  FROM tf2 t JOIN q USING (term) JOIN dfq d USING (term) CROSS JOIN stats s
),
bm AS (
  SELECT doc_id, count(*) AS n_matched,
    CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE) / 1000000.0 AS score
  FROM m GROUP BY doc_id
)"""

ORACLES["bm25_retrieval"] = f"""
WITH {_BM25_CTES}
SELECT doc_id, n_matched, score FROM bm
"""

# hybrid RRF replay: the bm25 CTE chain + a cosine ranking, fused
def _hybrid_oracle_sql() -> str:
    cos = _cosine_sql("e.embedding", "q.__q")
    return f"""
WITH {_BM25_CTES},
bmr AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
      AS bm25_rank
  FROM bm ORDER BY score DESC, doc_id LIMIT {C.RRF_TOPK}
), qv AS (
  SELECT embedding AS __q FROM embeddings
  WHERE vec_id = {C.RRF_QUERY_VEC}
), csr AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
      AS cos_rank
  FROM (
    SELECT e.vec_id AS doc_id, round({cos}, 6) AS cos
    FROM embeddings e CROSS JOIN qv q
    WHERE e.vec_id <> {C.RRF_QUERY_VEC}
  ) ORDER BY cos DESC, doc_id LIMIT {C.RRF_TOPK}
)
SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
  bm25_rank, cos_rank,
  round(coalesce(1.0 / ({C.RRF_K0} + bm25_rank), 0.0)
      + coalesce(1.0 / ({C.RRF_K0} + cos_rank), 0.0), 6) AS rrf_score
FROM bmr FULL JOIN csr USING (doc_id)
"""


ORACLES["hybrid_retrieval"] = _hybrid_oracle_sql()

# multi-query BM25: one corpus pass, a (query_id, term) VALUES table,
# dfs shared over the DISTINCT query terms, (query_id, doc) rollup
_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in C.BM25_MULTI for t in terms
)
_BM25_MULTI_CTES = f"""tok AS (
  SELECT doc_id, lower(t) AS term
  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), tf2 AS (
  SELECT doc_id, term, tf,
    sum(tf) OVER (PARTITION BY doc_id) AS dl
  FROM tf
), q AS (
  SELECT * FROM (VALUES {_BM25_Q_VALUES}) AS t(query_id, term)
), qterms AS (
  SELECT DISTINCT term FROM q
), dfq AS (
  SELECT term, count(*) AS dfc
  FROM tf JOIN qterms USING (term) GROUP BY term
), stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n,
    CAST(sum(tf) AS DOUBLE) AS tot
  FROM tf
), m AS (
  SELECT q.query_id, t.doc_id,
    CAST(round(
      ln(1.0 + (s.n - d.dfc + 0.5) / (d.dfc + 0.5))
      * (t.tf * {C.BM25_K1 + 1.0})
      / (t.tf + {C.BM25_K1}
         * ({1.0 - C.BM25_B} + {C.BM25_B} * t.dl / (s.tot / s.n)))
      * 1000000.0) AS BIGINT) AS micro
  FROM tf2 t JOIN q USING (term) JOIN dfq d USING (term) CROSS JOIN stats s
),
bmq AS (
  SELECT query_id, doc_id, count(*) AS n_matched,
    CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE) / 1000000.0 AS score
  FROM m GROUP BY query_id, doc_id
)"""

ORACLES["bm25_multi_query"] = f"""
WITH {_BM25_MULTI_CTES}
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, n_matched, score
FROM bmq
"""


def _hybrid_multi_oracle_sql() -> str:
    cos = _cosine_sql("e.embedding", "q.__q")
    qv_values = ", ".join(f"({qid}, {vid})" for qid, vid in C.HYBRID_VECS)
    return f"""
WITH {_BM25_MULTI_CTES},
bmr AS (
  SELECT query_id, doc_id,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id) AS INTEGER) AS bm25_rank
  FROM bmq QUALIFY bm25_rank <= {C.RRF_TOPK}
), qv AS (
  SELECT t.query_id, t.vid, e.embedding AS __q
  FROM (VALUES {qv_values}) AS t(query_id, vid)
  JOIN embeddings e ON e.vec_id = t.vid
), csr AS (
  SELECT query_id, doc_id,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY cos DESC, doc_id) AS INTEGER) AS cos_rank
  FROM (
    SELECT q.query_id, e.vec_id AS doc_id, round({cos}, 6) AS cos
    FROM embeddings e CROSS JOIN qv q
    WHERE e.vec_id <> q.vid
  ) QUALIFY cos_rank <= {C.RRF_TOPK}
)
SELECT CAST(query_id AS INTEGER) AS query_id,
  coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
  bm25_rank, cos_rank,
  round(coalesce(1.0 / ({C.RRF_K0} + bm25_rank), 0.0)
      + coalesce(1.0 / ({C.RRF_K0} + cos_rank), 0.0), 6) AS rrf_score
FROM bmr FULL JOIN csr USING (query_id, doc_id)
"""


ORACLES["hybrid_multi_retrieval"] = _hybrid_multi_oracle_sql()

# retrieve -> rerank: the hybrid fusion replay proposes the k-bounded
# candidates, then the deterministic second-stage scorer (per-mille
# coverage dominating a first-occurrence proximity bonus, all
# integers) re-ranks them — per-query window over <= 2k rows
_RERANK_TERMS = ", ".join(
    f"({qid}, '{t}')" for qid, ts in C.BM25_MULTI for t in ts
)
ORACLES["rerank_retrieval"] = f"""
WITH hy AS (
{_hybrid_multi_oracle_sql()}
), cand AS (
  SELECT query_id, doc_id, rrf_score FROM hy
), qt(query_id, term) AS (
  VALUES {_RERANK_TERMS}
), tk AS (
  SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS tks
  FROM documents
), per AS (
  SELECT c.query_id, c.doc_id, c.rrf_score,
    coalesce(list_position(tk.tks, qt.term), 0) AS pos
  FROM cand c JOIN qt USING (query_id) JOIN tk ON tk.doc_id = c.doc_id
), agg AS (
  SELECT query_id, doc_id, min(rrf_score) AS rrf_score,
    CAST(sum(CASE WHEN pos > 0 THEN 1 ELSE 0 END) AS INTEGER)
      AS n_present,
    CAST(sum(CASE WHEN pos > 0
               THEN CAST(floor(1000.0 / (1 + pos)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS bonus
  FROM per GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, n_present, bonus,
  CAST(n_present AS BIGINT) * 100000 + bonus AS rerank_score,
  CAST(row_number() OVER (
    PARTITION BY query_id
    ORDER BY CAST(n_present AS BIGINT) * 100000 + bonus DESC,
             doc_id ASC) AS INTEGER) AS rerank_rank
FROM agg
"""


ORACLES["dsir_weights"] = "WITH " + _DSIR_SCORED.format(toks=_TOKS) + """
SELECT doc_id, count(*) AS n_tokens,
  round(avg(lr), 6) AS mean_log_ratio
FROM scored GROUP BY doc_id
"""

ORACLES["dsir_resample"] = (
    "WITH " + _DSIR_SCORED.format(toks=_TOKS)
    + f""",
w AS (
  SELECT doc_id, round(avg(lr), 6) AS mean_log_ratio
  FROM scored GROUP BY doc_id
)
SELECT doc_id, mean_log_ratio,
  round(least(1.0, exp({C.DSIR_TAU} * mean_log_ratio)), 4) AS keep_prob,
  CAST({_rate_bucket_sql(C.DSIR_SEED)}
       < CAST(round(round(least(1.0, exp({C.DSIR_TAU} * mean_log_ratio)),
                          4) * 10000, 0) AS INT) AS INT) AS kept
FROM w
"""
)

ORACLES["corpus_recipe"] = _corpus_recipe_oracle()

# per-stage row accounting: the filter chain replayed stage by stage,
# counts fed through the same lag-window in/out/dropped arithmetic
ORACLES["recipe_drop_audit"] = f"""
WITH t0 AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), q AS (
  SELECT doc_id, text, toks FROM t0
  WHERE NOT ({_QF_NTOK} < 20)
    AND NOT ({_QF_STOP} < 0.03)
    AND NOT ({_QF_SCORE} < 0.5)
), bl AS (
  SELECT doc_id, text,
    len(toks) AS n_tokens,
    len(list_filter(list_transform(toks, x -> lower(x)),
        x -> x IN ({_BL_TERMS}))) AS n_hits,
    len(list_distinct(list_filter(list_transform(toks, x -> lower(x)),
        x -> x IN ({_BL_TERMS})))) AS n_distinct_hits
  FROM q
), b AS (
  SELECT doc_id, text FROM bl
  WHERE NOT (n_distinct_hits >= {C.BLOCKLIST_MIN_DISTINCT}
             OR n_hits * 10000 > {C.BLOCKLIST_MAX_DENSITY_BP} * n_tokens)
), d AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS kid
    FROM b
  ) WHERE doc_id = kid
), counts AS (
  SELECT 0 AS stage_idx, 'input' AS stage,
    (SELECT count(*) FROM documents) AS rows_out
  UNION ALL SELECT 1, 'quality_filter', (SELECT count(*) FROM q)
  UNION ALL SELECT 2, 'blocklist', (SELECT count(*) FROM b)
  UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM d)
  UNION ALL SELECT 4, 'split', (SELECT count(*) FROM d)
)
SELECT stage_idx, stage,
  coalesce(lag(rows_out) OVER (ORDER BY stage_idx), rows_out) AS rows_in,
  rows_out,
  coalesce(lag(rows_out) OVER (ORDER BY stage_idx), rows_out) - rows_out
    AS rows_dropped
FROM counts
"""

# incremental recipe replay == the batch recipe on the concatenation:
# the fixture's batch index equals the id order within each 3-doc
# content group, so streaming first-seen-across-batches reduces to the
# batch digest window's min-id rule — replayed here as plain SQL over
# the same budget subset + leader-text join
ORACLES["corpus_recipe_replay"] = f"""
WITH f0 AS (
  SELECT doc_id FROM documents
  ORDER BY (doc_id * {C.REPLAY_SPREAD}) % 4294967296, doc_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), f AS (
  SELECT f0.doc_id, d.text
  FROM f0 JOIN documents d ON d.doc_id = (f0.doc_id // 3) * 3
), t0 AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM f
), kept AS (
  SELECT doc_id, text FROM t0
  WHERE NOT ({_QF_NTOK} < 20)
    AND NOT ({_QF_STOP} < 0.03)
    AND NOT ({_QF_SCORE} < 0.5)
), ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      min(doc_id) OVER (PARTITION BY md5(text)) AS kid
    FROM kept
  ) WHERE doc_id = kid
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
  {_split_case_sql()} AS split
FROM ded
"""


# ---------------------------------------------------------------------------
# Analytics-mining tier (round 12)

# market-basket: distinct (order, category) with the planted long tail,
# Apriori item prune at the shared support floor, pair self-join,
# both-direction confidence + lift
ORACLES["assoc_rules"] = f"""
WITH src AS (
  SELECT DISTINCT l_orderkey AS b,
    CASE WHEN l_partkey % 7 < 5 THEN l_partkey % 30
         ELSE 1000 + l_partkey % 400 END AS i
  FROM lineitem
),
ic AS (SELECT i, count(*) AS ic FROM src GROUP BY i),
freq AS (SELECT i, ic FROM ic WHERE ic >= {C.ASSOC_MIN_SUPPORT}),
kept AS (SELECT s.b, s.i FROM src s JOIN freq f ON f.i = s.i),
nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM src),
pc AS (
  SELECT a.i AS item_a, b2.i AS item_b, count(*) AS pair_count
  FROM kept a JOIN kept b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2 HAVING count(*) >= {C.ASSOC_MIN_SUPPORT}
)
SELECT item_a, item_b, pair_count,
  ca.ic AS count_a, cb.ic AS count_b,
  round(CAST(pair_count AS DOUBLE) / n, 6) AS support,
  round(CAST(pair_count AS DOUBLE) / CAST(ca.ic AS DOUBLE), 6) AS conf_a_b,
  round(CAST(pair_count AS DOUBLE) / CAST(cb.ic AS DOUBLE), 6) AS conf_b_a,
  round((n * CAST(pair_count AS DOUBLE))
        / (CAST(ca.ic AS DOUBLE) * CAST(cb.ic AS DOUBLE)), 6) AS lift
FROM pc
JOIN freq ca ON ca.i = pc.item_a
JOIN freq cb ON cb.i = pc.item_b
CROSS JOIN nb
"""

# triangles via the same degree-ordered orientation (tie -> node id):
# each triangle closes exactly once, corners explode to per-node counts
ORACLES["triangle_count"] = """
WITH hs AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
e0 AS (
  SELECT h AS ia, (h + 1) % 20 AS ib FROM hs
  UNION ALL SELECT h, (h * 3 + 7) % 20 FROM hs
),
und AS (
  SELECT DISTINCT least(ia, ib) AS u, greatest(ia, ib) AS v
  FROM e0 WHERE ia <> ib
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
ori AS (
  SELECT
    CASE WHEN du.degree < dv.degree
           OR (du.degree = dv.degree AND u < v) THEN u ELSE v END AS src,
    CASE WHEN du.degree < dv.degree
           OR (du.degree = dv.degree AND u < v) THEN v ELSE u END AS dst
  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
),
tri AS (
  SELECT e1.x, e1.y, e2.z
  FROM (SELECT src AS x, dst AS y FROM ori) e1
  JOIN (SELECT src AS x, dst AS z FROM ori) e2 USING (x)
  WHERE e1.y < e2.z AND EXISTS (
    SELECT 1 FROM ori o
    WHERE (o.src = e1.y AND o.dst = e2.z)
       OR (o.src = e2.z AND o.dst = e1.y)
  )
),
corners AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT 'site' || CAST(d.node AS VARCHAR) AS host,
  CAST(d.degree AS BIGINT) AS degree,
  CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
  round(CASE WHEN d.degree >= 2
    THEN 2.0 * CAST(coalesce(c.triangles, 0) AS DOUBLE)
         / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
    ELSE 0.0 END, 6) AS local_cc
FROM deg d LEFT JOIN corners c ON c.node = d.node
"""

# skyline by the DEFINITION (NOT EXISTS dominance) — deliberately a
# different algorithm than the engine's ordered-scan reduction
ORACLES["pareto_skyline"] = """
SELECT p_partkey, round(p_retailprice, 2) AS price,
  CAST(p_size AS INT) AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


def _bt_iter_sql(prev: str, dname: str, rname: str, tname: str, out: str) -> str:
    """One unrolled Zermelo/Hunter MM iteration (round(12)+DECIMAL
    per-term sums; per-iteration round(8) normalization)."""
    return f"""{dname} AS (
  SELECT d.i,
    CAST(sum(CAST(round(CAST(d.n AS DOUBLE) / (si.strength + sj.strength),
                        12) AS DECIMAL(38,12))) AS DOUBLE) AS den
  FROM directed d
  JOIN {prev} si ON si.player = d.i
  JOIN {prev} sj ON sj.player = d.j
  GROUP BY d.i
),
{rname} AS (
  SELECT {dname}.i AS player,
    CASE WHEN den > 0 THEN CAST(w.wins AS DOUBLE) / den ELSE 0.0 END AS raw
  FROM {dname} JOIN wins w ON w.i = {dname}.i
),
{tname} AS (
  SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12))) AS DOUBLE) AS tot
  FROM {rname}
),
{out} AS (
  SELECT player, round(raw * k / tot, 8) AS strength
  FROM {rname} CROSS JOIN {tname} CROSS JOIN kp
)"""


ORACLES["bradley_terry"] = f"""
WITH m0 AS (
  SELECT doc_id % 12 AS a, (doc_id * 7 + 3) % 12 AS b,
    CASE WHEN (doc_id * 13) % ((doc_id % 12) + ((doc_id * 7 + 3) % 12) + 2)
              <= doc_id % 12 THEN 1 ELSE 0 END AS wa
  FROM documents WHERE doc_id % 12 <> (doc_id * 7 + 3) % 12
),
mm AS (
  SELECT a AS pa, b AS pb, sum(wa) AS wins_a, sum(1 - wa) AS wins_b
  FROM m0 GROUP BY a, b
),
directed AS (
  SELECT i, j, sum(w) AS w, sum(n) AS n FROM (
    SELECT pa AS i, pb AS j, wins_a AS w, wins_a + wins_b AS n FROM mm
    UNION ALL
    SELECT pb, pa, wins_b, wins_a + wins_b FROM mm
  ) GROUP BY i, j
),
players AS (SELECT DISTINCT i AS player FROM directed),
kp AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM players),
wins AS (SELECT i, sum(w) AS wins FROM directed GROUP BY i),
s0 AS (SELECT player, 1.0 AS strength FROM players),
{_bt_iter_sql("s0", "d1", "r1", "t1", "s1")},
{_bt_iter_sql("s1", "d2", "r2", "t2", "s2")},
{_bt_iter_sql("s2", "d3", "r3", "t3", "s3")}
SELECT s3.player, round(s3.strength, 6) AS strength,
  CAST(w.wins AS BIGINT) AS wins
FROM s3 JOIN wins w ON w.i = s3.player
"""

# Benford: integer-string first digits, chi2 via sum(o^2/(n p)) - n in
# DECIMAL so absent digits contribute exactly zero; the expected-digit
# probabilities are the SAME literals the Spark expression folds
_BENFORD_CASE = (
    "CASE d "
    + " ".join(f"WHEN {d} THEN {p!r}" for d, p in sorted(BENFORD_P.items()))
    + " END"
)

ORACLES["benford_audit"] = f"""
WITH v AS (
  SELECT o_orderpriority,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
counted AS (
  SELECT o_orderpriority,
    CAST(substr(CAST(abs(cents) AS VARCHAR), 1, 1) AS INT) AS d,
    count(*) AS o
  FROM v WHERE abs(cents) >= 1 GROUP BY 1, 2
),
terms AS (
  SELECT o_orderpriority,
    sum(o) AS n,
    CAST(sum(CAST(round(
      (CAST(o AS DOUBLE) * CAST(o AS DOUBLE)) / {_BENFORD_CASE}, 6)
      AS DECIMAL(38,6))) AS DOUBLE) AS st,
    max(o) AS mx
  FROM counted GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
  round(st / CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 4) AS chi2,
  round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS top_digit_share
FROM terms
"""

ORACLES["l_diversity_audit"] = f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 2000) AS INT) AS bal_band
  FROM customer
),
cells AS (
  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS cc
  FROM c GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment,
  CAST(sum(cc) AS BIGINT) AS group_k,
  count(*) AS l_distinct,
  max(cc) AS max_sensitive_count,
  CAST(CASE WHEN sum(cc) >= {C.LDIV_K} THEN 1 ELSE 0 END AS INT) AS k_ok,
  CAST(CASE WHEN count(*) >= {C.LDIV_L} THEN 1 ELSE 0 END AS INT) AS l_ok
FROM cells GROUP BY 1, 2
"""


def _ewma_sql() -> str:
    """Bounded-lag EWMA: the identical literal weight chain the Spark
    expression folds (j = 0..W-1, weights (1-a)^j as repr'd doubles)."""
    num, den, lag_cols = [], [], []
    for j in range(C.EWMA_LAGS):
        wj = (1.0 - C.EWMA_ALPHA) ** j
        x = "value" if j == 0 else f"l{j}"
        if j > 0:
            lag_cols.append(f"lag(value, {j}) OVER win AS l{j}")
        num.append(
            f"CASE WHEN {x} IS NOT NULL THEN {wj!r} * {x} ELSE 0.0 END"
        )
        den.append(f"CASE WHEN {x} IS NOT NULL THEN {wj!r} ELSE 0.0 END")
    return f"""
WITH w AS (
  SELECT user_id, ts, event_id, value, {", ".join(lag_cols)}
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, ts, event_id, value,
  round(({" + ".join(num)}) / ({" + ".join(den)}), 6) AS ewma
FROM w
"""


ORACLES["ewma_smooth"] = _ewma_sql()


# KMV bottom-k sketches: per-type k smallest distinct hashes via
# row_number, union sketch = bottom-k of the deduped concat, Jaccard =
# shared-member fraction of the union sketch; exact audit columns off
# the distinct (type, slot) projection
_KMV_M = "1152921504606846976.0"  # 2^60: the hash64 value space


def _kmv_est_sql(lst: str, k: int) -> str:
    return (
        f"CASE WHEN len({lst}) < {k} THEN CAST(len({lst}) AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * {_KMV_M} / CAST({lst}[{k}] AS DOUBLE) END"
    )


ORACLES["kmv_set_ops"] = f"""
WITH dv AS (
  SELECT DISTINCT event_type AS t, user_id * 8 + event_id % 8 AS v
  FROM events
),
dh AS (
  SELECT DISTINCT t,
    {HASH64_SQL("CAST(v AS VARCHAR)", seed=C.KMV_SEED)} AS h
  FROM dv
),
sk AS (
  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
  FROM dh
),
ska AS (
  SELECT t, list(h ORDER BY h) AS s
  FROM sk WHERE rn <= {C.KMV_K} GROUP BY t
),
ex AS (SELECT t, count(*) AS c FROM dv GROUP BY t),
pin AS (
  SELECT a.t AS ka, b.t AS kb, count(*) AS pi
  FROM dv a JOIN dv b ON a.v = b.v AND a.t < b.t
  GROUP BY 1, 2
),
p AS (
  SELECT a.t AS key_a, b.t AS key_b, a.s AS sa, b.s AS sb
  FROM ska a JOIN ska b ON a.t < b.t
),
u AS (
  SELECT key_a, key_b, sa, sb,
    list_sort(list_distinct(list_concat(sa, sb))) AS allv
  FROM p
),
u2 AS (
  SELECT key_a, key_b, sa, sb,
    CASE WHEN len(allv) > {C.KMV_K} THEN allv[1:{C.KMV_K}]
         ELSE allv END AS us
  FROM u
),
calc AS (
  SELECT key_a, key_b, sa, sb, us,
    CAST(len(list_filter(us,
      x -> list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
      / CAST(len(us) AS DOUBLE) AS jacc,
    {_kmv_est_sql("us", C.KMV_K)} AS est_u
  FROM u2
)
SELECT c.key_a, c.key_b,
  round({_kmv_est_sql("c.sa", C.KMV_K)}, 4) AS est_a,
  round({_kmv_est_sql("c.sb", C.KMV_K)}, 4) AS est_b,
  round(c.est_u, 4) AS est_union,
  round(c.jacc, 6) AS est_jaccard,
  round(c.jacc * c.est_u, 4) AS est_intersection,
  CAST(ea.c AS BIGINT) AS exact_a,
  CAST(eb.c AS BIGINT) AS exact_b,
  CAST(ea.c + eb.c - coalesce(pin.pi, 0) AS BIGINT) AS exact_union,
  CAST(coalesce(pin.pi, 0) AS BIGINT) AS exact_intersection,
  round(CAST(coalesce(pin.pi, 0) AS DOUBLE)
        / CAST(ea.c + eb.c - coalesce(pin.pi, 0) AS DOUBLE), 6)
    AS exact_jaccard
FROM calc c
JOIN ex ea ON ea.t = c.key_a
JOIN ex eb ON eb.t = c.key_b
LEFT JOIN pin ON pin.ka = c.key_a AND pin.kb = c.key_b
"""

# one-pass per-type bottom-k over the replay subset == the merged
# micro-batched state (bottom-k is a semilattice)
ORACLES["streaming_kmv_replay"] = f"""
WITH f0 AS (
  SELECT * FROM events
  ORDER BY (event_id * {C.REPLAY_SPREAD}) % 4294967296, event_id
  LIMIT {C.REPLAY_ROW_BUDGET}
),
dh AS (
  SELECT DISTINCT event_type AS t,
    {HASH64_SQL("CAST(user_id * 8 + event_id % 8 AS VARCHAR)", seed=C.KMV_SEED)} AS h
  FROM f0
),
sk AS (
  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
  FROM dh
),
ska AS (
  SELECT t, list(h ORDER BY h) AS s
  FROM sk WHERE rn <= {C.KMV_K} GROUP BY t
)
SELECT t AS event_type,
  CAST(len(s) AS INT) AS sketch_size,
  s[1] AS min_hash,
  s[len(s)] AS kth_hash,
  round({_kmv_est_sql("s", C.KMV_K)}, 4) AS est_distinct
FROM ska
"""


# XML intake: every field restated closed-form; the per-product stock
# sum folds over a lateral range join; truncated docs (d%13=0) are the
# quarantine rows
ORACLES["xml_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 13 = 0 AS trunc, 1 + doc_id % 3 AS np
  FROM documents
),
stock AS (
  SELECT b.doc_id, CAST(sum((b.doc_id * 3 + i.i) % 40) AS BIGINT) AS ssum
  FROM base b JOIN (SELECT unnest(range(3)) AS i) i ON i.i < b.np
  WHERE NOT b.trunc
  GROUP BY b.doc_id
)
SELECT b.doc_id,
  CAST(CASE WHEN b.trunc THEN 1 ELSE 0 END AS INT) AS err,
  CASE WHEN b.trunc THEN NULL
       ELSE 'c' || CAST(b.doc_id % 50 AS VARCHAR) END AS catalog_id,
  CASE WHEN b.trunc THEN NULL ELSE CAST(b.np AS BIGINT) END AS n_products,
  CASE WHEN b.trunc THEN NULL
       ELSE CAST(2 + b.np * 4 AS INT) END AS n_elems,
  CASE WHEN b.trunc THEN NULL
       ELSE 'P' || CAST(b.doc_id % 100 AS VARCHAR) END AS first_sku,
  CASE WHEN b.trunc THEN NULL
       ELSE 'Widget & Co ' || CAST(b.doc_id % 7 AS VARCHAR)
       END AS first_name,
  s.ssum AS stock_sum,
  CASE WHEN b.trunc THEN NULL
       ELSE 'AB' || CAST(b.doc_id % 3 AS VARCHAR) END AS note_text,
  CASE WHEN b.trunc THEN NULL
       ELSE CAST(length('a <b> raw & stuff x') AS INT) END AS max_desc_len
FROM base b LEFT JOIN stock s ON s.doc_id = b.doc_id
"""


# bitext mining: both neighbor directions replayed with the shared
# cosine fragment; top-k means sum ROUNDED cosines in DECIMAL; margin
# is the identical float chain
def _bitext_nbrs_sql(e_side: str, q_side: str) -> str:
    return f"""
  SELECT query_id, nid, c,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nid) AS rnk
  FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS nid,
      round({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS c
    FROM {e_side} e CROSS JOIN {q_side} q
  )
"""


ORACLES["bitext_mining"] = f"""
WITH x AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id < {C.BITEXT_ID_CAP} AND vec_id % 2 = 0
),
y AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id < {C.BITEXT_ID_CAP} AND vec_id % 2 = 1
),
nx0 AS ({_bitext_nbrs_sql('y', 'x')}),
ny0 AS ({_bitext_nbrs_sql('x', 'y')}),
nx AS (SELECT * FROM nx0 WHERE rnk <= {C.BITEXT_K}),
ny AS (SELECT * FROM ny0 WHERE rnk <= {C.BITEXT_K}),
ax AS (
  SELECT query_id AS x_id,
    CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE)
      / CAST(count(*) AS DOUBLE) AS avx
  FROM nx GROUP BY query_id
),
ay AS (
  SELECT query_id AS y_id,
    CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE)
      / CAST(count(*) AS DOUBLE) AS avy
  FROM ny GROUP BY query_id
),
bx AS (SELECT query_id AS x_id, nid AS y_id, c FROM nx WHERE rnk = 1),
by_ AS (SELECT query_id AS y_id, nid AS x_id FROM ny WHERE rnk = 1),
mut AS (
  SELECT bx.x_id, bx.y_id, bx.c
  FROM bx JOIN by_ ON by_.x_id = bx.x_id AND by_.y_id = bx.y_id
),
sc AS (
  SELECT m.x_id, m.y_id, m.c AS cosine,
    m.c / ((ax.avx + ay.avy) * 0.5) AS marg
  FROM mut m JOIN ax ON ax.x_id = m.x_id JOIN ay ON ay.y_id = m.y_id
)
SELECT x_id, y_id, cosine, round(marg, 6) AS margin,
  CAST(CASE WHEN round(marg, 6) > {C.BITEXT_MARGIN!r} THEN 1 ELSE 0 END
       AS INT) AS accepted
FROM sc
"""


def _kcore_round_sql(e_prev: str, i: int) -> str:
    return f"""d{i} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM {e_prev} UNION ALL SELECT v FROM {e_prev}
  ) GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= {{k}}),
e{i + 1} AS (
  SELECT u, v FROM {e_prev}
  WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
)"""


_KCORE_ROUNDS_SQL = ",\n".join(
    _kcore_round_sql(f"e{i}", i) for i in range(C.KCORE_ROUNDS)
).format(k=C.KCORE_K)

ORACLES["k_core"] = f"""
WITH e_raw AS (
  SELECT doc_id % 40 AS a, (doc_id * 7 + 11) % 40 AS b FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 3 + 5) % 40 FROM documents
),
e0 AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM e_raw WHERE a <> b
),
{_KCORE_ROUNDS_SQL}
SELECT 'site' || CAST(node AS VARCHAR) AS host,
  CAST(deg AS BIGINT) AS core_degree
FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e{C.KCORE_ROUNDS}
    UNION ALL SELECT v FROM e{C.KCORE_ROUNDS}
  ) GROUP BY node
) WHERE deg >= {C.KCORE_K}
"""

ORACLES["event_transitions"] = """
WITH p AS (
  SELECT lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS from_state,
    event_type AS to_state
  FROM events
),
c AS (
  SELECT from_state, to_state, count(*) AS n
  FROM p WHERE from_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
  round(CAST(n AS DOUBLE)
        / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS prob,
  CAST(CASE WHEN from_state = to_state THEN 1 ELSE 0 END AS INT)
    AS self_loop
FROM c
"""

# t-closeness: ordered-EMD with integer cross-multiplied cumulative
# gaps (the ks_test discipline); dense global value grid
ORACLES["t_closeness"] = f"""
WITH c0 AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 2000) AS INT) AS s
  FROM customer
),
cells AS (
  SELECT c_nationkey, c_mktsegment, s, count(*) AS c
  FROM c0 GROUP BY 1, 2, 3
),
grid AS (SELECT DISTINCT s FROM cells),
grps AS (
  SELECT c_nationkey, c_mktsegment, sum(c) AS ng FROM cells GROUP BY 1, 2
),
dense AS (
  SELECT g.c_nationkey, g.c_mktsegment, v.s, g.ng,
    coalesce(cl.c, 0) AS c
  FROM grps g CROSS JOIN grid v
  LEFT JOIN cells cl
    ON cl.c_nationkey = g.c_nationkey
   AND cl.c_mktsegment = g.c_mktsegment AND cl.s = v.s
),
globc AS (
  SELECT s, sum(gc) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_glob
  FROM (SELECT s, sum(c) AS gc FROM cells GROUP BY s)
),
nt AS (SELECT sum(c) AS N FROM cells),
mv AS (SELECT count(*) AS m FROM grid),
j AS (
  SELECT d.c_nationkey, d.c_mktsegment, d.ng, d.s,
    sum(d.c) OVER (PARTITION BY d.c_nationkey, d.c_mktsegment
                   ORDER BY d.s ROWS UNBOUNDED PRECEDING) AS cumg,
    gc.cum_glob
  FROM dense d JOIN globc gc ON gc.s = d.s
),
agg AS (
  SELECT j.c_nationkey, j.c_mktsegment,
    max(j.ng) AS group_k,
    sum(abs(j.cumg * nt.N - j.cum_glob * j.ng)) AS sumdiff,
    max(nt.N) AS N, max(mv.m) AS m
  FROM j CROSS JOIN nt CROSS JOIN mv
  GROUP BY 1, 2
),
emds AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(group_k AS BIGINT) AS group_k,
    CAST(m AS INT) AS m_values,
    round(CASE WHEN m > 1
      THEN CAST(sumdiff AS DOUBLE)
           / (CAST(group_k AS DOUBLE) * CAST(N AS DOUBLE)
              * (CAST(m AS DOUBLE) - 1.0))
      ELSE 0.0 END, 6) AS emd
  FROM agg
)
SELECT c_nationkey, c_mktsegment, group_k, m_values, emd,
  CAST(CASE WHEN emd * 1000 <= {C.TCLOSE_T_PERMILLE} THEN 1 ELSE 0 END
       AS INT) AS t_ok
FROM emds
"""


# WOE/IV: smoothed rate pair, per-value ln, IV folded in DECIMAL
ORACLES["woe_iv"] = f"""
WITH cells AS (
  SELECT o_orderpriority AS feature_value,
    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos,
    sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS neg
  FROM orders GROUP BY 1
),
tot AS (
  SELECT sum(pos) AS P, sum(neg) AS NG, count(*) AS K FROM cells
),
sc AS (
  SELECT feature_value, pos, neg,
    (CAST(pos AS DOUBLE) + {C.WOE_SMOOTH!r})
      / (CAST(t.P AS DOUBLE) + {C.WOE_SMOOTH!r} * CAST(t.K AS DOUBLE)) AS pr,
    (CAST(neg AS DOUBLE) + {C.WOE_SMOOTH!r})
      / (CAST(t.NG AS DOUBLE) + {C.WOE_SMOOTH!r} * CAST(t.K AS DOUBLE)) AS nr
  FROM cells CROSS JOIN tot t
),
iv AS (
  SELECT CAST(sum(CAST(round((pr - nr) * ln(pr / nr), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS iv
  FROM sc
)
SELECT feature_value, CAST(pos + neg AS BIGINT) AS n,
  CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
  round(ln(pr / nr), 6) AS woe, round(iv.iv, 6) AS iv
FROM sc CROSS JOIN iv
"""

ORACLES["quantile_binning"] = f"""
SELECT bin, CAST(count(*) AS BIGINT) AS n, min(v) AS lo, max(v) AS hi
FROM (
  SELECT c_acctbal AS v,
    ntile({C.QBIN_N}) OVER (ORDER BY c_acctbal, c_custkey) AS bin
  FROM customer
) GROUP BY bin
"""

# winnowing: shingle hashes bind once per row, per-window min with
# leftmost-position tie-break, hot-print drop, pair gate
ORACLES["winnow_dedup_pairs"] = f"""
WITH hs AS (
  SELECT doc_id,
    list_transform({WORD_SHINGLES_SQL('text', C.WINNOW_K)},
                   x -> {HASH64_SQL('x', seed=C.WINNOW_SEED)}) AS h
  FROM documents
),
win AS (
  SELECT doc_id, h,
    unnest(range(greatest(len(h) - {C.WINNOW_W - 1}, 1))) AS j
  FROM hs
),
sl AS (
  SELECT doc_id, j, list_slice(h, j + 1, j + {C.WINNOW_W}) AS sl
  FROM win
),
sel AS (
  SELECT DISTINCT doc_id,
    CAST(list_position(sl, list_min(sl)) + j AS INT) AS pos,
    list_min(sl) AS print
  FROM sl
),
dp AS (SELECT DISTINCT doc_id, print FROM sel),
sizes AS (SELECT doc_id, count(*) AS np FROM dp GROUP BY doc_id),
bucket AS (
  SELECT print FROM dp GROUP BY print
  HAVING count(*) <= {C.WINNOW_MAX_BUCKET}
),
kept AS (SELECT dp.doc_id, dp.print FROM dp JOIN bucket USING (print)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_prints
  FROM kept a JOIN kept b ON a.print = b.print AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {C.WINNOW_MIN_SHARED}
)
SELECT s.doc_a, s.doc_b, CAST(s.shared_prints AS BIGINT) AS shared_prints,
  CAST(floor(CAST(s.shared_prints AS DOUBLE) * 1000
             / least(na.np, nb.np)) AS BIGINT) AS overlap_permille
FROM shared s
JOIN sizes na ON na.doc_id = s.doc_a
JOIN sizes nb ON nb.doc_id = s.doc_b
"""

# PMI collocations: 1-based adjacent pairs, count floor, scalar ln
ORACLES["collocations_pmi"] = f"""
WITH tk AS (
  SELECT list_transform({TOKENS_SQL('text')}, t -> lower(t)) AS t
  FROM documents
),
bg AS (
  SELECT t[i] AS tok_a, t[i + 1] AS tok_b
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk WHERE len(t) >= 2)
),
uni AS (SELECT unnest(t) AS tok FROM tk),
cab AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
cu AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS NB FROM bg),
nu AS (SELECT CAST(count(*) AS DOUBLE) AS NU FROM uni)
SELECT cab.tok_a, cab.tok_b, CAST(c_ab AS BIGINT) AS c_ab,
  CAST(ca.cu AS BIGINT) AS count_a, CAST(cb.cu AS BIGINT) AS count_b,
  round(ln((CAST(c_ab AS DOUBLE) / NB)
           / ((CAST(ca.cu AS DOUBLE) / NU)
              * (CAST(cb.cu AS DOUBLE) / NU))), 6) AS pmi
FROM cab
JOIN cu ca ON ca.tok = cab.tok_a
JOIN cu cb ON cb.tok = cab.tok_b
CROSS JOIN nb CROSS JOIN nu
WHERE c_ab >= {C.COLL_MIN_COUNT}
"""


# Kaplan-Meier: per-user duration/censoring, risk sets by reverse
# cumulative, log-space product as a DECIMAL window sum, exact-0 pin
ORACLES["survival_km"] = """
WITH per_user AS (
  SELECT user_id % 3 AS cohort,
    min(ts) AS first_ts,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts,
    max(ts) AS last_ts
  FROM events GROUP BY user_id
),
subj AS (
  SELECT cohort,
    CAST(floor(date_diff('second', first_ts,
      CASE WHEN p_ts IS NOT NULL THEN p_ts ELSE last_ts END) / 3600.0)
      AS INT) AS t,
    CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM per_user
),
cells AS (
  SELECT cohort, t, sum(e) AS events, sum(1 - e) AS censored
  FROM subj GROUP BY 1, 2
),
wn AS (
  SELECT cohort, t, events, censored,
    sum(events + censored) OVER (PARTITION BY cohort)
      - coalesce(sum(events + censored) OVER (
          PARTITION BY cohort ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
  FROM cells
),
st AS (
  SELECT cohort, t, events, censored, at_risk,
    CAST(sum(CAST(CASE WHEN events > 0 AND events < at_risk
      THEN round(ln(1.0 - CAST(events AS DOUBLE) / CAST(at_risk AS DOUBLE)),
                 12)
      ELSE 0.0 END AS DECIMAL(38,12))) OVER (
        PARTITION BY cohort ORDER BY t ROWS UNBOUNDED PRECEDING)
      AS DOUBLE) AS logsum,
    max(CASE WHEN events = at_risk THEN 1 ELSE 0 END) OVER (
      PARTITION BY cohort ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
  FROM wn
)
SELECT cohort, t, CAST(at_risk AS BIGINT) AS at_risk,
  CAST(events AS BIGINT) AS events, CAST(censored AS BIGINT) AS censored,
  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(logsum), 6) END AS survival
FROM st
"""

ORACLES["weighted_median"] = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice AS v,
    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS W,
    sum(CAST(l_quantity AS BIGINT)) OVER (
      PARTITION BY l_returnflag
      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      ROWS UNBOUNDED PRECEDING) AS cw,
    l_orderkey, l_linenumber
  FROM lineitem
)
SELECT l_returnflag, v AS weighted_median, CAST(W AS BIGINT) AS total_weight
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag
    ORDER BY v, l_orderkey, l_linenumber) AS rn
  FROM c WHERE cw * 2 >= W
) WHERE rn = 1
"""

ORACLES["cusum_report"] = """
WITH s AS (
  SELECT event_type, ts, event_id, value,
    CAST(sum(CAST(value AS DECIMAL(38,6)))
         OVER (PARTITION BY event_type) AS DOUBLE)
      / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS mean,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
cs AS (
  SELECT event_type, ts, event_id, n,
    round(CAST(sum(CAST(round(value - mean, 9) AS DECIMAL(38,9))) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cusum
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n, ts AS peak_ts,
  event_id AS peak_event_id, cusum AS peak_cusum
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY event_type
    ORDER BY abs(cusum) DESC, ts, event_id) AS rn
  FROM cs
) WHERE rn = 1
"""

# Arrow IPC: every record restated closed-form; truncated blobs are
# the quarantine rows
ORACLES["arrow_ipc_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 17 = 0 AS trunc, 2 + doc_id % 3 AS n
  FROM documents
),
rows_ AS (
  SELECT b.doc_id, CAST(j AS INT) AS row_idx, b.doc_id * 10 + j AS id,
    'row-' || CAST((b.doc_id + j) % 20 AS VARCHAR) AS name,
    CAST((b.doc_id * j) % 97 AS DOUBLE) / 10.0 AS score,
    CAST(j % 3 AS INT) AS n_tags
  FROM base b JOIN (SELECT unnest(range(4)) AS j) t ON t.j < b.n
  WHERE NOT b.trunc
)
SELECT doc_id, row_idx, CAST(0 AS INT) AS err, id, name, score, n_tags
FROM rows_
UNION ALL
SELECT doc_id, NULL, CAST(1 AS INT), NULL, NULL, NULL, NULL
FROM base WHERE trunc
"""


# Fellegi-Sunter: m/u from the same closed-form fixture; log-LR over
# the UNROUNDED rates (Spark rounds only the output columns)
ORACLES["fs_linkage_weights"] = """
WITH cust AS (SELECT c_custkey AS k FROM customer),
pairs AS (
  SELECT 1 AS is_match,
    CAST(k % 7 <> 0 AS INT) AS name_agree,
    CAST(k % 11 <> 0 AS INT) AS nation_agree,
    CAST(k % 5 <> 0 AS INT) AS segment_agree,
    CAST(k % 3 <> 0 AS INT) AS band_agree
  FROM cust
  UNION ALL
  SELECT 0,
    CAST(k % 13 = 0 AS INT),
    CAST(k % 4 = 0 AS INT),
    CAST(k % 5 = 0 AS INT),
    CAST(k % 2 = 0 AS INT)
  FROM cust
),
agg AS (
  SELECT CAST(sum(is_match) AS BIGINT) AS nm,
    CAST(sum(1 - is_match) AS BIGINT) AS nu,
    CAST(sum(name_agree * is_match) AS DOUBLE) AS am_name,
    CAST(sum(name_agree * (1 - is_match)) AS DOUBLE) AS au_name,
    CAST(sum(nation_agree * is_match) AS DOUBLE) AS am_nation,
    CAST(sum(nation_agree * (1 - is_match)) AS DOUBLE) AS au_nation,
    CAST(sum(segment_agree * is_match) AS DOUBLE) AS am_segment,
    CAST(sum(segment_agree * (1 - is_match)) AS DOUBLE) AS au_segment,
    CAST(sum(band_agree * is_match) AS DOUBLE) AS am_band,
    CAST(sum(band_agree * (1 - is_match)) AS DOUBLE) AS au_band
  FROM pairs
),
rates AS (
  SELECT 'name_agree' AS field, nm, nu,
    (am_name + 0.5) / (nm + 1.0) AS m, (au_name + 0.5) / (nu + 1.0) AS u
  FROM agg
  UNION ALL
  SELECT 'nation_agree', nm, nu,
    (am_nation + 0.5) / (nm + 1.0), (au_nation + 0.5) / (nu + 1.0) FROM agg
  UNION ALL
  SELECT 'segment_agree', nm, nu,
    (am_segment + 0.5) / (nm + 1.0), (au_segment + 0.5) / (nu + 1.0) FROM agg
  UNION ALL
  SELECT 'band_agree', nm, nu,
    (am_band + 0.5) / (nm + 1.0), (au_band + 0.5) / (nu + 1.0) FROM agg
)
SELECT field, nm AS n_match, nu AS n_nonmatch,
  round(m, 6) AS m, round(u, 6) AS u,
  round(ln(m / u), 6) AS w_agree,
  round(ln((1.0 - m) / (1.0 - u)), 6) AS w_disagree
FROM rates
"""


# RAKE: tokenization, stopword-run phrase ids, degree/frequency word
# scores (rounded 9), DECIMAL-folded phrase sums — all replayed exactly
_RAKE_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)
ORACLES["rake_keyphrases"] = f"""
WITH tk AS (
  SELECT doc_id, list_transform({TOKENS_SQL('text')}, t -> lower(t)) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk)
),
marked AS (
  SELECT doc_id, pos, tok,
    tok IN ({_RAKE_STOP}) AS is_stop,
    sum(CASE WHEN tok IN ({_RAKE_STOP}) THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS pid
  FROM pos
),
phrases AS (
  SELECT doc_id, pid, list_slice(list(tok ORDER BY pos), 1, 3) AS words
  FROM marked WHERE NOT is_stop GROUP BY doc_id, pid
),
members AS (
  SELECT array_to_string(words, ' ') AS phrase, len(words) AS plen,
    unnest(words) AS tok
  FROM phrases
),
word_stats AS (
  SELECT tok, count(*) AS freq, sum(plen) AS deg FROM members GROUP BY tok
),
scored AS (
  SELECT tok, round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 9) AS wscore
  FROM word_stats
),
praw AS (
  SELECT m.phrase,
    CAST(sum(CAST(s.wscore AS DECIMAL(38,9))) AS DOUBLE) AS raw
  FROM members m JOIN scored s ON s.tok = m.tok
  GROUP BY m.phrase
),
counts AS (
  SELECT array_to_string(words, ' ') AS phrase, count(*) AS n_occurrences
  FROM phrases GROUP BY 1
)
SELECT c.phrase, CAST(c.n_occurrences AS BIGINT) AS n_occurrences,
  round(p.raw / CAST(c.n_occurrences AS DOUBLE), 6) AS score
FROM counts c JOIN praw p ON p.phrase = c.phrase
WHERE c.n_occurrences >= {C.RAKE_MIN_COUNT}
"""


# Seasonal-naive backtest: hour h forecast = count at h-24; sMAPE folds
# round(12) terms in DECIMAL exactly as the Spark agg does
ORACLES["backtest_smape"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS actual
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT h.event_type,
    CAST(h.actual AS DOUBLE) AS a, CAST(f.actual AS DOUBLE) AS f
  FROM hourly h
  JOIN hourly f ON f.event_type = h.event_type
    AND f.bucket + INTERVAL 24 HOURS = h.bucket
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
  round(CAST(sum(CAST(round(2.0 * abs(f - a) / (f + a), 12)
                      AS DECIMAL(38,12))) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS smape
FROM j GROUP BY event_type
"""


# MoM growth: DECIMAL-exact monthly revenue, lag over the
# month-cardinality rollup (NULL growth on the first month)
ORACLES["period_growth"] = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, round(revenue, 2) AS revenue,
  round((revenue - lag(revenue) OVER (ORDER BY month))
        / lag(revenue) OVER (ORDER BY month), 6) AS mom_growth
FROM m
"""


# Per-priority OLS trend: exact daily revenue, six HUGEINT power sums,
# the same scalar double chain as extensions/profile.py::linear_trend
ORACLES["linear_trend"] = """
WITH d AS (
  SELECT o_orderpriority AS priority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
), m AS (
  SELECT priority, CAST(day_idx AS HUGEINT) AS x,
    CAST(floor(revenue * 1000000) AS HUGEINT) AS y
  FROM d
), w AS (
  SELECT priority, COUNT(*) AS n,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(x*x) AS DOUBLE) AS qx, CAST(SUM(x*y) AS DOUBLE) AS xy,
    CAST(SUM(y*y) AS DOUBLE) AS qy
  FROM m GROUP BY priority
), c AS (
  SELECT priority, n, sx, sy,
    CAST(n AS DOUBLE) * qx - sx * sx AS vx,
    CAST(n AS DOUBLE) * qy - sy * sy AS vy,
    CAST(n AS DOUBLE) * xy - sx * sy AS cov
  FROM w
)
SELECT priority, n,
  CASE WHEN vx > 0 THEN round((cov / vx) / 1000000.0, 6) END AS slope,
  CASE WHEN vx > 0 THEN
    round((sy - (cov / vx) * sx) / CAST(n AS DOUBLE) / 1000000.0, 6)
  END AS intercept,
  CASE WHEN vx > 0 AND vy > 0 THEN round(cov * cov / (vx * vy), 6)
  END AS r2
FROM c
"""


# Supplier-pair link prediction over the supplier-part bipartite graph:
# distinct edges, hub-part prune, pair self-join, fixed-point
# Adamic-Adar sum — extensions/mining.py::link_prediction_scores
ORACLES["link_prediction"] = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS l, l_partkey AS r FROM lineitem
), rdeg AS (
  SELECT r, COUNT(*) AS rd FROM e GROUP BY r
), kept AS (
  SELECT e.l, e.r, rdeg.rd FROM e JOIN rdeg USING (r)
  WHERE rdeg.rd <= 256
), ldeg AS (
  SELECT l, COUNT(*) AS ld FROM e GROUP BY l
), pairs AS (
  SELECT a.l AS node_a, b.l AS node_b, COUNT(*) AS common_neighbors,
    CAST(SUM(CAST(round(1.0 / ln(CAST(a.rd AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS aa
  FROM kept a JOIN kept b ON a.r = b.r AND a.l < b.l
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT node_a, node_b, common_neighbors,
  round(CAST(common_neighbors AS DOUBLE)
        / (CAST(da.ld AS DOUBLE) + CAST(db.ld AS DOUBLE)
           - CAST(common_neighbors AS DOUBLE)), 6) AS jaccard,
  round(aa, 6) AS adamic_adar
FROM pairs
JOIN ldeg da ON da.l = pairs.node_a
JOIN ldeg db ON db.l = pairs.node_b
"""


# SQLite intake: the fixture rows are a pure function of doc_id, so the
# oracle regenerates them relationally; truncated files (doc_id%17=0)
# contribute exactly one NULL-field quarantine row
ORACLES["sqlite_ingest"] = """
WITH expanded AS (
  SELECT d.doc_id, s.j
  FROM documents d
  CROSS JOIN (VALUES (0),(1),(2),(3)) s(j)
  WHERE s.j < 2 + d.doc_id % 3 AND d.doc_id % 17 <> 0
), good AS (
  SELECT doc_id,
    CAST(doc_id * 10 + j AS BIGINT) AS rowid,
    0 AS err,
    CAST(doc_id * 10 + j AS BIGINT) AS id,
    CASE WHEN (doc_id + j) % 7 = 0 THEN NULL
         WHEN j = 0 AND doc_id % 5 = 0
           THEN repeat('L', CAST(600 + doc_id % 100 AS INT))
         ELSE 'row-' || CAST((doc_id + j) % 20 AS VARCHAR)
    END AS name,
    CAST(doc_id * j % 97 AS DOUBLE) / 10.0 AS score,
    printf('%02x%02xff', CAST(doc_id % 256 AS INT), CAST(j AS INT))
      AS data_hex,
    CAST(j % 2 AS BIGINT) AS flag,
    (CASE WHEN j % 2 = 1 THEN -1 ELSE 1 END)
      * (CAST(1 + doc_id % 1000 AS BIGINT) << (8 * ((doc_id + j) % 7)))
      AS big
  FROM expanded
), quarantined AS (
  SELECT doc_id, CAST(NULL AS BIGINT) AS rowid, 1 AS err,
    CAST(NULL AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS name,
    CAST(NULL AS DOUBLE) AS score, CAST(NULL AS VARCHAR) AS data_hex,
    CAST(NULL AS BIGINT) AS flag, CAST(NULL AS BIGINT) AS big
  FROM documents WHERE doc_id % 17 = 0
)
SELECT * FROM good UNION ALL SELECT * FROM quarantined
"""


# BSON dump intake: fixture records are a pure function of doc_id;
# ObjectId = 12-byte big-endian of doc_id*1000+j rendered as 24-hex
ORACLES["bson_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 17 = 0 AS trunc, 2 + doc_id % 3 AS n
  FROM documents
),
rows_ AS (
  SELECT b.doc_id, CAST(j AS INT) AS idx,
    printf('%024x', b.doc_id * 1000 + j) AS oid,
    b.doc_id * 10 + j AS seq,
    (CASE WHEN j % 2 = 1 THEN -1 ELSE 1 END)
      * (CAST(1 + b.doc_id % 1000 AS BIGINT)
         << (8 * ((b.doc_id + j) % 7))) AS big,
    CASE WHEN (b.doc_id + j) % 7 = 0 THEN NULL
         ELSE 'row-' || CAST((b.doc_id + j) % 20 AS VARCHAR) END AS name,
    CAST((b.doc_id * j) % 97 AS DOUBLE) / 10.0 AS score,
    CAST(j % 3 AS INT) AS n_tags,
    CAST(j % 2 AS INT) AS flag,
    printf('%02x%02xfe', CAST(b.doc_id % 256 AS INT), CAST(j AS INT))
      AS bin_hex,
    1700000000000 + b.doc_id * 1000 + j AS ts_ms
  FROM base b JOIN (SELECT unnest(range(4)) AS j) t ON t.j < b.n
  WHERE NOT b.trunc
)
SELECT doc_id, idx, CAST(0 AS INT) AS err, oid, seq, big, name, score,
  n_tags, flag, bin_hex, ts_ms
FROM rows_
UNION ALL
SELECT doc_id, NULL, CAST(1 AS INT), NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL
FROM base WHERE trunc
"""


def _pip_edges_values() -> str:
    """VALUES rows for the shared point-in-polygon catalog, scaled to
    the integer lattice (kept in lockstep with qconst.PIP_POLYGONS)."""
    rows = []
    s = C.PIP_SCALE
    for pid, rings in C.PIP_POLYGONS.items():
        for ring in rings:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                if y1 == y2:
                    continue
                rows.append(
                    f"('{pid}', {x1 * s}, {y1 * s}, {x2 * s}, {y2 * s})"
                )
    return ",\n  ".join(rows)


# Point-in-polygon: naive edges cross join + crossing parity — the
# zero-shuffle compiled plan must reproduce it exactly
ORACLES["point_in_polygon"] = f"""
WITH pts AS (
  SELECT c_custkey AS point_id,
    ((c_custkey * 17) % 360 - 180) * {C.PIP_SCALE} + 1 AS px,
    ((c_custkey * 3) % 120 - 60) * {C.PIP_SCALE} + 1 AS py
  FROM customer
), edges(poly_id, x1, y1, x2, y2) AS (VALUES
  {_pip_edges_values()}
), cr AS (
  SELECT p.point_id, e.poly_id, p.px, p.py,
    CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
      AND ((p.px - e.x1) * (e.y2 - e.y1)
           - (e.x2 - e.x1) * (p.py - e.y1))
          * (CASE WHEN e.y2 > e.y1 THEN 1 ELSE -1 END) < 0
    THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
)
SELECT point_id, poly_id,
  round(CAST(px AS DOUBLE) / {C.PIP_SCALE}, 2) AS lon,
  round(CAST(py AS DOUBLE) / {C.PIP_SCALE}, 2) AS lat
FROM cr
GROUP BY point_id, poly_id, px, py
HAVING SUM(c) % 2 = 1
"""


# Geohash: the identical quantize-interleave-base32 arithmetic in SQL
# (GEOHASH_SQL generates the 40-term bit expression)
from trollflow2_spark.functions.geometry import GEOHASH_SQL  # noqa: E402

ORACLES["geohash_encode"] = f"""
WITH pts AS (
  SELECT c_custkey AS point_id,
    CAST((c_custkey * 17) % 360 - 180 + 0.25 AS DOUBLE) AS lon,
    CAST((c_custkey * 3) % 120 - 60 + 0.25 AS DOUBLE) AS lat
  FROM customer
)
SELECT point_id,
  {GEOHASH_SQL('lon', 'lat', 8)} AS gh8,
  substr({GEOHASH_SQL('lon', 'lat', 8)}, 1, 4) AS cell4
FROM pts
"""


def _seasonal_trend_terms(period: int = 24) -> str:
    """The centered-MA lag/lead chain in the EXACT summation order of
    extensions/profile.py::seasonal_profile (left-associated)."""
    half = period // 2
    terms = [
        f"0.5 * lag(y, {half}) OVER w",
        f"0.5 * lead(y, {half}) OVER w",
    ]
    for j in range(-half + 1, half):
        if j == 0:
            terms.append("y")
        elif j < 0:
            terms.append(f"lag(y, {-j}) OVER w")
        else:
            terms.append(f"lead(y, {j}) OVER w")
    return " + ".join(terms)


# Hour-of-day seasonal profile: centered-MA trend (full windows only),
# DECIMAL-exact detrended phase means, centered per-type indices
ORACLES["seasonal_profile"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
    CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), tr AS (
  SELECT event_type, hour(bucket) AS phase,
    CAST(round(y - ({_seasonal_trend_terms(24)}) / 24.0, 9)
         AS DECIMAL(38,9)) AS d
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
), raw AS (
  SELECT event_type, phase, count(*) AS n_obs,
    CAST(SUM(d) AS DOUBLE) / count(*) AS s_raw
  FROM tr WHERE d IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, phase, n_obs,
  round(s_raw
    - CAST(SUM(CAST(round(s_raw, 9) AS DECIMAL(38,9)))
           OVER (PARTITION BY event_type) AS DOUBLE)
      / COUNT(*) OVER (PARTITION BY event_type), 6) AS seasonal
FROM raw
"""


# Gaps-and-islands: seq - row_number() is constant within a
# consecutive run; distinct (user, day) first
ORACLES["activity_streaks"] = f"""
WITH d AS (
  SELECT user_id,
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx
  FROM events
), g AS (
  SELECT user_id, day_idx,
    day_idx - dense_rank() OVER (PARTITION BY user_id ORDER BY day_idx)
      AS grp
  FROM d
)
SELECT user_id, min(day_idx) AS island_start, max(day_idx) AS island_end,
  count(DISTINCT day_idx) AS island_len
FROM g GROUP BY user_id, grp
HAVING count(DISTINCT day_idx) >= {C.STREAK_MIN_DAYS}
"""


# Sweep line: +1/-1 deltas, starts before ends at equal instants,
# earliest timestamp attaining the max level
ORACLES["peak_concurrency"] = """
WITH iv AS (
  SELECT event_type, ts AS t0,
    ts + (event_id % 7 + 1) * INTERVAL 1 MINUTE AS t1
  FROM events
), deltas AS (
  SELECT event_type, t0 AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, t1 AS t, -1 AS delta FROM iv
), lev AS (
  SELECT event_type, t,
    SUM(delta) OVER (PARTITION BY event_type
                     ORDER BY t, delta DESC
                     ROWS UNBOUNDED PRECEDING) AS level
  FROM deltas
)
SELECT event_type, CAST(max(level) AS BIGINT) AS peak,
  first(t ORDER BY level DESC, t) AS peak_at
FROM lev GROUP BY event_type
"""


# GeoJSON intake: three features per doc, all metrics closed-form in
# doc_id; polygon area = w*h minus the 0.0625 hole on d%3=0 docs
ORACLES["geojson_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 17 = 0 AS trunc,
    doc_id % 100 AS x0, doc_id % 40 AS y0,
    1 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
    doc_id % 3 = 0 AS holed
  FROM documents
), feats AS (
  SELECT doc_id, CAST(0 AS INT) AS feat_idx, 'Point' AS gtype,
    1 AS n_points, 0 AS n_rings,
    CAST(doc_id % 360 - 180 + 0.5 AS DOUBLE) AS bbox_xmax,
    CAST(doc_id % 120 - 60 + 0.5 AS DOUBLE) AS bbox_ymax,
    CAST(0 AS DOUBLE) AS area, CAST(NULL AS INT) AS ccw,
    'p' || CAST(doc_id % 50 AS VARCHAR) AS name,
    CAST(doc_id % 9 AS BIGINT) AS rank
  FROM base WHERE NOT trunc
  UNION ALL
  SELECT doc_id, 1, 'Polygon',
    CASE WHEN holed THEN 10 ELSE 5 END,
    CASE WHEN holed THEN 2 ELSE 1 END,
    CAST(x0 + w AS DOUBLE), CAST(y0 + h AS DOUBLE),
    round(CAST(w * h AS DOUBLE)
          - CASE WHEN holed THEN 0.0625 ELSE 0 END, 6),
    CAST(doc_id % 2 = 0 AS INT), NULL, NULL
  FROM base WHERE NOT trunc
  UNION ALL
  SELECT doc_id, 2, 'LineString', 3, 0,
    CAST(doc_id % 10 AS DOUBLE), CAST(doc_id % 7 AS DOUBLE),
    CAST(0 AS DOUBLE), NULL, NULL, NULL
  FROM base WHERE NOT trunc
  UNION ALL
  SELECT doc_id, 3, 'MultiPolygon', 10, 2,
    CAST(204 AS DOUBLE), CAST(1 AS DOUBLE),
    CAST(2 AS DOUBLE),
    CAST(doc_id % 4 <> 1 AS INT), NULL, NULL
  FROM base WHERE NOT trunc
)
SELECT doc_id, feat_idx, CAST(0 AS INT) AS err, gtype,
  CAST(n_points AS INT) AS n_points, CAST(n_rings AS INT) AS n_rings,
  bbox_xmax, bbox_ymax, area, ccw, name, rank
FROM feats
UNION ALL
SELECT doc_id, NULL, CAST(1 AS INT), NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL
FROM base WHERE trunc
"""


# Winsorized/trimmed means: row_number over the total (value, key)
# order, floor(p*n) tail sizes, DECIMAL mid-sum, same double chain
ORACLES["winsorized_stats"] = """
WITH ranked AS (
  SELECT o_orderpriority,
    CAST(o_totalprice AS DOUBLE) AS v,
    row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), tagged AS (
  SELECT *,
    CAST(floor(round(0.05 * CAST(n AS DOUBLE), 9)) AS BIGINT) AS k,
    CAST(floor(round((1.0 - 0.95) * CAST(n AS DOUBLE), 9)) AS BIGINT)
      AS m
  FROM ranked
), agg AS (
  SELECT o_orderpriority,
    max(n) AS n, max(k) AS k_lo, max(m) AS k_hi,
    SUM(CASE WHEN rn > k AND rn <= n - m
        THEN CAST(round(v, 6) AS DECIMAL(38,6)) END) AS mid_sum,
    COUNT(CASE WHEN rn > k AND rn <= n - m THEN 1 END) AS mid_n,
    MIN(CASE WHEN rn = k + 1 THEN v END) AS lo,
    MIN(CASE WHEN rn = n - m THEN v END) AS hi
  FROM tagged GROUP BY o_orderpriority
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
  CAST(k_lo AS BIGINT) AS k_lo, CAST(k_hi AS BIGINT) AS k_hi,
  round(lo, 6) AS lo_clip, round(hi, 6) AS hi_clip,
  round(CAST(mid_sum AS DOUBLE) / CAST(mid_n AS DOUBLE), 6)
    AS trimmed_mean,
  round((CAST(mid_sum AS DOUBLE) + CAST(k_lo AS DOUBLE) * lo
         + CAST(k_hi AS DOUBLE) * hi) / CAST(n AS DOUBLE), 6)
    AS winsor_mean
FROM agg
"""


# Join-key health: key-level profiles full-outer joined; worst-case
# join size = sum of ln*rn over matched keys
ORACLES["join_cardinality_audit"] = """
WITH lk AS (
  SELECT l_orderkey AS k, COUNT(*) AS ln FROM lineitem GROUP BY 1
), rk AS (
  SELECT o_orderkey AS k, COUNT(*) AS rn FROM orders GROUP BY 1
), j AS (
  SELECT COALESCE(lk.ln, 0) AS ln, COALESCE(rk.rn, 0) AS rn
  FROM lk FULL OUTER JOIN rk USING (k)
), agg AS (
  SELECT
    CAST(SUM(ln) AS BIGINT) AS left_rows,
    CAST(SUM(rn) AS BIGINT) AS right_rows,
    COUNT(CASE WHEN ln > 0 THEN 1 END) AS left_keys,
    COUNT(CASE WHEN rn > 0 THEN 1 END) AS right_keys,
    COUNT(CASE WHEN ln > 0 AND rn > 0 THEN 1 END) AS matched_keys,
    COUNT(CASE WHEN ln > 0 AND rn = 0 THEN 1 END) AS left_orphan_keys,
    COUNT(CASE WHEN rn > 0 AND ln = 0 THEN 1 END) AS right_orphan_keys,
    CAST(SUM(CASE WHEN ln > 0 AND rn > 0 THEN ln * rn ELSE 0 END)
         AS BIGINT) AS join_rows,
    CAST(MAX(CASE WHEN ln > 0 AND rn > 0 THEN ln END) AS BIGINT)
      AS max_left_fanout,
    CAST(MAX(CASE WHEN ln > 0 AND rn > 0 THEN rn END) AS BIGINT)
      AS max_right_fanout
  FROM j
)
SELECT left_rows, right_rows, left_keys, right_keys, matched_keys,
  left_orphan_keys, right_orphan_keys, join_rows,
  max_left_fanout, max_right_fanout,
  CASE WHEN max_left_fanout <= 1 AND max_right_fanout <= 1 THEN '1:1'
       WHEN max_right_fanout <= 1 THEN 'N:1'
       WHEN max_left_fanout <= 1 THEN '1:N'
       ELSE 'N:M' END AS relationship
FROM agg
"""


# iCalendar intake: one one-off event + one DAILY recurrence per doc,
# all timestamps closed-form in doc_id; ISO strings via strftime
ORACLES["ics_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 17 = 0 AS trunc,
    1 + doc_id % 2 AS iv, 2 + doc_id % 4 AS cnt
  FROM documents
), e1 AS (
  SELECT doc_id, 'e1-' || CAST(doc_id AS VARCHAR) || '@x' AS uid,
    'Sync, team ' || CAST(doc_id % 10 AS VARCHAR) AS summary,
    CAST(0 AS INT) AS occ_idx,
    strftime(TIMESTAMP '2024-01-01 00:00:00'
             + doc_id * INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%S')
      AS occ_start,
    strftime(TIMESTAMP '2024-01-01 00:00:00'
             + doc_id * INTERVAL 1 HOUR + INTERVAL 90 MINUTE,
             '%Y-%m-%dT%H:%M:%S') AS occ_end
  FROM base WHERE NOT trunc
), e2 AS (
  SELECT b.doc_id, 'e2-' || CAST(b.doc_id AS VARCHAR) || '@x' AS uid,
    'Daily' AS summary, CAST(j AS INT) AS occ_idx,
    strftime(TIMESTAMP '2024-03-01 12:00:00'
             + b.doc_id * INTERVAL 1 MINUTE
             + j * b.iv * INTERVAL 1 DAY, '%Y-%m-%dT%H:%M:%S')
      AS occ_start,
    strftime(TIMESTAMP '2024-03-01 12:00:00'
             + b.doc_id * INTERVAL 1 MINUTE
             + j * b.iv * INTERVAL 1 DAY + INTERVAL 45 MINUTE,
             '%Y-%m-%dT%H:%M:%S') AS occ_end
  FROM base b JOIN (SELECT unnest(range(6)) AS j) t ON t.j < b.cnt
  WHERE NOT b.trunc
), e3 AS (
  SELECT b.doc_id, 'e3-' || CAST(b.doc_id AS VARCHAR) || '@x' AS uid,
    'Yearly' AS summary, CAST(j AS INT) AS occ_idx,
    strftime(CASE WHEN b.doc_id % 5 = 0
      THEN make_timestamp(2020 + 4 * j, 2, 29, 8, 0, 0)
      ELSE make_timestamp(2020 + j, 1 + b.doc_id % 12,
                          1 + b.doc_id % 28, 8, 0, 0) END,
      '%Y-%m-%dT%H:%M:%S') AS occ_start,
    strftime(CASE WHEN b.doc_id % 5 = 0
      THEN make_timestamp(2020 + 4 * j, 2, 29, 9, 0, 0)
      ELSE make_timestamp(2020 + j, 1 + b.doc_id % 12,
                          1 + b.doc_id % 28, 9, 0, 0) END,
      '%Y-%m-%dT%H:%M:%S') AS occ_end
  FROM base b JOIN (SELECT unnest(range(3)) AS j) t ON TRUE
  WHERE NOT b.trunc
), e4 AS (
  SELECT b.doc_id, 'e4-' || CAST(b.doc_id AS VARCHAR) || '@x' AS uid,
    'Biz' AS summary, CAST(j AS INT) AS occ_idx,
    CASE b.doc_id % 3
      WHEN 0 THEN (['2026-01-15T09:00:00', '2026-02-19T09:00:00',
                    '2026-03-19T09:00:00'])[j + 1]
      WHEN 1 THEN (['2026-01-31T09:00:00', '2026-02-28T09:00:00',
                    '2026-03-31T09:00:00'])[j + 1]
      ELSE (['2026-02-28T09:00:00', '2027-02-28T09:00:00',
             '2028-02-29T09:00:00'])[j + 1]
    END AS occ_start,
    CASE b.doc_id % 3
      WHEN 0 THEN (['2026-01-15T09:30:00', '2026-02-19T09:30:00',
                    '2026-03-19T09:30:00'])[j + 1]
      WHEN 1 THEN (['2026-01-31T09:30:00', '2026-02-28T09:30:00',
                    '2026-03-31T09:30:00'])[j + 1]
      ELSE (['2026-02-28T09:30:00', '2027-02-28T09:30:00',
             '2028-02-29T09:30:00'])[j + 1]
    END AS occ_end
  FROM base b JOIN (SELECT unnest(range(3)) AS j) t ON TRUE
  WHERE NOT b.trunc
), e5 AS (
  SELECT b.doc_id, 'e5-' || CAST(b.doc_id AS VARCHAR) || '@x' AS uid,
    'Biz2' AS summary, CAST(j AS INT) AS occ_idx,
    CASE b.doc_id % 3
      WHEN 0 THEN (['2026-01-30T09:00:00', '2026-02-27T09:00:00',
                    '2026-03-31T09:00:00'])[j + 1]
      WHEN 1 THEN (['1997-08-05T09:00:00', '1997-08-17T09:00:00',
                    '1997-08-19T09:00:00',
                    '1997-08-31T09:00:00'])[j + 1]
      ELSE (['2024-05-13T09:00:00', '2025-05-19T09:00:00'])[j + 1]
    END AS occ_start,
    CASE b.doc_id % 3
      WHEN 0 THEN (['2026-01-30T09:30:00', '2026-02-27T09:30:00',
                    '2026-03-31T09:30:00'])[j + 1]
      WHEN 1 THEN (['1997-08-05T09:30:00', '1997-08-17T09:30:00',
                    '1997-08-19T09:30:00',
                    '1997-08-31T09:30:00'])[j + 1]
      ELSE (['2024-05-13T09:30:00', '2025-05-19T09:30:00'])[j + 1]
    END AS occ_end
  FROM base b JOIN (SELECT unnest(range(4)) AS j) t
    ON t.j < CASE b.doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 2 END
  WHERE NOT b.trunc
), e6 AS (
  SELECT b.doc_id, 'e6-' || CAST(b.doc_id AS VARCHAR) || '@x' AS uid,
    'Ops' AS summary, CAST(j AS INT) AS occ_idx,
    (['2024-01-01T09:00:00', '2024-01-03T09:00:00',
      '2024-01-04T09:00:00', '2024-01-10T09:00:00'])[j + 1]
      AS occ_start,
    (['2024-01-01T09:20:00', '2024-01-03T09:20:00',
      '2024-01-04T09:20:00', '2024-01-10T09:20:00'])[j + 1]
      AS occ_end
  FROM base b JOIN (SELECT unnest(range(4)) AS j) t
    ON t.j < CASE WHEN b.doc_id % 2 = 0 THEN 4 ELSE 3 END
  WHERE NOT b.trunc
)
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT) AS all_day, CAST(0 AS INT) AS capped,
  CAST(0 AS INT) AS err
FROM e1
UNION ALL
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT) FROM e2
UNION ALL
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT) FROM e3
UNION ALL
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT) FROM e4
UNION ALL
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT) FROM e5
UNION ALL
SELECT doc_id, uid, summary, occ_idx, occ_start, occ_end,
  CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT) FROM e6
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  CAST(1 AS INT)
FROM base WHERE trunc
"""


# Combined-log parse: the oracle emits the planted fields directly —
# the Spark side must recover them from its own rendered lines
ORACLES["access_log_parse"] = """
WITH base AS (
  SELECT event_id AS e, user_id AS u, event_type,
    date_trunc('second', ts) AS ts2, event_id % 17 = 0 AS bad
  FROM events
), fields AS (
  SELECT e,
    CAST(e % 223 + 1 AS VARCHAR) || '.' || CAST(e * 7 % 256 AS VARCHAR)
      || '.' || CAST(e * 13 % 256 AS VARCHAR) || '.'
      || CAST(e * 31 % 256 AS VARCHAR) AS ip,
    CASE WHEN u % 5 = 0 THEN NULL
         ELSE 'u' || CAST(u % 100 AS VARCHAR) END AS user,
    ts2 AS req_ts,
    CASE e % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
               WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS method,
    '/api/' || event_type || '/' || CAST(e % 50 AS VARCHAR) AS path,
    'HTTP/1.1' AS proto,
    CASE WHEN e % 7 = 0 THEN 500 WHEN e % 7 = 1 THEN 404
         WHEN e % 7 = 2 THEN 301 ELSE 200 END AS status,
    CASE WHEN e % 7 = 2 THEN NULL
         ELSE CAST(e % 5000 AS BIGINT) END AS bytes,
    CASE WHEN e % 3 = 0 THEN NULL
         ELSE 'https://ref.example/x' || CAST(e % 9 AS VARCHAR)
    END AS referer,
    CASE WHEN u % 10 = 0
         THEN 'crawler-bot/2.' || CAST(u % 3 AS VARCHAR)
         ELSE 'Mozilla/5.0 (X11; Linux x86_64)' END AS ua,
    CASE WHEN u % 10 = 0 THEN 1 ELSE 0 END AS is_bot,
    bad
  FROM base
)
SELECT e AS event_id, CAST(0 AS INT) AS err, ip, user, req_ts, method,
  path, proto, CAST(status AS INT) AS status, bytes, referer, ua,
  CAST(status // 100 AS INT) AS status_class, CAST(is_bot AS INT) AS is_bot
FROM fields WHERE NOT bad
UNION ALL
SELECT e, CAST(1 AS INT), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL, NULL
FROM fields WHERE bad
"""


def _luhn_sql_terms() -> str:
    """15 fixed-position Luhn terms over `base` (odd positions from
    the left double, >9 folds by -9) — lockstep with the fixture."""
    terms = []
    for j in range(1, 16):
        dig = f"CAST(substr(base, {j}, 1) AS INT)"
        if j % 2 == 1:
            terms.append(
                f"(CASE WHEN {dig} * 2 > 9 THEN {dig} * 2 - 9 "
                f"ELSE {dig} * 2 END)"
            )
        else:
            terms.append(dig)
    return " + ".join(terms)


# Luhn audit: the fixture plants one 16-digit PAN per doc with a
# correct check digit on d%3!=1; masked surface, issuer by prefix
ORACLES["luhn_audit"] = f"""
WITH pan AS (
  SELECT doc_id,
    (CASE doc_id % 4 WHEN 0 THEN '40' WHEN 1 THEN '51'
                     WHEN 2 THEN '37' ELSE '60' END)
    || lpad(CAST(doc_id * 7919 % 10000000000000 AS VARCHAR), 13, '0')
      AS base
  FROM documents
), built AS (
  SELECT doc_id, base,
    (10 - ({_luhn_sql_terms()}) % 10) % 10 AS check0
  FROM pan
), full_pan AS (
  SELECT doc_id,
    base || CAST(CASE WHEN doc_id % 3 = 1
                      THEN (check0 + 5) % 10 ELSE check0 END AS VARCHAR)
      AS p,
    CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END AS luhn_valid
  FROM built
)
SELECT doc_id,
  substr(p, 1, 6) || '******' || substr(p, 13, 4) AS pan_masked,
  CAST(16 AS INT) AS pan_len,
  CAST(luhn_valid AS INT) AS luhn_valid,
  CASE WHEN substr(p, 1, 1) = '4' THEN 'visa'
       WHEN substr(p, 1, 2) IN ('51','52','53','54','55')
         THEN 'mastercard'
       WHEN substr(p, 1, 2) IN ('34','37') THEN 'amex'
       ELSE 'other' END AS brand
FROM full_pan
"""


# Gini per nation: DECIMAL-exact customer spend, rank-weighted sum
# over the (spend, custkey) total order, one closed-form scalar chain
ORACLES["gini_concentration"] = """
WITH spend AS (
  SELECT o.o_custkey AS c_custkey, c.c_nationkey,
    CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_nationkey,
    CAST(round(spend, 6) AS DECIMAL(38,6)) AS x,
    CAST(row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY spend, c_custkey)
         AS DECIMAL(38,0)) AS i
  FROM spend
), agg AS (
  SELECT c_nationkey, COUNT(*) AS n,
    CAST(SUM(x) AS DOUBLE) AS s, CAST(SUM(i * x) AS DOUBLE) AS ws
  FROM ranked GROUP BY c_nationkey
)
SELECT c_nationkey, CAST(n AS BIGINT) AS n, round(s, 2) AS total,
  CASE WHEN s > 0 THEN
    round((2.0 * ws - (CAST(n AS DOUBLE) + 1.0) * s)
          / (CAST(n AS DOUBLE) * s), 6)
  END AS gini
FROM agg
"""


# Hierarchy flatten: the oracle climbs the same quad-forest with a
# recursive CTE; the engine's pointer-doubling must reproduce it
ORACLES["tree_flatten"] = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS node,
    CASE WHEN p_partkey <= 3 THEN NULL
         ELSE p_partkey // 4 END AS parent
  FROM part
),
up AS (
  SELECT node, parent AS nxt, CAST(node AS VARCHAR) AS path,
    0 AS depth, node AS top
  FROM edges
  UNION ALL
  SELECT u.node, e.parent,
    CAST(e.node AS VARCHAR) || '/' || u.path,
    u.depth + 1, e.node
  FROM up u JOIN edges e ON e.node = u.nxt
)
SELECT node, CAST(1 AS INT) AS resolved, top AS root,
  CAST(depth AS INT) AS depth, path
FROM up WHERE nxt IS NULL
"""


# Touch attribution: the same [-7d, -1s] range frame; struct min/max
# replayed as fixed-width sortable strings (zero-padded sec||id)
ORACLES["touch_attribution"] = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
  FROM events
), keyed AS (
  SELECT *,
    CASE WHEN event_type <> 'purchase' THEN
      lpad(CAST(sec AS VARCHAR), 12, '0')
      || lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type
    END AS tkey
  FROM ev
), win AS (
  SELECT user_id AS user, event_id AS conv_id, ts AS conv_ts,
    event_type,
    MIN(tkey) OVER w AS fk, MAX(tkey) OVER w AS lk,
    COUNT(tkey) OVER w AS n_touches
  FROM keyed
  WINDOW w AS (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {C.ATTR_LOOKBACK_S} PRECEDING
               AND 1 PRECEDING)
)
SELECT user, conv_id, conv_ts, n_touches,
  substr(fk, 25) AS first_touch, substr(lk, 25) AS last_touch
FROM win WHERE event_type = 'purchase'
"""


# Inverted index: aligned unnest for positions (0-based like
# posexplode), string_agg positions, window df, tail pruned
ORACLES["posting_lists"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL("text")}) AS term,
    generate_subscripts({TOKENS_SQL("text")}, 1) - 1 AS pos
  FROM documents
), per_doc AS (
  SELECT term, doc_id, COUNT(*) AS tf,
    string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
  FROM toks GROUP BY term, doc_id
)
SELECT term, COUNT(*) OVER (PARTITION BY term) AS df, doc_id, tf,
  positions
FROM per_doc
QUALIFY df >= {C.POSTING_MIN_DF}
"""


# Critical path: the oracle enumerates every root-to-node path with a
# recursive CTE and maxes; the engine's frontier must reproduce it
ORACLES["critical_path"] = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 2 AS parent,
    p_partkey % 7 + 1 AS w
  FROM part WHERE p_partkey >= 2 AND p_partkey < 512
  UNION ALL
  SELECT p_partkey, p_partkey // 3, p_partkey % 5 + 1
  FROM part WHERE p_partkey >= 2 AND p_partkey < 512
  UNION ALL
  SELECT p_partkey, 0, 1 FROM part WHERE p_partkey = 1
),
down AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION ALL
  SELECT e.child, d.dist + e.w
  FROM down d JOIN edges e ON e.parent = d.node
)
SELECT node, CAST(MAX(dist) AS BIGINT) AS longest
FROM down GROUP BY node
"""


# k-NN label vote: exact cosine top-k + majority vote, ties to the
# smallest label
ORACLES["knn_label_vote"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {C.TOPK_N_QUERIES}
), sc AS (
  SELECT q.query_id, e.vec_id,
    round({_cosine_sql('e.embedding', 'q.qv')}, 6) AS s
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), top AS (
  SELECT query_id, vec_id FROM sc
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, vec_id ASC) <= {C.TOPK_K}
), votes AS (
  SELECT t.query_id, e.label, COUNT(*) AS votes
  FROM top t JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2
), pred AS (
  SELECT query_id,
    first(label ORDER BY votes DESC, label ASC) AS predicted,
    max(votes) AS top_votes
  FROM votes GROUP BY query_id
)
SELECT p.query_id, e.label AS actual, CAST(p.predicted AS INT)
    AS predicted,
  CAST(p.top_votes AS BIGINT) AS top_votes,
  CAST(p.predicted = e.label AS INT) AS hit
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
"""


def _soundex_sql(name_expr: str) -> str:
    """American Soundex from scratch in SQL: translate consonants to
    digit classes, strip H/W (they do not break runs), collapse digit
    runs (RE2 has no backrefs — a 4-pass replace chain covers runs to
    length 16), drop vowels, pad. Conformance-checks Spark's JVM
    built-in rather than trusting it."""
    cons = "BFPVCGJKQSXZDTLMNR"
    digs = "111122222222334556"
    first = f"substr(upper({name_expr}), 1, 1)"
    tail = f"substr(upper({name_expr}), 2)"
    t1 = f"translate({tail}, '{cons}', '{digs}')"
    t2 = f"replace(replace({t1}, 'H', ''), 'W', '')"
    full = f"translate({first}, '{cons}', '{digs}') || {t2}"
    collapsed = full
    for _ in range(4):
        for d in "123456":
            collapsed = f"replace({collapsed}, '{d}{d}', '{d}')"
    rest = f"substr({collapsed}, 2)"
    digits = f"regexp_replace({rest}, '[AEIOUY]', '', 'g')"
    return f"({first} || substr({digits} || '000', 1, 3))"


_SOUNDEX_NAME_SQL = (
    "(['Smith','Schmidt','Pfister','Robert','Rupert','Ashcraft',"
    "'Tymczak','Honeyman','Jackson','Washington'])"
    "[CAST(c_custkey % 10 + 1 AS INT)]"
)

ORACLES["soundex_blocking"] = f"""
WITH named AS (
  SELECT c_custkey, {_SOUNDEX_NAME_SQL} AS name FROM customer
), coded AS (
  SELECT c_custkey, name, {_soundex_sql('name')} AS code FROM named
)
SELECT c_custkey, name, code,
  COUNT(*) OVER (PARTITION BY code) AS block_size
FROM coded
"""


# Sequential patterns: FIRST(a) < LAST(b) existence on the total
# (ts, event_id) key; support over the user universe
ORACLES["seq_patterns"] = f"""
WITH per AS (
  SELECT user_id AS k, event_type AS t,
    min(ROW(ts, event_id)) AS fst, max(ROW(ts, event_id)) AS lst
  FROM events GROUP BY 1, 2
), n AS (
  SELECT COUNT(DISTINCT k) AS nk FROM per
), pairs AS (
  SELECT a.t AS antecedent, b.t AS consequent, COUNT(*) AS support
  FROM per a JOIN per b ON a.k = b.k AND a.t <> b.t
  WHERE a.fst < b.lst
  GROUP BY 1, 2
  HAVING COUNT(*) >= {C.SEQPAT_MIN_SUPPORT}
)
SELECT antecedent, consequent, support,
  round(CAST(support AS DOUBLE) / CAST(n.nk AS DOUBLE), 6)
    AS support_frac
FROM pairs, n
"""


# Clamped running balance: b_t = S_t - min(0, running_min(S)) — the
# prefix-sum identity for max(0, b+x), DECIMAL-exact prefixes
ORACLES["stock_balance"] = """
WITH capped AS (
  SELECT event_type, ts, event_id,
    CASE WHEN event_id % 3 = 0 THEN value ELSE -value END AS delta
  FROM events WHERE event_id < 2000
), s AS (
  SELECT event_type, ts, event_id, delta,
    SUM(CAST(round(delta, 6) AS DECIMAL(38,6))) OVER w AS ps
  FROM capped
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
), m AS (
  SELECT *, MIN(ps) OVER w2 AS rmin
  FROM s
  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, ts, event_id, delta,
  round(CAST(ps AS DOUBLE), 6) AS raw_balance,
  round(CAST(ps - least(CAST(0 AS DECIMAL(38,6)), rmin) AS DOUBLE), 6)
    AS balance
FROM m
"""


# Revenue recognition: integer cents, floor share + largest-remainder
# cents to the earliest period indexes
ORACLES["revenue_recognition"] = """
WITH base AS (
  SELECT o_orderkey,
    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m0,
    CAST(o_orderkey % 6 + 1 AS INT) AS n_months,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
  FROM orders
), expanded AS (
  SELECT b.*, CAST(j AS INT) AS period_idx
  FROM base b JOIN (SELECT unnest(range(6)) AS j) t
    ON t.j < b.n_months
)
SELECT o_orderkey, period_idx,
  CAST(m0 + period_idx * INTERVAL 1 MONTH AS DATE) AS period_month,
  total_cents // n_months
    + CASE WHEN period_idx < total_cents % n_months THEN 1 ELSE 0 END
    AS amount_cents,
  n_months
FROM expanded
"""


# TWAP: lead-based holding seconds, DECIMAL-exact weighted sums
ORACLES["twap"] = """
WITH s AS (
  SELECT event_type, value,
    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec,
    LEAD(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
      OVER (PARTITION BY event_type
            ORDER BY date_diff('second',
                               TIMESTAMP '1970-01-01 00:00:00', ts),
                     event_id)
      - date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
      AS hold
  FROM events
), agg AS (
  SELECT event_type, COUNT(*) AS n_obs, COUNT(hold) AS n_holds,
    CAST(SUM(CAST(hold AS DECIMAL(38,0))) AS DOUBLE) AS tw,
    CAST(SUM(CAST(round(value * CAST(hold AS DOUBLE), 6)
                  AS DECIMAL(38,6))) AS DOUBLE) AS wv
  FROM s GROUP BY event_type
)
SELECT event_type, n_obs, n_holds,
  CAST(tw AS BIGINT) AS total_seconds,
  CASE WHEN tw > 0 THEN round(wv / tw, 6) END AS twap
FROM agg
"""


# Encoding advisor: sharded run counts (first row of each contiguous
# orderkey shard counts as a change) + exact distincts per column
ORACLES["encoding_advisor"] = f"""
WITH flags AS (
  SELECT l_returnflag, l_linestatus, l_quantity, l_partkey,
    CASE WHEN lag(l_returnflag) OVER w IS NULL
         OR lag(l_returnflag) OVER w <> l_returnflag
      THEN 1 ELSE 0 END AS c1,
    CASE WHEN lag(l_linestatus) OVER w IS NULL
         OR lag(l_linestatus) OVER w <> l_linestatus
      THEN 1 ELSE 0 END AS c2,
    CASE WHEN lag(l_quantity) OVER w IS NULL
         OR lag(l_quantity) OVER w <> l_quantity
      THEN 1 ELSE 0 END AS c3,
    CASE WHEN lag(l_partkey) OVER w IS NULL
         OR lag(l_partkey) OVER w <> l_partkey
      THEN 1 ELSE 0 END AS c4
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey // {C.ENC_ADVISOR_BUCKET}
               ORDER BY l_orderkey, l_linenumber, l_returnflag,
                        l_linestatus, l_quantity, l_partkey)
), agg AS (
  SELECT COUNT(*) AS n,
    SUM(c1) AS r1, SUM(c2) AS r2, SUM(c3) AS r3, SUM(c4) AS r4,
    COUNT(DISTINCT l_returnflag) AS d1,
    COUNT(DISTINCT l_linestatus) AS d2,
    COUNT(DISTINCT l_quantity) AS d3,
    COUNT(DISTINCT l_partkey) AS d4
  FROM flags
), rows_ AS (
  SELECT 'l_returnflag' AS "column", n, d1 AS nd, r1 AS runs FROM agg
  UNION ALL SELECT 'l_linestatus', n, d2, r2 FROM agg
  UNION ALL SELECT 'l_quantity', n, d3, r3 FROM agg
  UNION ALL SELECT 'l_partkey', n, d4, r4 FROM agg
)
SELECT "column", CAST(n AS BIGINT) AS n_rows, CAST(nd AS BIGINT)
    AS n_distinct,
  CAST(runs AS BIGINT) AS n_runs,
  round(CAST(n AS DOUBLE) / CAST(runs AS DOUBLE), 6) AS avg_run_len,
  round(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS distinct_ratio,
  CASE WHEN CAST(n AS DOUBLE) / CAST(runs AS DOUBLE) >= 4.0 THEN 'RLE'
       WHEN CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) <= 0.1 THEN 'DICT'
       ELSE 'PLAIN' END AS recommendation
FROM rows_
"""


# Streaming balance replay: the one-pass closed form over the same
# ordered subset — per-key DECIMAL prefix sums, terciles by global seq
ORACLES["streaming_balance_replay"] = f"""
WITH sub AS (
  SELECT event_id, ts, event_type,
    CASE WHEN event_id % 3 = 0 THEN value ELSE -value END AS delta
  FROM events
  ORDER BY (event_id * {C.REPLAY_SPREAD}) % 4294967296, event_id
  LIMIT {C.REPLAY_ROW_BUDGET}
), seqd AS (
  SELECT event_type, delta,
    row_number() OVER (ORDER BY ts, event_id) - 1 AS seq
  FROM sub
), s AS (
  SELECT event_type,
    CAST(round(delta, 6) AS DECIMAL(38,6)) AS d,
    SUM(CAST(round(delta, 6) AS DECIMAL(38,6))) OVER
      (PARTITION BY event_type ORDER BY seq
       ROWS UNBOUNDED PRECEDING) AS ps,
    CASE WHEN seq < {C.REPLAY_ROW_BUDGET // 3} THEN 0
         WHEN seq < {2 * C.REPLAY_ROW_BUDGET // 3} THEN 1
         ELSE 2 END AS tercile
  FROM seqd
)
SELECT event_type,
  CAST(COUNT(DISTINCT tercile) AS BIGINT) AS n_batches,
  round(CAST(SUM(d) AS DOUBLE), 6) AS final_raw,
  round(CAST(SUM(d) - least(CAST(0 AS DECIMAL(38,6)), MIN(ps))
             AS DOUBLE), 6) AS final_balance
FROM s GROUP BY event_type
"""


# Bitmap contingency: the oracle counts DIRECTLY — a fully
# independent algorithm the word-mask AND/popcount must reproduce
ORACLES["bitmap_contingency"] = """
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY 1, 2
"""


# Seasonal anomalies: the full detrend -> phase mean -> residual ->
# median/MAD -> k-cut chain replayed; quantile_cont == F.percentile
ORACLES["seasonal_anomaly"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
    CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), tr AS (
  SELECT event_type, bucket, hour(bucket) AS phase, y,
    CAST(round(y - ({_seasonal_trend_terms(24)}) / 24.0, 9)
         AS DECIMAL(38,9)) AS d
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
), detr AS (
  SELECT * FROM tr WHERE d IS NOT NULL
), raw AS (
  SELECT event_type AS rt, phase AS rp,
    CAST(SUM(d) AS DOUBLE) / count(*) AS s_raw
  FROM detr GROUP BY 1, 2
), joined AS (
  SELECT event_type, bucket, phase, y,
    CAST(d AS DOUBLE) - s_raw AS r
  FROM detr JOIN raw ON event_type = rt AND phase = rp
), med AS (
  SELECT event_type AS mt, quantile_cont(r, 0.5) AS medr
  FROM joined GROUP BY 1
), dev AS (
  SELECT j.*, abs(j.r - m.medr) AS adev
  FROM joined j JOIN med m ON j.event_type = m.mt
), mad AS (
  SELECT event_type AS at, quantile_cont(adev, 0.5) AS madv
  FROM dev GROUP BY 1
)
SELECT d.event_type, d.bucket, d.phase, d.y,
  round(d.r, 6) AS residual, round(a.madv, 6) AS mad
FROM dev d JOIN mad a ON d.event_type = a.at
WHERE d.adev > {C.SEASANOM_K} * a.madv
"""


# Iceberg snapshots: closed-form live sets per snapshot — snap 1 =
# buckets 0..29 all live; snap 2 = 10..19 minus doc%7 deletions,
# 20..39 all live
ORACLES["iceberg_snapshot"] = """
WITH d AS (
  SELECT doc_id, doc_id % 40 AS bucket, 'p' || CAST(doc_id % 5
    AS VARCHAR) AS partition,
    CAST(100 + doc_id % 50 AS BIGINT) AS rc,
    CAST(1000 + doc_id % 77 AS BIGINT) AS fs
  FROM documents
), live AS (
  SELECT CAST(1 AS BIGINT) AS snapshot_id, partition, rc, fs
  FROM d WHERE bucket <= 29
  UNION ALL
  SELECT CAST(2 AS BIGINT), partition, rc, fs
  FROM d
  WHERE (bucket BETWEEN 10 AND 19 AND doc_id % 7 <> 0)
     OR bucket >= 20
)
SELECT snapshot_id, partition, COUNT(*) AS n_files,
  CAST(SUM(rc) AS BIGINT) AS n_rows,
  CAST(SUM(fs) AS BIGINT) AS total_bytes
FROM live GROUP BY 1, 2
"""


ORACLES["iceberg_snapshot_v2"] = """
WITH d AS (
  SELECT doc_id, doc_id % 20 AS bucket,
    'p' || CAST(doc_id % 5 AS VARCHAR) AS partition,
    CAST(100 + doc_id % 50 AS BIGINT) AS rc,
    CAST(1000 + doc_id % 77 AS BIGINT) AS fs,
    CASE WHEN doc_id % 20 <= 9 AND doc_id % 3 = 0
      THEN (doc_id % 4) + 1
           + CASE WHEN doc_id % 20 <= 4 AND doc_id % 6 = 0
                  THEN 1 ELSE 0 END
      ELSE 0 END AS gone
  FROM documents
), live AS (
  SELECT CAST(1 AS BIGINT) AS snapshot_id, partition, rc AS lr, fs
  FROM d
  UNION ALL
  SELECT CAST(2 AS BIGINT), partition, rc - gone, fs FROM d
)
SELECT snapshot_id, partition, COUNT(*) AS n_files,
  CAST(SUM(lr) AS BIGINT) AS n_rows,
  CAST(SUM(fs) AS BIGINT) AS total_bytes
FROM live GROUP BY 1, 2
"""


# hidden-partitioning transforms: the bucket lookup VALUES tables are
# generated from extensions/murmur3.py, itself conformance-pinned in
# pytest against the Iceberg spec's published hash vectors (34 ->
# 2017239379, "iceberg" -> 1210000089, …) — the oracle verifies the
# Spark-side plumbing; the hash is verified against the spec
def _bucket_values_sql() -> str:
    from trollflow2_spark.extensions.murmur3 import (
        iceberg_bucket_long,
        iceberg_bucket_string,
    )

    longs = ",".join(
        f"({v},{iceberg_bucket_long(v, 16)})" for v in range(997)
    )
    pris = ",".join(
        f"('{p}',{iceberg_bucket_string(p, 8)})"
        for p in (
            "1-URGENT",
            "2-HIGH",
            "3-MEDIUM",
            "4-NOT SPECIFIED",
            "5-LOW",
        )
    )
    return f"""
WITH bl(v, b) AS (VALUES {longs}),
 bp(p, pb) AS (VALUES {pris}),
 rows AS (
  SELECT bl.b AS b,
    CAST(year(o.o_orderdate) - 1970 AS INT) AS y,
    CAST((year(o.o_orderdate) - 1970) * 12
         + month(o.o_orderdate) - 1 AS INT) AS m,
    o.o_custkey - (o.o_custkey % 100) AS t,
    bp.pb AS pb
  FROM orders o
  JOIN bl ON o.o_orderkey % 997 = bl.v
  JOIN bp ON o.o_orderpriority = bp.p
)
SELECT b, y, COUNT(*) AS n_orders,
  CAST(SUM(t) AS BIGINT) AS sum_trunc,
  CAST(SUM(pb) AS BIGINT) AS sum_pri_bucket,
  MIN(m) AS min_month, MAX(m) AS max_month
FROM rows GROUP BY b, y
"""


ORACLES["iceberg_partition_transforms"] = _bucket_values_sql()

# expiry planner: snapshot 1's list + manifests die; of its data
# files only the ones NOT shared live with snapshot 2 (d%3<>0)
ORACLES["iceberg_expire_plan"] = """
SELECT 'data-file' AS kind,
  'fa-' || CAST(doc_id AS VARCHAR) AS path
FROM documents WHERE doc_id % 3 <> 0
UNION ALL
SELECT 'delete-file', 'pda-' || CAST(doc_id AS VARCHAR)
FROM documents WHERE doc_id % 4 = 0 AND doc_id % 12 <> 0
UNION ALL
SELECT 'manifest', 'em1-' || CAST(b AS VARCHAR)
FROM (SELECT DISTINCT doc_id % 20 AS b FROM documents)
UNION ALL
SELECT 'manifest', 'edm1-' || CAST(b AS VARCHAR)
FROM (SELECT DISTINCT doc_id % 20 AS b FROM documents)
UNION ALL
SELECT 'manifest-list', 'exsnap-1.avro'
"""

# equality deletes: closed-form restatement of the planted masks —
# id%7==0 rows gone from seq-1 files only (strict < scoping), pos-0
# rows gone from d%6==0 files, a row masked by both counts once
ORACLES["iceberg_eq_deletes"] = """
WITH d AS (
  SELECT doc_id, doc_id % 5 AS pm, doc_id % 5 + 3 AS n,
    CAST(1000 + doc_id % 77 AS BIGINT) AS fs
  FROM documents
), js AS (SELECT unnest(range(8)) AS j),
r AS (
  SELECT d.doc_id, d.pm, d.n, d.fs, js.j,
    (d.doc_id * 10 + js.j) % 1000 AS key
  FROM d CROSS JOIN js WHERE js.j < d.n
), per_file AS (
  SELECT doc_id, pm, n, fs,
    SUM(CASE WHEN (doc_id % 4 <> 0 AND key % 7 = 0)
              OR (doc_id % 6 = 0 AND j = 0)
         THEN 1 ELSE 0 END) AS gone
  FROM r GROUP BY 1, 2, 3, 4
)
SELECT CAST(1 AS BIGINT) AS snapshot_id,
  'p' || CAST(pm AS VARCHAR) AS partition,
  COUNT(*) AS n_files, CAST(SUM(n) AS BIGINT) AS n_rows,
  CAST(SUM(fs) AS BIGINT) AS total_bytes
FROM per_file GROUP BY 1, 2
UNION ALL
SELECT CAST(2 AS BIGINT), 'p' || CAST(pm AS VARCHAR),
  COUNT(*), CAST(SUM(n - gone) AS BIGINT), CAST(SUM(fs) AS BIGINT)
FROM per_file GROUP BY 1, 2
"""

# Iceberg v3 deletion vectors: closed-form restatement of the
# planted DVs — d%7==0 data files sit at seq 3 (deletes at seq 2
# never apply), d%3==0 carry a DV of min(d%4+1, n) positions that
# SUPERSEDES the leftover pos-delete pair on d%6==0 files, d%2==0
# without a DV lose exactly the 2 pos-deleted rows; snapshot 1 is
# untouched. Matching requires the real Puffin + DV-blob decode.
ORACLES["iceberg_dv_v3"] = """
WITH d AS (
  SELECT doc_id, doc_id % 5 AS pm,
    CAST(doc_id % 5 + 3 AS BIGINT) AS n,
    CAST(1000 + doc_id % 77 AS BIGINT) AS fs,
    CASE WHEN doc_id % 7 = 0 THEN 0
         WHEN doc_id % 3 = 0
           THEN LEAST(doc_id % 4 + 1, doc_id % 5 + 3)
         WHEN doc_id % 2 = 0 THEN 2
         ELSE 0 END AS gone
  FROM documents
)
SELECT CAST(1 AS BIGINT) AS snapshot_id,
  'p' || CAST(pm AS VARCHAR) AS partition,
  COUNT(*) AS n_files, CAST(SUM(n) AS BIGINT) AS n_rows,
  CAST(SUM(fs) AS BIGINT) AS total_bytes
FROM d GROUP BY 1, 2
UNION ALL
SELECT CAST(2 AS BIGINT), 'p' || CAST(pm AS VARCHAR),
  COUNT(*), CAST(SUM(n - gone) AS BIGINT), CAST(SUM(fs) AS BIGINT)
FROM d GROUP BY 1, 2
"""

# Spatial join: the oracle is the closed-form L1 diamond test over a
# plain cross join — a different algorithm than the engine's
# grid-bucketed ray cast, agreeing exactly on non-boundary points
ORACLES["spatial_join_pip"] = """
WITH pts AS (
  SELECT c_custkey,
    CAST(c_custkey % 100 AS DOUBLE) + 0.25 AS x,
    CAST(c_custkey % 60 AS DOUBLE) + 0.25 AS y
  FROM customer
), dia AS (
  SELECT 'd' || CAST(j AS VARCHAR) AS poly_id,
    CAST(j * 17 % 100 AS DOUBLE) AS cx,
    CAST(j * 11 % 60 AS DOUBLE) AS cy,
    1.625 + CAST(j % 4 AS DOUBLE) AS r
  FROM (SELECT unnest(range(12)) AS j)
)
SELECT p.c_custkey, p.x, p.y, d.poly_id
FROM pts p JOIN dia d
  ON abs(p.x - d.cx) + abs(p.y - d.cy) < d.r
"""


# DBSCAN: membership by construction — blob points are core with
# cluster = min doc_id of the blob; spaced-out points are noise
ORACLES["dbscan_blobs"] = """
SELECT doc_id AS id,
  CASE WHEN doc_id % 7 < 2
    THEN CAST((doc_id % 7) * 100
              + ((doc_id // 7) % 5) * 0.5 AS DOUBLE)
    ELSE CAST(1000 + doc_id * 10 AS DOUBLE) END AS x,
  CASE WHEN doc_id % 7 < 2
    THEN CAST(((doc_id // 7 // 5) % 5) * 0.5 AS DOUBLE)
    ELSE CAST(5000 + doc_id * 10 AS DOUBLE) END AS y,
  CAST(CASE WHEN doc_id % 7 < 2 THEN 1 ELSE 0 END AS INTEGER)
    AS is_core,
  CASE WHEN doc_id % 7 < 2 THEN doc_id % 7 END AS cluster_id
FROM documents
"""

# 3-D DBSCAN: membership by construction, same scheme one dim up
ORACLES["dbscan_blobs_3d"] = """
SELECT doc_id AS id,
  CASE WHEN doc_id % 7 < 2
    THEN CAST((doc_id % 7) * 100
              + ((doc_id // 7) % 3) * 0.5 AS DOUBLE)
    ELSE CAST(1000 + doc_id * 10 AS DOUBLE) END AS x,
  CASE WHEN doc_id % 7 < 2
    THEN CAST(((doc_id // 7 // 3) % 3) * 0.5 AS DOUBLE)
    ELSE CAST(5000 + doc_id * 10 AS DOUBLE) END AS y,
  CASE WHEN doc_id % 7 < 2
    THEN CAST(((doc_id // 7 // 9) % 3) * 0.5 AS DOUBLE)
    ELSE CAST(9000 + doc_id * 10 AS DOUBLE) END AS z,
  CAST(CASE WHEN doc_id % 7 < 2 THEN 1 ELSE 0 END AS INTEGER)
    AS is_core,
  CASE WHEN doc_id % 7 < 2 THEN doc_id % 7 END AS cluster_id
FROM documents
"""

# exact quantiles: quantile_cont per p — a different algorithm
# (full sort) agreeing exactly with the bracket selection
ORACLES["latency_quantiles"] = """
WITH v AS (
  SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
  WHERE value IS NOT NULL
)
SELECT event_type, p, CAST(COUNT(*) AS BIGINT) AS n,
  round(CASE p
    WHEN 0.5 THEN quantile_cont(x, 0.5)
    WHEN 0.95 THEN quantile_cont(x, 0.95)
    ELSE quantile_cont(x, 0.99) END, 6) AS q
FROM v CROSS JOIN (
  SELECT unnest([0.5, 0.95, 0.99]) AS p
)
GROUP BY event_type, p
"""

# Aho-Corasick scan: planted phrase counts restated closed-form;
# dominant phrase = argmax with lexicographic tie-break
ORACLES["dictionary_match"] = """
WITH c AS (
  SELECT doc_id,
    doc_id % 3 AS c_click,
    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS c_free,
    doc_id % 4 AS c_spam
  FROM documents
)
SELECT doc_id,
  CAST(c_click + c_free + c_spam AS BIGINT) AS n_hits,
  CAST((CASE WHEN c_click > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN c_free > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN c_spam > 0 THEN 1 ELSE 0 END) AS INTEGER)
    AS n_distinct,
  CASE WHEN greatest(c_click, c_free, c_spam) = 0 THEN NULL
       WHEN c_click = greatest(c_click, c_free, c_spam)
         THEN 'click here'
       WHEN c_free = greatest(c_click, c_free, c_spam)
         THEN 'free money'
       ELSE 'spam' END AS top_term,
  CASE WHEN greatest(c_click, c_free, c_spam) > 0
       THEN CAST(greatest(c_click, c_free, c_spam) AS BIGINT)
  END AS top_count
FROM c
"""

# 30k-phrase stress twin: the noise phrases never match, so the
# output — and therefore the oracle — is identical to the 3-phrase
# query; only the automaton (and its broadcast shipping) grows
ORACLES["dictmatch_bigdict"] = ORACLES["dictionary_match"]

# CBOR intake: the oracle restates the canonical sorted-key JSON
# strings closed-form (map / tag-1 epoch / indefinite text items)
ORACLES["cbor_ingest"] = """
WITH base AS (
  SELECT doc_id, doc_id % 17 = 0 AS trunc FROM documents
)
SELECT doc_id, CAST(0 AS INTEGER) AS item_idx,
  CAST(0 AS INTEGER) AS err,
  '{"arr":[' || CAST(doc_id % 3 AS VARCHAR)
  || ',true,null],"bin":"'
  || lpad(lower(hex(doc_id % 256)), 2, '0') || 'ff","id":'
  || CAST(doc_id AS VARCHAR) || ',"neg":'
  || CAST(-(doc_id % 50) - 1 AS VARCHAR) || ',"txt":"s'
  || CAST(doc_id % 7 AS VARCHAR) || '"}' AS json
FROM base WHERE NOT trunc
UNION ALL
SELECT doc_id, CAST(1 AS INTEGER), CAST(0 AS INTEGER),
  CAST(doc_id AS VARCHAR)
FROM base WHERE NOT trunc
UNION ALL
SELECT doc_id, CAST(2 AS INTEGER), CAST(0 AS INTEGER),
  '"ch' || CAST(doc_id % 10 AS VARCHAR) || '"'
FROM base WHERE NOT trunc
UNION ALL
SELECT doc_id, CAST(-1 AS INTEGER), CAST(1 AS INTEGER), NULL
FROM base WHERE trunc
"""


# CDC extract: closed-form I/U/D classification between the two dumps
ORACLES["cdc_extract"] = """
WITH old AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
  WHERE c_custkey % 13 <> 0
), new AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
         ELSE c_acctbal END AS c_acctbal,
    c_mktsegment
  FROM customer WHERE c_custkey % 17 <> 0
)
SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
  CASE WHEN o.c_custkey IS NULL THEN 'I'
       WHEN n.c_custkey IS NULL THEN 'D'
       ELSE 'U' END AS op,
  o.c_acctbal AS old_c_acctbal, o.c_mktsegment AS old_c_mktsegment,
  n.c_acctbal AS new_c_acctbal, n.c_mktsegment AS new_c_mktsegment
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
"""


# Quantile transform: midrank/(n+1), ties share the average rank
ORACLES["quantile_transform"] = """
SELECT o_orderpriority, o_totalprice AS value,
  round((CAST(rank() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice) AS DOUBLE)
         + (CAST(COUNT(*) OVER (PARTITION BY o_orderpriority,
                                o_totalprice) AS DOUBLE) - 1.0) / 2.0)
        / (CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                AS DOUBLE) + 1.0), 6) AS q
FROM orders
"""


# LOO target encoding: (cat_sum - own) / (n - 1), DECIMAL cat sums
ORACLES["target_encoding"] = """
WITH stats AS (
  SELECT c_mktsegment AS c,
    CAST(SUM(CAST(round(c_acctbal, 6) AS DECIMAL(38,6))) AS DOUBLE)
      AS s,
    COUNT(*) AS n
  FROM customer GROUP BY 1
)
SELECT c_mktsegment AS category, c_acctbal AS target,
  CAST(n AS BIGINT) AS cat_n,
  CASE WHEN CAST(n - 1 AS DOUBLE) > 0
    THEN round((s - CAST(CAST(round(c_acctbal, 6) AS DECIMAL(38,6))
                         AS DOUBLE) + 0.0)
               / (CAST(n - 1 AS DOUBLE) + 0.0), 6)
  END AS loo_encoding
FROM customer JOIN stats ON c_mktsegment = c
"""


# Theil-Sen + Mann-Kendall: identical pair table, quantile_cont for
# the median slope, integer S and tie-corrected variance
ORACLES["hodges_lehmann"] = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      AS day_idx,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
), walsh AS (
  SELECT a.priority, (a.revenue + b.revenue) / 2.0 AS w
  FROM daily a JOIN daily b
    ON a.priority = b.priority AND a.day_idx <= b.day_idx
)
SELECT priority, COUNT(*) AS n_pairs,
  round(quantile_cont(w, 0.5), 6) AS hl_estimate
FROM walsh GROUP BY priority
"""


ORACLES["logrank_ab"] = """
WITH per AS (
  SELECT user_id,
    MIN(ts) AS first_ts,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts,
    MAX(ts) AS last_ts
  FROM events GROUP BY user_id
), subj AS (
  SELECT user_id % 3 AS cohort,
    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
    CAST(floor(date_diff('second', first_ts,
                         COALESCE(p_ts, last_ts)) / 3600.0) AS INT)
      AS t,
    CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per
), cells AS (
  SELECT cohort, arm, t, SUM(ev) AS d, COUNT(*) AS subjects
  FROM subj GROUP BY 1, 2, 3
), gtot AS (
  SELECT cohort, arm, SUM(subjects) AS tot FROM cells GROUP BY 1, 2
), times AS (
  SELECT cohort, t FROM cells GROUP BY cohort, t HAVING SUM(d) > 0
), grid AS (
  -- every arm evaluated at every event time: exits of the OTHER arm
  -- still shrink only their own risk set, but both risk sets must
  -- exist at each event time
  SELECT ti.cohort, g.arm, ti.t, 0 AS typ, 0 AS subjects
  FROM times ti JOIN (SELECT DISTINCT cohort, arm FROM cells) g
    ON g.cohort = ti.cohort
  UNION ALL
  SELECT cohort, arm, t, 1, subjects FROM cells
), risk AS (
  SELECT cohort, arm, t, typ,
    COALESCE(SUM(subjects) OVER (PARTITION BY cohort, arm
      ORDER BY t, typ
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gone
  FROM grid
), atrisk AS (
  SELECT r.cohort, r.arm, r.t, g.tot - r.gone AS n
  FROM risk r JOIN gtot g ON g.cohort = r.cohort AND g.arm = r.arm
  WHERE r.typ = 0
), per_t AS (
  SELECT a.cohort, a.t,
    SUM(COALESCE(c.d, 0)) AS dt, SUM(a.n) AS nt,
    SUM(CASE WHEN a.arm = 'A' THEN COALESCE(c.d, 0) ELSE 0 END)
      AS d1,
    SUM(CASE WHEN a.arm = 'A' THEN a.n ELSE 0 END) AS n1
  FROM atrisk a LEFT JOIN cells c
    ON c.cohort = a.cohort AND c.arm = a.arm AND c.t = a.t
  GROUP BY 1, 2
), terms AS (
  SELECT cohort,
    SUM(d1) AS o1,
    CAST(SUM(CAST(round(CAST(dt AS DOUBLE) * n1 / nt, 9)
                  AS DECIMAL(38,9))) AS DOUBLE) AS e1,
    CAST(SUM(CAST(round(CASE WHEN nt > 1 THEN
      CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
        * (1.0 - CAST(n1 AS DOUBLE) / nt)
        * (CAST(nt AS DOUBLE) - dt) / (CAST(nt AS DOUBLE) - 1.0)
      ELSE 0.0 END, 9) AS DECIMAL(38,9))) AS DOUBLE) AS v
  FROM per_t GROUP BY 1
)
SELECT cohort, 'A' AS group1, CAST(o1 AS BIGINT) AS o1,
  round(e1, 6) AS e1,
  round(CASE WHEN v > 0
    THEN (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v
  END, 6) AS chi2
FROM terms
"""


ORACLES["wilcoxon_shift"] = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      AS day_idx,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
), paired AS (
  SELECT a.priority, b.revenue - a.revenue AS d
  FROM daily a JOIN daily b
    ON a.priority = b.priority AND b.day_idx = a.day_idx + 7
  WHERE b.revenue - a.revenue <> 0
), vals AS (
  SELECT priority, abs(d) AS a, COUNT(*) AS t,
    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS tp
  FROM paired GROUP BY 1, 2
), cum AS (
  SELECT priority, a, t, tp,
    SUM(t) OVER (PARTITION BY priority ORDER BY a
                 ROWS UNBOUNDED PRECEDING) - t AS bef
  FROM vals
), agg AS (
  SELECT priority, CAST(SUM(t) AS BIGINT) AS n,
    SUM(tp * (2 * bef + t + 1)) AS w2,
    SUM(t * t * t - t) AS ties
  FROM cum GROUP BY 1
)
SELECT priority, n,
  round(CAST(w2 AS DOUBLE) / 2.0, 1) AS w_plus,
  round(CASE WHEN CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0)
                  / 24.0 - CAST(ties AS DOUBLE) / 48.0 > 0 THEN
    (CAST(w2 AS DOUBLE) / 2.0 - CAST(n AS DOUBLE) * (n + 1.0) / 4.0
     - sign(CAST(w2 AS DOUBLE) / 2.0
            - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)
       * least(0.5, abs(CAST(w2 AS DOUBLE) / 2.0
                        - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)))
    / sqrt(CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0) / 24.0
           - CAST(ties AS DOUBLE) / 48.0)
  END, 6) AS z
FROM agg
"""


ORACLES["kendall_tau"] = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      AS day_idx,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
      AS revenue,
    COUNT(*) AS n_orders
  FROM orders GROUP BY 1, 2
), cd AS (
  SELECT a.priority,
    CAST(SUM(CAST(sign(b.revenue - a.revenue) AS BIGINT)
             * CAST(sign(CAST(b.n_orders AS DOUBLE)
                         - a.n_orders) AS BIGINT)) AS BIGINT) AS cmd
  FROM daily a JOIN daily b
    ON a.priority = b.priority AND a.day_idx < b.day_idx
  GROUP BY 1
), nn AS (
  SELECT priority, COUNT(*) AS n FROM daily GROUP BY 1
), tx AS (
  SELECT priority, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT priority, revenue, COUNT(*) AS t
        FROM daily GROUP BY 1, 2) GROUP BY 1
), ty AS (
  SELECT priority, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT priority, n_orders, COUNT(*) AS t
        FROM daily GROUP BY 1, 2) GROUP BY 1
)
SELECT c.priority, CAST(n.n AS BIGINT) AS n, c.cmd AS c_minus_d,
  round(CASE WHEN
    sqrt((CAST(n.n AS DOUBLE) * (n.n - 1.0) / 2.0 - t1.n1)
         * (CAST(n.n AS DOUBLE) * (n.n - 1.0) / 2.0 - t2.n2)) > 0
  THEN CAST(c.cmd AS DOUBLE)
    / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1.0) / 2.0 - t1.n1)
           * (CAST(n.n AS DOUBLE) * (n.n - 1.0) / 2.0 - t2.n2))
  END, 6) AS tau_b
FROM cd c JOIN nn n USING (priority)
  JOIN tx t1 USING (priority) JOIN ty t2 USING (priority)
"""


ORACLES["theil_sen_trend"] = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      AS day_idx,
    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.priority,
    (b.revenue - a.revenue)
      / CAST(b.day_idx - a.day_idx AS DOUBLE) AS slope,
    CAST(sign(b.revenue - a.revenue) AS BIGINT) AS sgn
  FROM daily a JOIN daily b
    ON a.priority = b.priority AND a.day_idx < b.day_idx
), pa AS (
  SELECT priority, COUNT(*) AS n_pairs,
    round(quantile_cont(slope, 0.5), 6) AS theil_slope,
    CAST(SUM(sgn) AS BIGINT) AS mk_s
  FROM pairs GROUP BY priority
), nrows AS (
  SELECT priority, COUNT(*) AS n FROM daily GROUP BY priority
), ties AS (
  SELECT priority,
    SUM(t * (t - 1) * (2 * t + 5)) AS tt
  FROM (SELECT priority, revenue, COUNT(*) AS t
        FROM daily GROUP BY 1, 2)
  GROUP BY priority
)
SELECT p.priority, CAST(n.n AS BIGINT) AS n, p.n_pairs,
  p.theil_slope, p.mk_s,
  round(CASE
    WHEN (CAST(n.n AS DOUBLE) * (n.n - 1.0) * (2.0 * n.n + 5.0)
          - CAST(t.tt AS DOUBLE)) / 18.0 > 0 THEN
      CASE WHEN p.mk_s > 0 THEN (CAST(p.mk_s AS DOUBLE) - 1.0)
             / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1.0)
                     * (2.0 * n.n + 5.0)
                     - CAST(t.tt AS DOUBLE)) / 18.0)
           WHEN p.mk_s < 0 THEN (CAST(p.mk_s AS DOUBLE) + 1.0)
             / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1.0)
                     * (2.0 * n.n + 5.0)
                     - CAST(t.tt AS DOUBLE)) / 18.0)
           ELSE 0.0 END
  END, 6) AS mk_z
FROM pa p JOIN nrows n USING (priority) JOIN ties t USING (priority)
"""


# Time-to-convert: first signup, first purchase at-or-after it,
# weekly start cohorts with exact interpolated percentiles
ORACLES["conversion_time"] = """
WITH sec AS (
  SELECT user_id, event_type,
    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS s
  FROM events
), per AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN s END) AS st
  FROM sec GROUP BY 1
), conv AS (
  SELECT p.user_id, p.st,
    MIN(CASE WHEN e.event_type = 'purchase' AND e.s >= p.st
        THEN e.s END) AS cv
  FROM per p JOIN sec e USING (user_id)
  WHERE p.st IS NOT NULL
  GROUP BY 1, 2
)
SELECT st // 604800 AS start_week, COUNT(*) AS n_started,
  COUNT(cv) AS n_converted,
  round(CAST(COUNT(cv) AS DOUBLE) / COUNT(*), 6) AS conversion_rate,
  round(quantile_cont(CAST(cv - st AS DOUBLE), 0.5), 6) AS p50_seconds,
  round(quantile_cont(CAST(cv - st AS DOUBLE), 0.9), 6) AS p90_seconds
FROM conv GROUP BY 1
"""


# Freshness audit: per-type last arrival + median cadence vs the
# global high-water mark
ORACLES["freshness_audit"] = f"""
WITH sec AS (
  SELECT event_type, event_id,
    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS s
  FROM events
), gaps AS (
  SELECT event_type, s,
    s - lag(s) OVER (PARTITION BY event_type ORDER BY s, event_id)
      AS gap
  FROM sec
), per AS (
  SELECT event_type, MAX(s) AS last_s, COUNT(*) AS n_events,
    round(quantile_cont(gap, 0.5), 6) AS median_gap_s
  FROM gaps GROUP BY event_type
), hwm AS (SELECT MAX(s) AS h FROM sec)
SELECT event_type, n_events, last_s, median_gap_s,
  CAST(h - last_s AS DOUBLE) AS current_gap_s,
  CAST(CAST(h - last_s AS DOUBLE)
       > {C.FRESH_K} * median_gap_s AS INT) AS stale
FROM per, hwm
"""


# Cohort LTV curve: weekly cohorts, age-week revenue, DECIMAL
# cumulative over the rollup divided by cohort size
ORACLES["ltv_curve"] = """
WITH sec AS (
  SELECT user_id, event_type, value,
    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS s
  FROM events
), cohorts AS (
  SELECT user_id, MIN(s) AS s0, MIN(s) // 604800 AS cohort_week
  FROM sec WHERE event_type = 'signup' GROUP BY user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS n_users FROM cohorts GROUP BY 1
), weekly AS (
  SELECT c.cohort_week, (e.s - c.s0) // 604800 AS age_week,
    CAST(SUM(CAST(e.value AS DECIMAL(38,2))) AS DOUBLE) AS revenue
  FROM sec e JOIN cohorts c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.s >= c.s0
  GROUP BY 1, 2
)
SELECT w.cohort_week, w.age_week, CAST(z.n_users AS BIGINT) AS n_users,
  round(w.revenue, 2) AS revenue,
  round(CAST(SUM(CAST(round(w.revenue, 2) AS DECIMAL(38,2)))
             OVER (PARTITION BY w.cohort_week ORDER BY w.age_week
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        / CAST(z.n_users AS DOUBLE), 6) AS cum_ltv_per_user
FROM weekly w JOIN sizes z USING (cohort_week)
"""
