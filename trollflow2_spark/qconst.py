"""Shared constants for queries.py (Spark) and oracles.py (DuckDB SQL).

Both sides import from here so thresholds/patterns can never drift.
"""

# --- relational core -------------------------------------------------------
Q1_SHIPDATE_MAX = "1998-09-02 00:00:00"
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-01 00:00:00"
Q3_LIMIT = 10
Q5_REGION = "ASIA"
Q5_DATE_LO = "1996-01-01 00:00:00"
Q5_DATE_HI = "1998-01-01 00:00:00"
Q6_YEAR_LO = "1997-01-01 00:00:00"
Q6_YEAR_HI = "1998-01-01 00:00:00"
Q6_DISC_LO = 0.05
Q6_DISC_HI = 0.07
Q6_QTY = 24.0

# --- pipeline operators ----------------------------------------------------
EVENT_TYPES_ALLOWED = ("click", "view", "purchase")
AGE_NOW = "2024-01-31 00:00:00"
AGE_MAX_MINUTES = 10080.0  # keep events from the last 7 days
ALIASES = {"click": "selection", "view": "impression", "signup": "registration"}
BLOCK_FACTOR = 16
VALID_MIN_VALUE = 10.0  # value >= this counts as "valid data"
VALID_MIN_FRACTION = 0.82
FNAME_PATTERN = "order_{o_orderpriority}_{o_orderdate:%Y%m%d_%H%M}_k{o_orderkey}.tif"
SZA_MAX_DEG = 85.0  # day-product gate
COVERAGE_MIN_PCT = 30.0
NEAREST_RADIUS_SEC = 600.0
SESSION_GAP_MIN = 30
FUNNEL_STEPS = ("click", "view", "purchase")  # ordered conversion funnel
FUNNEL_TS_MAX = "2024-01-04 00:00:00"  # first-3-days window (stages spread 0-3)
PUBLISH_PATTERN = '{"uri":"%s","uid":"doc%d","size":%d,"topic":"/files/%s"}'

# --- extensions ------------------------------------------------------------
MINHASH_SHINGLE_WORDS = 3
MINHASH_NUM_HASHES = 8
MINHASH_BANDS = 4
LSH_STATS_SALT_THRESHOLD = 2  # low so the sf0.01 contract query has n_salted > 0
LSH_ROT_SEED = 91  # rotation-hash seed for salted-bucket recall recovery
JACCARD_SHINGLE_WORDS = 2
JACCARD_THRESHOLD = 0.2
CONTAINMENT_THRESHOLD = 0.25  # one-sided (quote/subset) duplication gate
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # hamming-band LSH: pairs <= BANDS-1 bits apart guaranteed
SIMHASH_SALT_THRESHOLD = 128  # hot-bucket salting (the production guard —
# the contract query keeps it ON; the oracle replays id-order chunking.
# 128 because an 8-bit segment space concentrates the template-heavy
# corpus hard: benched 1.8s/167k pairs vs 3.7s/318k at 256, 10.9s raw)
SIMHASH_MAX_HAMMING = 2  # verify gate on bucket-colliding pairs (within the
# bands-1 guaranteed-recall zone; the synthetic corpus is template-heavy, so
# looser gates admit a large fraction of all pairs and stop meaning "near-dup")
FINGERPRINT_SHINGLE_WORDS = 4
FINGERPRINT_MOD = 8
EMB_DIM = 64  # synthetic embeddings dimensionality
TOPK_N_QUERIES = 3  # vec_id < 3 are the query vectors
TOPK_K = 10
TRUNC_DIM = 16  # truncation-audit prefix dims (the Matryoshka store question)
ANN_BITS = 4
ANN_K = 5
IVF_N_CLUSTERS = 8  # k-means IVF coarse cells
IVF_N_PROBE = 3
NEARDUP_THRESHOLD = 0.3  # synthetic embeddings are near-random; max cos ~0.5
NEARDUP_BITS = 4

# --- crawl / domain rollup -------------------------------------------------
PSL_2LD = (  # public-suffix subset: two-label suffixes under which the
    "co.uk", "org.uk", "ac.uk", "gov.uk",  # registrable domain is eTLD+1
    "com.au", "co.jp", "com.br", "co.in",  # = THREE labels, not two
)
DOMAIN_SITE_MOD = 20  # messy-URL fixture: sites per host shape
SEMDEDUP_THRESHOLD = 0.3  # cosine edge gate for embedding-cluster dedup
# (synthetic embeddings are near-random; 0.3 admits the planted near-dups)
SEMDEDUP_GUARD_T = 64  # guard-stats salt threshold: small enough that the
# sf0.01 fixture's biggest cells (~72) exercise the salted branch, so the
# oracle validates the closed-form skip accounting, not just zeros
SEMDEDUP_GUARD_MAX = 100_000  # drop-outright bound for the guard stats

# --- semantic-skew stress fixture ------------------------------------------
SEMSKEW_REPLICATE = 4  # embeddings replicated 4x; half the rows overwritten
# to one near-identical direction, so one k-means cell holds >50% of the
# corpus (the embedding-space twin of the skew_seq hot-key fixture)
SEMSKEW_MOD = 97  # per-row jitter modulus for the hot direction
SEMSKEW_THRESHOLD = 0.9  # cosine edge gate for the stress pair queries

# --- feature hashing --------------------------------------------------------
HASH_EMB_DIM = 64  # hashing-trick embedding dimensionality

# --- temperature-balanced mixture ------------------------------------------
TEMP_ALPHA = 0.7  # sampling temperature: q_l proportional to p_l^alpha
TEMP_TARGET_FRAC = 0.5  # sampled corpus size as a fraction of the input
TEMP_SEED = 19

# --- naive-bayes classifier ------------------------------------------------
NB_ALPHA = 0.5  # additive smoothing
NB_SPLIT_MOD = 3  # train on doc_id % MOD != 0, score doc_id % MOD == 0

# --- subword tokenizer -----------------------------------------------------
BPE_SAMPLE_N = 256  # lowest-id docs used to train the merge vocabulary
BPE_MERGES = 120  # merge operations learned (vocab = chars + merges)
BPE_WORD_MAX = 20  # words truncated before encoding (bounds recursion)
BPE_DOC_MOD = 5  # contract query encodes doc_id % MOD == 0 (oracle is a
# per-character recursive CTE; the subset keeps the replay fast)
BPE_UNK = "<unk>"  # cannot collide: normalized text is [a-z0-9 ] only
BPE_DIST_MERGES = 12  # merges learned by the DISTRIBUTED trainer contract
# (bounded so the oracle's unrolled per-iteration SQL replay stays cheap;
# the trainer itself takes any n_merges)

# unigram-LM (SentencePiece-style) tokenizer
UNI_VOCAB = 300  # pruned model size (single chars never pruned)
UNI_EM_ITERS = 3  # EM rounds
UNI_SUB_MAX = 5  # seed-candidate substring max length
UNI_WORD_MAX = 8  # word truncation -> <=2^7 segmentations per word
UNI_DOC_MOD = 5  # contract query encodes doc_id % MOD == 0

# --- skew stress fixture ---------------------------------------------------
SKEW_REPLICATE = 96  # events replicated 96x -> 9.6M rows at sf0.1; the hot
# key owns ~4.8M payload rows — enough that the single-task collect+sort+md5
# tail dominates the shared scan and the salted win survives host noise
SKEW_BUCKET_WIDTH = 100_000  # contiguous seq_id range per salted stage-1 task

# --- spatial / raster ------------------------------------------------------
R2D_RADIUS = 3.0  # 2-D nearest-neighbor radius (grid units)
R2D_RADIUS_LEFT = 1.0  # small radius so the left-mode query has real misses
GRID_SRC_W = 64  # mapped-resample source grid (unit pixels, origin 0)
GRID_SRC_H = 48
GRID_TGT_W = 32  # target grid: 2x pixels, origin 0.3 -> nearest src px = 2t+1
GRID_TGT_H = 24
R2D_XMOD = 97  # deterministic synthetic point coords from event ids
R2D_YMOD = 89
SUNLIGHT_MIN_PCT = 20.0
SUNLIGHT_MAX_PCT = 80.0
RT_YMOD = 12  # write->read NetCDF round-trip grid shape
RT_XMOD = 16

# --- sampling / splitting / packing (training-data corpus building) --------
SPLIT_SEED = 7
SPLIT_FRACS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
SAMPLE_SEED = 11
SAMPLE_RATES = (("src0", 0.2), ("src1", 0.5), ("src2", 0.0))  # others: default
SAMPLE_DEFAULT_RATE = 1.0
PACK_SEED = 13
PACK_BUDGET = 512  # tokens per packed sequence bin
PACK_SHARDS = 8
SHUFFLE_SEED = 17
VOCAB_TOPK = 50
TFIDF_TOP_N = 3
UNIGRAM_VOCAB_K = 400  # model vocabulary for the unigram LM quality score
UNIGRAM_ALPHA = 0.5  # additive smoothing mass
REPEAT_NGRAM_N = 4  # word n-gram width for exact-substring span detection
REPEAT_MIN_DOCS = 2  # shingle must appear in >= this many distinct docs
MIX_WEIGHTS = (("src0", 4.0), ("src1", 2.0), ("src2", 0.0))  # others: default
MIX_DEFAULT_WEIGHT = 1.0
CONTAM_MOD = 7  # held-out split: doc_id % CONTAM_MOD == CONTAM_RESIDUE
CONTAM_RESIDUE = 3
CONTAM_SHINGLE_WORDS = 8
CONTAM_PLANT_MOD = 5  # held docs with (doc_id/CONTAM_MOD) % PLANT_MOD == 0 are
CONTAM_PLANT_ID_SHIFT = 10_000_000  # re-injected into the corpus (planted leak)
DECONTAM_MIN_HITS = 2  # recipe decontamination: corpus docs sharing >= this
# many distinct held-set shingles drop (the GPT-3 n-gram filter shape)
SEMCONTAM_THRESHOLD = 0.9  # cosine gate for EMBEDDING-space contamination:
# high enough that organic synthetic-embedding pairs stay below it, so the
# contaminated set is dominated by the planted verbatim leaks (sim 1.0)
PYRAMID_FACTORS = (16, 64, 256)  # overview levels (block sizes)
UPSAMPLE_FACTOR = 8  # 'native' mode integer upsampling

# --- closed-form ephemeris (circular sun-synchronous orbit) ----------------
# All scalars precomputed HERE so the Spark and DuckDB expressions use the
# exact same double literals; only per-row trig runs engine-side.
import math as _math

ORBIT_ALTITUDE_KM = 833.0  # NOAA/Metop-class LEO
ORBIT_INCL_DEG = 98.7
ORBIT_SWATH_KM = 2900.0  # AVHRR-class swath width
EARTH_RADIUS_KM = 6371.0
_MU = 3.986004418e14  # m^3/s^2
ORBIT_PERIOD_S = 2.0 * _math.pi * _math.sqrt(
    ((EARTH_RADIUS_KM + ORBIT_ALTITUDE_KM) * 1000.0) ** 3 / _MU
)
ORBIT_MEAN_MOTION = 2.0 * _math.pi / ORBIT_PERIOD_S  # rad/s
EARTH_ROT_DEG_S = 360.0 / 86164.0  # sidereal day
COV_SIN_INCL = _math.sin(_math.radians(ORBIT_INCL_DEG))
COV_COS_INCL = _math.cos(_math.radians(ORBIT_INCL_DEG))
COV_HALF_SWATH_RAD = ORBIT_SWATH_KM / 2.0 / EARTH_RADIUS_KM
COV_NODE_LON = 10.0  # ascending-node longitude at scene start
COV_TRACK_STEP_S = 60.0  # one track sample per minute of the pass
COV_TRACK_N = 16  # 15-minute pass
COV_U_STEP = ORBIT_MEAN_MOTION * COV_TRACK_STEP_S  # rad per sample
COV_DRIFT_STEP = EARTH_ROT_DEG_S * COV_TRACK_STEP_S  # deg per sample
COV_GRID_N = 12  # per-area sampling grid (12x12)

# DSIR importance resampling (target-domain data selection)
DSIR_VOCAB_K = 400  # per-side model vocabulary (matches unigram scale)
DSIR_ALPHA = 0.5  # additive smoothing mass
DSIR_TAU = 1.0  # ratio -> keep-probability temperature
DSIR_SEED = 17  # portable-hash seed for the resample decision
DSIR_TARGET_LANG = "en"  # fixture target domain: English documents

# embedding PCA (deterministic power iteration, broadcast projection)
PCA_COMPONENTS = 4  # projected dimensionality for the contract query

# classifier-bootstrapped quality filter (heuristic labels -> NB model)
QFILTER_SPLIT_MOD = 4  # train on % != 0, score/filter % == 0
QFILTER_SCORE_THRESHOLD = 0.5  # heuristic quality_score -> hi/lo label

# product quantization (IVF-PQ serving path)
PQ_M = 8  # sub-vectors per embedding
PQ_K = 16  # codebook entries per subspace
PQ_TOPK = 10  # neighbors per query in the contract query
PQ_SHORTLIST = 30  # ADC shortlist depth feeding the exact-vector rerank
PQ_N_QUERIES = 4  # first N vec_ids serve as the query set

# TPC-H shape extensions (semi/anti/having operators)
Q18_SPEND_THRESHOLD = 3_000_000.0  # total-spend HAVING cut

# full TPC-H sweep (q2..q22 shapes, adapted to the driver schema:
# no partsupp/shipmode/commitdate columns — lineitem (partkey,
# suppkey) pairs stand in for partsupp, ship latency for the
# commit/receipt gap; every adaptation keeps the ORIGINAL query's
# operator shape: correlated min, decorrelated EXISTS pairs, scalar
# subqueries, disjunctive pushdown)
Q2_SIZE = 15
Q2_TYPE = "SMALL"
Q2_REGION = "ASIA"
Q2_LIMIT = 100
Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_DATE_LO = "1996-01-01 00:00:00"
Q7_DATE_HI = "1998-01-01 00:00:00"
Q8_REGION = "ASIA"
Q8_TYPE = "PROMO"
Q8_NATION = "NATION_1"
Q8_DATE_LO = "1996-01-01 00:00:00"
Q8_DATE_HI = "1998-01-01 00:00:00"
Q9_NAME_PATTERN = "red"  # p_name substring
Q9_COST_FRACTION = 0.6  # supply-cost proxy: fraction of retail price
Q10_DATE_LO = "1996-10-01 00:00:00"
Q10_DATE_HI = "1997-01-01 00:00:00"
Q10_LIMIT = 20
Q11_NATION = "NATION_3"
Q11_FRACTION = 0.002  # per-part value must exceed this corpus share
Q12_DATE_LO = "1997-01-01 00:00:00"
Q12_DATE_HI = "1998-01-01 00:00:00"
Q12_FAST_DAYS = 30  # ship latency bucket edges (days)
Q12_LATE_DAYS = 90
Q13_PRIORITY_EXCLUDE = "5-LOW"  # the comment-pattern stand-in
Q14_DATE_LO = "1997-03-01 00:00:00"
Q14_DATE_HI = "1997-04-01 00:00:00"
Q15_DATE_LO = "1997-01-01 00:00:00"
Q15_DATE_HI = "1997-04-01 00:00:00"
Q17_BRAND = "Brand#3"
Q17_SIZE_MAX = 10  # container stand-in: compact parts
Q17_QTY_FRACTION = 0.5  # qty below this fraction of the part's mean
Q19_BRANCHES = (  # (brand, size_max, qty_lo, qty_hi)
    ("Brand#12", 5, 1.0, 11.0),
    ("Brand#23", 10, 10.0, 20.0),
    ("Brand#15", 15, 20.0, 30.0),
)
Q20_NAME_PREFIX = "small"
Q20_NATION = "NATION_5"
Q20_DATE_LO = "1997-01-01 00:00:00"
Q20_DATE_HI = "1998-01-01 00:00:00"
Q20_QTY_THRESHOLD = 30.0  # shipped-quantity HAVING cut per (supp, part)
Q21_NATION = "NATION_7"
Q21_LATE_DAYS = 90  # ship latency that counts as keeping-waiting
Q21_LIMIT = 100
Q22_ORDER_CUTOFF = "1999-01-01 00:00:00"  # no orders on/after this date

# OLAP surface: rollup/cube/pivot/percentiles/set-ops/interval join
EVENT_TYPES_ALL = ("click", "error", "purchase", "signup", "view")
PERCENTILES = (0.5, 0.9, 0.99)
SETOPS_YEAR_A_LO = "1996-01-01 00:00:00"
SETOPS_YEAR_A_HI = "1997-01-01 00:00:00"
SETOPS_YEAR_B_LO = "1997-01-01 00:00:00"
SETOPS_YEAR_B_HI = "1998-01-01 00:00:00"
MAINT_START_HOUR = 2  # daily maintenance window [02:00, 04:00)
MAINT_END_HOUR = 4
INTERVAL_BUCKET_S = 3600  # interval-join bucket width (seconds)
MAD_K = 3.0  # MAD outlier multiplier
CHI2_LEN_THRESHOLD = 306  # hi/lo label cut (corpus median n_chars)
CHI2_MIN_DF = 10  # terms must appear in >= this many docs
CHI2_TOP_K = 50  # selected features
PHASH_MAX_HAMMING = 6  # < bands(8): pigeonhole makes banding exact
HIST_BUCKET_WIDTH = 50_000.0  # order-value histogram bucket width
ZORDER_EPOCH = "2024-01-01 00:00:00"  # minute-of-month origin
ZORDER_BITS = 16  # bits per interleaved dimension
ZORDER_PREFIX_SHIFT = 20  # rollup granularity (top 12 bits of the key)

# bigram LM quality score (Jelinek-Mercer interpolation)
BIGRAM_TOP_K = 2000  # bigram table size (broadcast model)
BIGRAM_LAMBDA = 0.7  # bigram weight; (1-lambda) backs off to unigram

# fuzzy levenshtein<=1 fixture (duplicate-heavy, mixed-length classes)
FUZZY_MOD = 300  # name classes: 'c' || (custkey % 300)
FUZZY_SUFFIX_MOD = 7  # every 7th custkey appends 'x' (length+1 class)

# --- stateful-streaming batch replay (contract queries) ---------------------
REPLAY_BATCHES = 3  # micro-batches (one file each, oldest-mtime first)
REPLAY_KEY_MOD = 41  # running-counts keys: user_id % 41 (some keys miss
# batches at small sf, so n_batches genuinely varies per key)
REPLAY_SUB_MOD = 5  # running-counts fixture: event_id % 5 == 0
REPLAY_ROW_BUDGET = 600  # fixed rows per replay fixture: the contract
# artifacts are control-plane, so their driver-side collect + JSON
# write must cost the same at sf10 as at sf0.01 (O(1) in sf)
REPLAY_SPREAD = 2654435761  # Knuth multiplicative hash: the budget picks
# rows in spread-hash order so the subset covers the full event-time
# range (a lowest-N-ids subset would collapse the watermark dynamics
# the late-data/join replays exist to prove)
RATE_SUB_MOD = 50  # rate-limit fixture: event_id % 50 == 0
RATE_HOST_MOD = 23  # hosts: 'h' || ((event_id/50) % 23)
RATE_CAPACITY = 2  # token-bucket burst capacity
RATE_REFILL = 1  # tokens refilled per invoked micro-batch

# --- BM25 retrieval ---------------------------------------------------------
BM25_K1 = 1.2  # term-frequency saturation
BM25_B = 0.75  # length normalization
BM25_TERMS = ("customer", "vector", "stream")  # contract query terms

# --- weighted sampling (Efraimidis-Spirakis) --------------------------------
EPOCH_FACTORS = (("src0", 2.5), ("src1", 1.25), ("src2", 0.4),
                 ("src3", 3.0))  # per-source repeat factors (others 1.0):
# full epochs + a deterministic partial epoch, the LLM-recipe convention
EPOCH_SEED = 29
WSAMPLE_SEED = 23
WSAMPLE_K = 5  # survivors per stratum
WSAMPLE_ROUND = 9  # key rounding before ranking (cross-engine pow ulp)

# --- C4-style line cleaning -------------------------------------------------
C4_LINE_TOKENS = 8  # fixture: pseudo-lines of 8 tokens from doc text
C4_MIN_WORDS = 3  # per-line minimum word count
C4_MIN_LINES = 2  # doc-level minimum surviving lines

# --- Gopher quality rules (contract thresholds, corpus-tuned) ---------------
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0  # mean word length bounds
GOPHER_MAX_MWL = 10.0
GOPHER_MAX_SYMBOL = 0.1  # '#'/'...' per word
GOPHER_MAX_BULLET = 0.9  # lines starting with a bullet
GOPHER_MAX_ELLIPSIS = 0.3  # lines ending with an ellipsis
GOPHER_MIN_ALPHA = 0.8  # words containing an alphabetic char
GOPHER_MIN_STOP = 1  # distinct required-stop-word hits (synthetic corpus
# carries only 'the' from the Gopher list; paper default is 2)

# --- hybrid retrieval (reciprocal-rank fusion) ------------------------------
RRF_K0 = 60  # RRF damping constant
RRF_TOPK = 20  # per-ranker candidate depth
RRF_QUERY_VEC = 0  # vec_id used as the dense query

# --- multi-query retrieval (one corpus pass scores ALL queries) -------------
BM25_MULTI = (  # (query_id, terms): query 0 == the single-query contract
    (0, ("customer", "vector", "stream")),
    (1, ("query", "batch")),
    (2, ("stream", "merge", "vector")),
)
HYBRID_VECS = ((0, 0), (1, 7), (2, 13))  # (query_id, dense query vec_id)
TOPK_SALT_BUCKETS = 8  # two-stage per-query top-k sub-buckets

# --- streaming near-dup recipe ----------------------------------------------
RECIPE_ND_THRESHOLD = 0.6  # jaccard gate for the incremental near-dup
# stage: planted jittered groups sit ~0.9, organic corpus pairs well
# below — keeps the batch==stream equality free of cluster bridging

# --- long-string fuzzy matching (ed-join tier) ------------------------------
FUZZY_LONG_DOCS = 320  # fixed fixture size (80 groups x 4 variants): the
# oracle is a quadratic ground-truth levenshtein join, so the contract
# fixture is O(1) in sf like the replay fixtures
FUZZY_LONG_Q = 3  # q-gram width
FUZZY_LONG_MAXLEN = 256  # declared domain cap of the long tier

# --- domain-level quality gating ----------------------------------------------
DOMAIN_Q_THRESHOLD = 0.784  # ~median per-domain mean quality: gates about
# half the planted domains at every sf (content-farm shape: judge the site)

# --- token-budget sampling ----------------------------------------------------
TOKEN_BUDGET_DEFAULT = 700  # per-source token budget (tokens, not docs)
TOKEN_BUDGET_OVERRIDES = (("src0", 300), ("src1", 1200))

# --- vocabulary drift audit ---------------------------------------------------
VOCAB_DRIFT_K = 50  # combined top-K tokens compared between snapshots

# --- content-defined chunking -------------------------------------------------
CDC_MOD = 8  # avg chunk length in tokens (hash % mod == 0 closes a chunk)
CDC_SEED = 37
CDC_MIN_DOCS = 2  # chunk-dedup audit: repeated-across-docs floor
# monster-doc fixture (sf-independent, budget-capped): proves the
# chunker is LINEAR per document — under the pre-r10 quadratic
# prefix-recount these sizes were intractable (20k tokens -> 4e8
# md5-bearing slice elements per doc)
CDC_MONSTER_DOCS = 8
CDC_MONSTER_TOKENS = 20_000

# --- distributed logistic regression (hashed-feature quality classifier) ----
LOGREG_DIM = 16  # hashed token-bucket feature dims (+ bias)
LOGREG_ITERS = 16  # full-batch GD steps (each = one agg job)
LOGREG_LR = 7e-05  # ~1/lambda_max for per-mille features: 1e-4+
# oscillates (simulated), smaller rates converge past the iteration
# budget; 7e-5 x 16 iters == the 5e-5 x 24 accuracy at 2/3 the jobs
LOGREG_SEED = 29  # feature-hash seed
LOGREG_LABEL_THRESHOLD = 0.78  # ~median quality_score: splits the corpus
# near 50/50 at every sf (QFILTER's 0.5 labels everything positive here)

# --- distributed k-means training (full-corpus Lloyd, one agg/iter) ----------
KMEANS_TRAIN_K = 4  # cells (matches the embeddings fixture's label count)
KMEANS_TRAIN_ITERS = 3  # Lloyd iterations — unrolled verbatim in the oracle

# --- count-min sketch ----------------------------------------------------------
CMS_DEPTH = 3  # hash rows (error probability (1/2)^depth-ish at this width)
CMS_WIDTH = 1024  # cells per row: eps ~ e/width of total token mass
CMS_TOPK = 20  # audited heavy hitters
CMS_SEED = 101  # per-row seeds are CMS_SEED + row

# --- SFT chat-template assembly -----------------------------------------------
SFT_MAX_LEN = 16  # token budget per example (markers included) — small
# enough that the fixture exercises keep / prompt-truncate / drop paths
DPO_MIN_RATIO_PERMILLE = 300  # length-skew gate: shorter/longer >= 30%
# (the DPO verbosity-bias guard — pairs below it teach length, not
# preference)

# --- blocklist content filter ------------------------------------------------
BLOCKLIST_TERMS = ("slow", "dup", "big")  # stand-in wordlist over the
# synthetic vocabulary; production swaps in the real NSFW/spam list
BLOCKLIST_MIN_DISTINCT = 3  # distinct-term rule: all three present
BLOCKLIST_MAX_DENSITY_BP = 900  # hits per 10k tokens (integer basis points)

# --- observability audits ---------------------------------------------------
SKEW_AUDIT_TOPN = 10  # heaviest keys reported
SKEW_AUDIT_SHARE = 0.001  # flag keys above this share of rows

# --- analytics-mining tier (round 12) ----------------------------------------
ASSOC_MIN_SUPPORT = 100  # pair/item support floor (count): prunes the
# 400-category long tail of the fixture before the pair self-join
LDIV_K = 5  # k-anonymity size floor inside the l-diversity audit
LDIV_L = 3  # distinct-sensitive-values floor
EWMA_ALPHA = 0.3  # EWMA smoothing factor
EWMA_LAGS = 8  # bounded-lag window: truncation error (1-a)^8 ~ 5.8e-2
# of the oldest tail... the DEFINITION is the bounded window (see
# extensions/windows.py:ewma_bounded), so both engines replay it exactly
KMV_K = 64  # bottom-k sketch size (distinct-count / set-op estimates)
KMV_SEED = 77  # hash seed for the KMV value hash
BT_ITERS = 3  # Bradley-Terry MM iterations (each unrolled in the oracle)
BITEXT_K = 4  # neighbors per side for the margin normalizer
BITEXT_MARGIN = 1.05  # ratio-margin acceptance threshold
KCORE_K = 3  # coreness floor
KCORE_ROUNDS = 4  # synchronous peel rounds (fixture converges; tested)
TCLOSE_T_PERMILLE = 200  # EMD threshold for the t-closeness flag
BITEXT_ID_CAP = 600  # contract-fixture budget (~300 vectors per side,
# O(1) in sf like the replay fixtures) — the exact bipartite audit is
# O(|X|*|Y|); production swaps in the IVF-bucketed search
WINNOW_K = 4  # winnowing shingle width (tokens)
WINNOW_W = 4  # winnowing window: guarantee = any k+w-1-token match shares a print
WINNOW_SEED = 31
WINNOW_MIN_SHARED = 2  # pair gate: distinct shared prints
WINNOW_MAX_BUCKET = 64  # boilerplate-print drop (the LSH hot-bucket guard)
COLL_MIN_COUNT = 5  # PMI collocation count floor
QBIN_N = 10  # equal-frequency bins (deciles)
WOE_SMOOTH = 0.5  # Laplace smoothing for the WOE rate pair
RAKE_MIN_COUNT = 3  # phrase-occurrence floor for RAKE keyphrases
FS_SMOOTH = 0.5  # Laplace smoothing for Fellegi-Sunter m/u estimates
LINKPRED_MIN_CN = 3  # common-neighbor floor for link-prediction pairs
LINKPRED_MAX_DEG = 256  # right-node hub guard before the pair self-join
# point-in-polygon fixture: integer-vertex rings in (lon, lat) space;
# a polygon may carry extra rings (holes) — ray-cast parity handles
# them with no special casing. PIP_SCALE puts quarter-offset points
# on an integer lattice so the crossing test is ALL-integer (exact).
PIP_POLYGONS = {
    "box": [[(-50, -10), (10, -10), (10, 40), (-50, 40)]],
    "lshape": [
        [(20, -55), (55, -55), (55, -30), (40, -30), (40, 0), (20, 0)]
    ],
    "holed": [
        [(60, -40), (140, -40), (140, 20), (60, 20)],
        [(80, -20), (120, -20), (120, 0), (80, 0)],
    ],
    "tri": [[(-170, -55), (-120, 50), (-70, -55)]],
}
PIP_SCALE = 4
STREAK_MIN_DAYS = 2  # minimum island length reported by activity_streaks
TREE_MAX_DEPTH = 64  # pointer-doubling budget (log2 -> 6 join rounds)
ATTR_LOOKBACK_S = 604800  # 7-day attribution lookback (seconds)
POSTING_MIN_DF = 25  # df floor for the inverted-index artifact
DAG_MAX_DEPTH_LOGPATH = 12  # relaxation rounds for the 512-node DAG
SEQPAT_MIN_SUPPORT = 2  # key floor for length-2 sequential patterns
ENC_ADVISOR_BUCKET = 4096  # contiguous orderkey range per run-count shard
SEASANOM_K = 3.0  # k*MAD cut on seasonal residuals
FRESH_K = 20.0  # stale when the current gap exceeds k x median cadence
