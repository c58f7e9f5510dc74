"""Shared query parameters.

The reference's windows are seconds-scale because its input is a live
tweet firehose (30 s/5 s trending — Main.java:87,105; 1 s/5 s sampling —
Main.java:98; 1 s tumbling — Main.java:160). The driver's `events` table
spans 30 days at SF-scaled density (TESTDATA.md), so the oracle-checked
queries use the same *shapes* scaled up (FIXTURES.md §2 sanctions this
mapping); the reference-exact second-scale windows are exercised in unit
tests on dense inline fixtures.

Every constant here is consumed by BOTH the Spark plan builders and the
DuckDB oracle SQL generators, so the two can never drift.
"""

# Q-A/Q-B trending window: reference 30 s size / 5 s slide → scaled
TREND_SIZE_S = 3600  # 1 hour
TREND_SLIDE_S = 900  # 15 minutes

# Q-A stage-2 sampling window: reference 1 s size / 5 s slide (size<slide,
# i.e. keep only window-ends in the first SIZE of each SLIDE period)
SAMPLE_SIZE_S = 900  # 15 minutes
SAMPLE_SLIDE_S = 3600  # 1 hour

# Q-C running-total bucket (reference: 5 s processing-time trigger)
RUNNING_BUCKET_S = 3600  # 1 hour

# Q-D per-second counts: reference 1 s tumbling → scaled
TUMBLE_SIZE_S = 60  # 1 minute

# token/top-k
TOKEN_TOP_K = 20

# dedup
SHINGLE_K = 3  # words per shingle
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
MINHASH_EST_THRESHOLD = 0.5
JACCARD_THRESHOLD = 0.5
# A deliberately BINDING bucket cap for the dedup_minhash_lsh_capped gate
# entry: the gate corpora have band buckets of occupancy 3 (4 buckets at
# sf0.01, measured r8), so cap=2 genuinely drops buckets there and the
# driver hash certifies the cap's *filtering semantics*, not just the
# inert deploy default (DEFAULT_LSH_MAX_BUCKET=1024, ~250x above any
# genuine near-dup bucket). 25 -> 22 pairs at sf0.01; 28 -> 22 at sf0.001.
LSH_CAP_BINDING = 2

# similarity search
ANN_NUM_QUERIES = 5  # vec_id < 5 are the query vectors
ANN_TOP_K = 5
LSH_NUM_PLANES = 8
IVF_SEED_MOD = 53  # centroids: vec_id % mod == rem (~corpus/53 cells)
IVF_SEED_REM = 7
IVF_NPROBE = 3

# simhash (operators/dedup.py defines the fingerprint width and banding)
SIMHASH_MAX_HAMMING = 3
