"""DuckDB oracle SQL — one ANSI-SQL string per queries() entry, generated
from the same plans/params.py constants the Spark plans use.

Conventions shared with the Spark side (so the driver's order-insensitive
value-hash comparison passes):
- window boundaries are BIGINT epoch seconds: sliding windows enumerate
  the size/slide aligned starts via a small cross-joined k-range
  (w = slide*floor(epoch(ts)/slide) - k*slide, k in [0, size/slide));
- money aggregates run in DECIMAL (exact, engine-portable) and are cast to
  DOUBLE only at output;
- every hash is md5-hex-digits→integer (portable across engines);
- ties are always broken deterministically (documented per query);
- every time-windowed/sessionized oracle filters ``ts IS NOT NULL``
  (round-9 events NULL-corpus audit): Spark's window()/session_window
  generate NO window for a NULL timestamp — an event without event time
  cannot be placed in any window, matching the reference, whose tweet
  parse drops null timestamps before assignment — while SQL's epoch
  arithmetic would GROUP BY the NULL into one extra row. Entries whose
  later filters happened to swallow the NULL group (qa's sampling
  modulo, the stream entries' watermark comparison) carry the filter
  anyway so parity is by construction, not accident. Non-windowed
  NULL keys (user_id, event_type) are kept identically by BOTH engines'
  GROUP BY/DISTINCT, so they need no special casing — the audit runs
  them green.
"""

from __future__ import annotations

from . import params as P
from ..streaming.runner import WATERMARK_S


# Sliding-window enumeration: requires size % slide == 0 (all params
# satisfy it) so every k in [0, size/slide) yields a valid covering window
# start w = slide*floor(epoch/slide) - k*slide with no extra filter.

QB_TRENDING_SINGLE = f"""
WITH slid AS (
  SELECT
    CAST(floor(epoch(ts)/{P.TREND_SLIDE_S}) AS BIGINT)*{P.TREND_SLIDE_S} - k.k*{P.TREND_SLIDE_S} AS w_start,
    event_type
  FROM events
  CROSS JOIN (FROM range(0, {P.TREND_SIZE_S // P.TREND_SLIDE_S}) t(k)) k
  WHERE ts IS NOT NULL
),
counts AS (
  SELECT w_start, w_start + {P.TREND_SIZE_S} AS w_end, event_type, count(*) AS cnt
  FROM slid GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY w_start ORDER BY cnt DESC, event_type DESC) AS rn
  FROM counts
)
SELECT w_start, w_end, event_type AS top_event_type, cnt AS top_cnt
FROM ranked WHERE rn = 1
"""

QA_TRENDING_TWO_STAGE = f"""
WITH slid AS (
  SELECT
    CAST(floor(epoch(ts)/{P.TREND_SLIDE_S}) AS BIGINT)*{P.TREND_SLIDE_S} - k.k*{P.TREND_SLIDE_S} AS w_start,
    event_type
  FROM events
  CROSS JOIN (FROM range(0, {P.TREND_SIZE_S // P.TREND_SLIDE_S}) t(k)) k
  WHERE ts IS NOT NULL
),
stage1 AS (
  SELECT w_start + {P.TREND_SIZE_S} AS w_end, event_type, count(*) AS cnt
  FROM slid GROUP BY 1, 2
),
sampled AS (
  SELECT w_end - (w_end % {P.SAMPLE_SLIDE_S}) AS sample_w_start, event_type, cnt
  FROM stage1
  WHERE (w_end % {P.SAMPLE_SLIDE_S}) < {P.SAMPLE_SIZE_S}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY sample_w_start ORDER BY cnt DESC, event_type DESC) AS rn
  FROM sampled
)
SELECT sample_w_start, event_type AS top_event_type, cnt AS top_cnt
FROM ranked WHERE rn = 1
"""

QC_RUNNING_TOTAL = f"""
WITH per_bucket AS (
  SELECT CAST(floor(epoch(ts)/{P.RUNNING_BUCKET_S}) AS BIGINT)*{P.RUNNING_BUCKET_S} AS bucket_start,
         count(*) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1
)
SELECT bucket_start, cnt,
       CAST(sum(cnt) OVER (ORDER BY bucket_start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS running_total
FROM per_bucket
"""

QD_COUNTS_PER_WINDOW = f"""
SELECT CAST(floor(epoch(ts)/{P.TUMBLE_SIZE_S}) AS BIGINT)*{P.TUMBLE_SIZE_S} AS w_start,
       CAST(floor(epoch(ts)/{P.TUMBLE_SIZE_S}) AS BIGINT)*{P.TUMBLE_SIZE_S} + {P.TUMBLE_SIZE_S} AS w_end,
       count(*) AS cnt
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""

Q_JSON_EXTRACT = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       avg(k) AS avg_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
WHERE k IS NOT NULL
GROUP BY event_type
"""

Q_VALUE_BY_WINDOW = f"""
WITH slid AS (
  SELECT
    CAST(floor(epoch(ts)/{P.TREND_SLIDE_S}) AS BIGINT)*{P.TREND_SLIDE_S} - k.k*{P.TREND_SLIDE_S} AS w_start,
    event_type, value
  FROM events
  CROSS JOIN (FROM range(0, {P.TREND_SIZE_S // P.TREND_SLIDE_S}) t(k)) k
  WHERE ts IS NOT NULL
)
SELECT w_start, w_start + {P.TREND_SIZE_S} AS w_end, event_type,
       -- non-finite contract (functions/numeric.py): NaN/inf readings
       -- are no-measurements; without the guard DuckDB errors on the
       -- decimal cast where Spark's cast nullified
       CAST(sum(CAST(CASE WHEN isfinite(value) THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM slid GROUP BY 1, 2, 3
"""

Q_TOKENIZE_TOPK = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
)
SELECT token, cnt FROM counts
ORDER BY cnt DESC, token ASC
LIMIT {P.TOKEN_TOP_K}
"""


STREAM_QB_COUNTS = f"""
WITH slid AS (
  SELECT
    CAST(floor(epoch(ts)/{P.TREND_SLIDE_S}) AS BIGINT)*{P.TREND_SLIDE_S} - k.k*{P.TREND_SLIDE_S} AS w_start,
    event_type
  FROM events
  CROSS JOIN (FROM range(0, {P.TREND_SIZE_S // P.TREND_SLIDE_S}) t(k)) k
  WHERE ts IS NOT NULL
)
SELECT w_start, w_start + {P.TREND_SIZE_S} AS w_end, event_type, count(*) AS cnt
FROM slid GROUP BY 1, 2, 3
"""


STREAM_DEDUP_KEYS = """
SELECT DISTINCT user_id, event_type FROM events
"""

# Append-mode emission envelope: a (sampling) window fires only once the
# watermark passes its end; a bounded replay's final watermark is
# max(event time seen, ms precision) − the WATERMARK_S delay, so the
# oracle keeps exactly the windows the drained stream finalizes. The
# delay is imported from the streaming runner so retuning it can never
# drift the oracle (the same single-source rule params.py states).
# Window ends are whole seconds and the generated event times are not,
# so <= vs < cannot be hit on a boundary tie.
_STREAM_WM_MS = f"(SELECT epoch_ms(max(ts)) - {WATERMARK_S * 1000} FROM events)"

STREAM_QA_TRENDING = f"""
WITH slid AS (
  SELECT
    CAST(floor(epoch(ts)/{P.TREND_SLIDE_S}) AS BIGINT)*{P.TREND_SLIDE_S} - k.k*{P.TREND_SLIDE_S} AS w_start,
    event_type
  FROM events
  CROSS JOIN (FROM range(0, {P.TREND_SIZE_S // P.TREND_SLIDE_S}) t(k)) k
  WHERE ts IS NOT NULL
),
stage1 AS (
  SELECT w_start + {P.TREND_SIZE_S} AS w_end, event_type, count(*) AS cnt
  FROM slid GROUP BY 1, 2
),
sampled AS (
  SELECT w_end - (w_end % {P.SAMPLE_SLIDE_S}) AS sample_w_start, event_type, cnt
  FROM stage1
  WHERE (w_end % {P.SAMPLE_SLIDE_S}) < {P.SAMPLE_SIZE_S}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY sample_w_start ORDER BY cnt DESC, event_type DESC) AS rn
  FROM sampled
)
SELECT sample_w_start, event_type AS top_event_type, cnt AS top_cnt
FROM ranked
WHERE rn = 1 AND sample_w_start * 1000 <= {_STREAM_WM_MS}
"""


def _stream_session_counts_sql() -> str:
    from .reference_queries import STREAM_SESSION_GAP_S as G

    # Same gaps-and-islands rewrite as the batch events_sessionize
    # oracle, with the append-mode emission envelope: a session fires
    # once the watermark passes its end (exact last event time + gap —
    # NOT the floor()ed output column), so only sessions whose end the
    # final watermark covers appear in the drained sink. The split
    # condition is strictly-greater: Spark merges sessions whose
    # intervals TOUCH (delta == gap still merges — pinned by
    # test_sessionize_matches_gap_merge_model), so only delta > gap
    # starts a new session. Event times carry sub-second precision and
    # the gap/delay are whole seconds, so the boundary cannot be hit on
    # a tie in this data — the condition matters for the semantics, not
    # this dataset.
    return f"""
WITH o AS (
  SELECT user_id, epoch(ts) AS e,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
              OR epoch(ts) - lag(epoch(ts)) OVER w > {G}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, e,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
),
sess AS (
  SELECT user_id, min(e) AS s_min, max(e) AS s_max, count(*) AS n_events
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       CAST(floor(s_min) AS BIGINT) AS session_start,
       CAST(floor(s_max) AS BIGINT) AS session_last,
       n_events
FROM sess
WHERE (s_max + {G}) * 1000 <= {_STREAM_WM_MS}
"""


def _stream_interval_pairs_sql() -> str:
    from .reference_queries import STREAM_JOIN_DELAY_S

    return f"""
SELECT e.event_id AS err_id, p.event_id AS p_id
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL {STREAM_JOIN_DELAY_S} SECOND
"""


def reference_oracles() -> dict[str, str]:
    return {
        "qa_trending_two_stage": QA_TRENDING_TWO_STAGE,
        "qb_trending_single": QB_TRENDING_SINGLE,
        "qc_running_total": QC_RUNNING_TOTAL,
        "qd_counts_per_window": QD_COUNTS_PER_WINDOW,
        "q_json_extract": Q_JSON_EXTRACT,
        "q_value_by_window": Q_VALUE_BY_WINDOW,
        "q_tokenize_topk": Q_TOKENIZE_TOPK,
        "stream_qb_counts": STREAM_QB_COUNTS,
        "stream_dedup_keys": STREAM_DEDUP_KEYS,
        "stream_qa_trending": STREAM_QA_TRENDING,
        "stream_interval_pairs": _stream_interval_pairs_sql(),
        "stream_session_counts": _stream_session_counts_sql(),
    }
