"""Reference computations in DuckDB, compared with what the program
delivered. Every function returns ``{check_name: wrong_rows}``; the sum
is the run's ``wrong_results``.

Tweet checks read the generator's ledger (one row per input line: file,
kind, event ms, text) and the sink output as InfluxDB line protocol, the
bytes a dashboard would receive.
"""

from __future__ import annotations

import duckdb

from gen import FAR_LATE, MALFORMED

WATERMARK_MS = 300_000
# Q-A's shape in twitter_stream_app.build_queries: 30 s windows sliding
# by 5 s, sampled 1 s of every 5 s
SIZE_S, SLIDE_S, SAMPLE_SIZE_S, SAMPLE_SLIDE_S = 30, 5, 1, 5


def parse_line(line: str) -> tuple[str, dict, int, int]:
    """``measurement[,k=v...] count=Ni ts_ns`` → (measurement, tags,
    count, ts_s)."""
    head, fields, ts = line.rsplit(" ", 2)
    parts = head.split(",")
    tags = dict(p.split("=", 1) for p in parts[1:])
    count = int(fields.split("=", 1)[1].rstrip("i"))
    return parts[0], tags, count, int(ts) // 1_000_000_000


def _last_per_key(points, measurement, key):
    """Last delivered value per key, in delivery order."""
    out = {}
    for p in points:
        if p[0] == measurement:
            out[key(p)] = p
    return out


def check_tweets(ledger, input_glob: str, points: list, progress: dict) -> dict:
    """``ledger``: pyarrow table (file, kind, ts_ms, text) of every input
    line; ``points``: parsed sink lines in delivery order; ``progress``:
    query name → list of progress dicts."""
    con = duckdb.connect()
    con.register("ledger", ledger)
    wrong = {}

    # the input files hold what the ledger says: DuckDB's own JSON parse
    # keeps exactly the non-malformed lines
    n_parsed = con.execute(
        f"""SELECT count(*) FROM read_json('{input_glob}', format='newline_delimited',
            columns={{text: 'VARCHAR', createdAt: 'BIGINT', lang: 'VARCHAR'}},
            ignore_errors=true) WHERE text IS NOT NULL AND createdAt IS NOT NULL"""
    ).fetchone()[0]
    n_lines, n_valid, n_malformed, n_late = con.execute(
        f"""SELECT count(*), count(*) FILTER (kind <> {MALFORMED}),
                   count(*) FILTER (kind = {MALFORMED}), count(*) FILTER (kind = {FAR_LATE})
            FROM ledger"""
    ).fetchone()
    wrong["input_parse"] = abs(n_parsed - n_valid)

    # Q-C: the final running total counts every parsed tweet (an
    # ungrouped aggregate drops nothing behind the watermark)
    totals = [p[2] for p in points if p[0] == "TotalTweetCountFlink"]
    wrong["total"] = int(not totals or totals[-1] != n_valid)

    # the parser dropped exactly the planted malformed lines
    rows_in = sum(p["numInputRows"] for p in progress["running_total"])
    wrong["parse_drops"] = int(rows_in != n_lines or n_lines - n_valid != n_malformed)

    # Q-D: the last delivered count of every 1 s window equals the count
    # of its tweets, far-late tweets excluded
    ref = dict(
        con.execute(
            f"""SELECT ts_ms // 1000, count(*) FROM ledger
                WHERE kind NOT IN ({MALFORMED}, {FAR_LATE}) GROUP BY 1"""
        ).fetchall()
    )
    got = {k: p[2] for k, p in _last_per_key(points, "TweetPerSecondCountFlink", lambda p: p[3]).items()}
    wrong["per_second"] = sum(ref.get(k) != got.get(k) for k in set(ref) | set(got))

    # ... and its watermark dropped exactly the far-late tweets
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress["tweets_per_second"]
        for op in p["stateOperators"]
    )
    wrong["watermark_drops"] = int(dropped != n_late)

    con.execute(
        f"""CREATE TABLE tags AS
            SELECT ts_ms, unnest(regexp_extract_all(text, '#\\w+')) AS tag FROM ledger
            WHERE kind NOT IN ({MALFORMED}, {FAR_LATE})"""
    )
    con.execute(
        f"""CREATE TABLE wcounts AS
            SELECT (ts_ms // {SLIDE_S * 1000}) * {SLIDE_S} - k * {SLIDE_S} + {SIZE_S} AS w_end,
                   tag, count(*) AS cnt
            FROM tags CROSS JOIN range(0, {SIZE_S // SLIDE_S}) r(k) GROUP BY 1, 2"""
    )

    # Q-B: each trigger emits the top-1 among the (window, tag) counts that
    # trigger changed, so the last emission of a window carries that tag's
    # final count in the window
    last_b = _last_per_key(points, "TrendingHashTagFlink1", lambda p: p[3])
    ref_b = {
        (w, t): c
        for w, t, c in con.execute(
            "SELECT w_end, tag, cnt FROM wcounts WHERE w_end IN (SELECT unnest(?))",
            [list(last_b)],
        ).fetchall()
    }
    wrong["trending_single"] = sum(
        ref_b.get((w, p[1].get("hashtag"))) != p[2] for w, p in last_b.items()
    )

    # Q-A: the batch two-stage top-1 restricted to the sampling windows the
    # query's final watermark finalized (plans/oracles.py STREAM_QA_TRENDING)
    wm = progress["trending_two_stage"][-1]["eventTime"].get("watermark")
    from datetime import datetime

    wm_ms = int(datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1000)
    ref_a = set(
        con.execute(
            f"""WITH sampled AS (
                  SELECT w_end - (w_end % {SAMPLE_SLIDE_S}) AS s, tag, cnt FROM wcounts
                  WHERE (w_end % {SAMPLE_SLIDE_S}) < {SAMPLE_SIZE_S}),
                ranked AS (
                  SELECT *, row_number() OVER (PARTITION BY s ORDER BY cnt DESC, tag DESC) AS rn
                  FROM sampled)
                SELECT s, tag, cnt FROM ranked WHERE rn = 1 AND s * 1000 <= {wm_ms}"""
        ).fetchall()
    )
    got_a = {(p[3], p[1].get("hashtag"), p[2]) for p in points if p[0] == "TrendingHashTagFlink2"}
    wrong["trending_two_stage"] = len(ref_a ^ got_a)

    for m in ("TrendingHashTagFlink2", "TrendingHashTagFlink1", "TotalTweetCountFlink",
              "TweetPerSecondCountFlink"):
        wrong[f"nonempty_{m}"] = int(not any(p[0] == m for p in points))
    con.close()
    return wrong


def check_corpus(docs_path: str, truth, out: str, cap_k: int) -> tuple[dict, dict]:
    """Checks of corpus_prep_app.run's output against its inputs, plus
    the dedup quality against the planted truth. Returns (wrong, quality)."""
    con = duckdb.connect()
    con.register("truth", truth)
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{docs_path}')")
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{out}/corpus/*.parquet')")
    con.execute(f"CREATE VIEW profile AS SELECT * FROM read_parquet('{out}/profile/*.parquet')")
    bucket = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000"
    wrong = {}
    # every output doc is an input doc, once, with its own source and size
    wrong["unknown_docs"] = con.execute(
        """SELECT count(*) FROM corpus c LEFT JOIN docs d USING (doc_id)
           WHERE d.doc_id IS NULL OR c.source <> d.source OR c.n_chars <> d.n_chars"""
    ).fetchone()[0]
    wrong["repeated_docs"] = con.execute(
        "SELECT count(*) - count(DISTINCT doc_id) FROM corpus"
    ).fetchone()[0]
    # admission (src0/src1 kept whole, other sources at half) and split
    # follow the md5 bucket rules of operators.sampling
    wrong["admission"] = con.execute(
        f"""SELECT count(*) FROM corpus
            WHERE {bucket} >= CASE WHEN source IN ('src0', 'src1') THEN 10000 ELSE 5000 END"""
    ).fetchone()[0]
    wrong["split"] = con.execute(
        f"""SELECT count(*) FROM corpus WHERE split <> CASE
              WHEN {bucket} < 8000 THEN 'train' WHEN {bucket} < 9000 THEN 'val' ELSE 'test' END"""
    ).fetchone()[0]
    wrong["cap"] = con.execute(
        f"SELECT count(*) FROM (SELECT source FROM corpus GROUP BY 1 HAVING count(*) > {cap_k})"
    ).fetchone()[0]
    # exact dedup is deterministic: no planted exact copy survives
    wrong["exact_dups"] = con.execute(
        "SELECT count(*) FROM corpus JOIN truth USING (doc_id) WHERE kind = 'exact'"
    ).fetchone()[0]
    # the profile is the corpus's own aggregate
    wrong["profile"] = con.execute(
        """SELECT count(*) FROM profile p FULL JOIN
             (SELECT split, source, count(*) AS n FROM corpus GROUP BY 1, 2) c USING (split, source)
           WHERE p.n_docs IS DISTINCT FROM c.n"""
    ).fetchone()[0]
    # quality, over the docs the admission rule keeps
    copies, removed, uniques, false_drops = con.execute(
        f"""SELECT count(*) FILTER (kind <> 'orig'),
                   count(*) FILTER (kind <> 'orig' AND c.doc_id IS NULL),
                   count(*) FILTER (kind = 'orig'),
                   count(*) FILTER (kind = 'orig' AND c.doc_id IS NULL)
            FROM docs d JOIN truth t USING (doc_id) LEFT JOIN corpus c USING (doc_id)
            WHERE {bucket.replace('doc_id', 'd.doc_id')}
                  < CASE WHEN d.source IN ('src0', 'src1') THEN 10000 ELSE 5000 END"""
    ).fetchone()
    quality = {
        "near_dup_recall": removed / copies if copies else 1.0,
        "false_drop_share": false_drops / uniques if uniques else 0.0,
        "corpus_rows": con.execute("SELECT count(*) FROM corpus").fetchone()[0],
    }
    con.close()
    return wrong, quality
