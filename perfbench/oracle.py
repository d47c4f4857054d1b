"""Expected outputs computed with DuckDB and plain Python from the generated
inputs alone: no engine code runs here.

* ``pit_expected`` — window, transformer and strictly-prior as-of values.
* ``store_expected`` — the point-in-time read of a store after a publish
  round: latest record per point (latest round, then the largest serialized
  value), then the latest point at or before each spine row.
* ``corpus_expected`` — exact-dup count and survivor count of the curation
  pipeline: exact word-3-shingle Jaccard pairs, union-find components,
  keep-best, then the language and quality filter.
"""

from __future__ import annotations

import math
import os

import duckdb

SESSION_GAPS = (900.0, 1800.0, 3600.0)
PIT_COLUMNS = (
    "prior_role", "last_tool", "gap_s", "session_id", "text_len", "n_tokens", "store_value",
)


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def pit_expected(data_dir: str, conv_ids: list[str]):
    """Expected ``pit_batch`` rows for ``conv_ids`` (pandas), ordered by
    (conv_id, turn_idx); one ``session_<gap>`` column per gap in SESSION_GAPS
    besides ``session_id`` (gap 1800 s)."""
    tr = os.path.join(data_dir, "transcripts.parquet")
    fs = os.path.join(data_dir, "feature_store.parquet")
    sess = ",\n".join(
        f"CAST(sum(CASE WHEN gap_s > {g} THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id "
        f"ORDER BY turn_idx, ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)"
        f" AS session_{int(g)}"
        for g in SESSION_GAPS
    )
    con = _con()
    con.execute("CREATE TEMP TABLE ids(conv_id VARCHAR)")
    con.executemany("INSERT INTO ids VALUES (?)", [(c,) for c in conv_ids])
    sql = f"""
    WITH t AS (
      SELECT * FROM read_parquet('{tr}') WHERE conv_id IN (SELECT conv_id FROM ids)
    ), w AS (
      SELECT conv_id, turn_idx, ts,
             lag(role) OVER w AS prior_role,
             last_value(tool IGNORE NULLS) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_tool,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap_s,
             CAST(length(text) AS INTEGER) AS text_len,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END AS INTEGER)
               AS n_tokens
      FROM t
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
    ), s AS (
      SELECT *, {sess} FROM w
    ), store AS (
      SELECT conv_id, value_at_ts, max(value) AS value
      FROM read_parquet('{fs}') GROUP BY conv_id, value_at_ts
    )
    SELECT s.*, s.session_1800 AS session_id, store.value AS store_value
    FROM s ASOF LEFT JOIN store
      ON s.conv_id = store.conv_id AND s.ts > store.value_at_ts
    ORDER BY s.conv_id, s.turn_idx
    """
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def store_expected(data_dir: str, round_idx: int):
    """Expected read after publish round ``round_idx`` (pandas columns
    conv_id, turn_idx, recomputed), ordered by (conv_id, turn_idx)."""
    tr = os.path.join(data_dir, "transcripts.parquet")
    con = _con()
    sql = f"""
    WITH t AS (SELECT conv_id, turn_idx, ts, text FROM read_parquet('{tr}')),
    pts AS (
      SELECT conv_id, ts AS value_at_ts,
             max('{{"v":' || CAST(length(text) + {round_idx * 100000} AS VARCHAR) || '}}')
               AS value
      FROM t WHERE turn_idx % 2 = 0 GROUP BY conv_id, ts
    )
    SELECT t.conv_id, t.turn_idx, pts.value AS recomputed
    FROM t ASOF LEFT JOIN pts ON t.conv_id = pts.conv_id AND t.ts >= pts.value_at_ts
    ORDER BY t.conv_id, t.turn_idx
    """
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def live_points(data_dir: str) -> int:
    """Distinct (entity, value_at_ts) points a publish round writes."""
    tr = os.path.join(data_dir, "transcripts.parquet")
    con = _con()
    try:
        return int(con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT conv_id, ts FROM read_parquet('{tr}')"
            f" WHERE turn_idx % 2 = 0)"
        ).fetchone()[0])
    finally:
        con.close()


def corpus_expected(data_dir: str, min_quality: int, threshold: float = 0.5) -> dict:
    """Exact-dup count and survivor count for the curation pipeline."""
    path = os.path.join(data_dir, "documents.parquet")
    con = _con()
    try:
        n_docs, n_distinct = con.execute(
            f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{path}')"
        ).fetchone()
        pairs = con.execute(f"""
        WITH d AS (
          SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
          FROM read_parquet('{path}')
        ), sh AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(len(tk) - 2),
                 i -> tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3])) AS s
          FROM d
        ), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        co AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY ALL
        )
        SELECT da, db FROM co
        JOIN sz sa ON sa.doc_id = co.da JOIN sz sb ON sb.doc_id = co.db
        WHERE shared / (sa.n + sb.n - shared) >= {threshold}
        """).fetchall()
        docs = con.execute(
            f"SELECT doc_id, text, CAST(length(text) AS BIGINT) AS q,"
            f" regexp_matches(text, '[0-9]') AS has_digit FROM read_parquet('{path}')"
        ).fetchall()
    finally:
        con.close()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    first_by_text: dict[str, int] = {}
    for doc_id, text, _q, _d in docs:
        first_by_text[text] = min(doc_id, first_by_text.get(text, math.inf))
    best: dict[int, tuple] = {}
    for doc_id, text, q, has_digit in docs:
        if first_by_text[text] != doc_id:
            continue  # removed by exact dedup
        grp = find(doc_id) if doc_id in parent else doc_id
        cand = (q, -doc_id, doc_id, has_digit)
        if grp not in best or cand > best[grp]:
            best[grp] = cand
    survivors = sum(1 for q, _n, _id, d in best.values() if not d and q >= min_quality)
    return {
        "docs": int(n_docs),
        "exact_dups": int(n_docs - n_distinct),
        "near_pairs": len(pairs),
        "survivors": survivors,
    }
