"""Output checks, run outside the timed region.

* batch_daily: the engine's Q1-Q9 answer files against DuckDB duals. The
  duals start from the same landed raw JSON and redo the cleaning in SQL,
  so a cleaning regression fails the check as well as a query one. The
  query SQL is the one in tests/test_reference_queries.py.
* curation: exact word 3-gram Jaccard for every dedup drop, and exact
  numpy top-10 for every ANN query.
"""

from __future__ import annotations

import math

import numpy as np

SENTINELS = (
    "No description available Story format",
    "User Info Error",
    "Image src error",
    "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e",
    "No Title Data Available",
)


def _nulled(col: str) -> str:
    quoted = ", ".join("'" + s.replace("'", "''") + "'" for s in SENTINELS)
    return f"CASE WHEN {col} = '' OR {col} IN ({quoted}) THEN NULL ELSE {col} END"


_FC = _nulled("follower_count")
_NUM = rf"TRY_CAST(regexp_extract({_FC}, '^(\d+(?:\.\d+)?)[kM]$', 1) AS DOUBLE)"
_FOLLOWERS = rf"""TRY_CAST(CASE
    WHEN regexp_matches({_FC}, '^\d+(\.\d+)?k$') THEN TRY_CAST({_NUM} * 1000 AS BIGINT)
    WHEN regexp_matches({_FC}, '^\d+(\.\d+)?M$') THEN TRY_CAST({_NUM} * 1000000 AS BIGINT)
    ELSE TRY_CAST({_FC} AS BIGINT) END AS INTEGER)"""

_PIN_COLS = (
    "index", "unique_id", "title", "description", "poster_name", "follower_count",
    "tag_list", "is_image_or_video", "image_src", "downloaded", "save_location", "category",
)


def _read(landing: str, entity: str, cols: dict) -> str:
    spec = ", ".join(f"'{k}': '{v}'" for k, v in cols.items())
    return (
        f"SELECT DISTINCT * FROM read_json('{landing}/{entity}/*.json', "
        f"format='newline_delimited', columns={{{spec}}})"
    )


def _cleaned_views(con, landing: str) -> None:
    pin_cols = {c: ("INTEGER" if c == "index" else "VARCHAR") for c in _PIN_COLS}
    con.execute(
        f"""CREATE VIEW pin AS SELECT "index" AS ind,
              {_nulled('category')} AS category,
              {_nulled('poster_name')} AS poster_name,
              {_FOLLOWERS} AS follower_count
            FROM ({_read(landing, 'pin', pin_cols)})"""
    )
    geo_cols = {"index": "INTEGER", "timestamp": "VARCHAR", "latitude": "VARCHAR",
                "longitude": "VARCHAR", "country": "VARCHAR"}
    con.execute(
        f"""CREATE VIEW geo AS SELECT "index" AS ind,
              trim({_nulled('country')}) AS country,
              TRY_CAST({_nulled('"timestamp"')} AS TIMESTAMP) AS "timestamp"
            FROM ({_read(landing, 'geo', geo_cols)})"""
    )
    user_cols = {"index": "INTEGER", "date_joined": "VARCHAR", "first_name": "VARCHAR",
                 "last_name": "VARCHAR", "age": "INTEGER"}
    con.execute(
        f"""CREATE VIEW "user" AS SELECT "index" AS ind, age,
              TRY_CAST({_nulled('date_joined')} AS TIMESTAMP) AS date_joined
            FROM ({_read(landing, 'user', user_cols)})"""
    )


AGE_CASE = """CASE WHEN age BETWEEN 18 AND 24 THEN '18-24'
                   WHEN age BETWEEN 25 AND 35 THEN '25-35'
                   WHEN age BETWEEN 36 AND 50 THEN '36-50'
                   WHEN age > 50 THEN '50+' END"""

DUALS = {
    "q1_top_category_per_country": """
        WITH c AS (SELECT g.country, p.category, count(*) AS category_count
                   FROM pin p JOIN geo g USING (ind)
                   GROUP BY g.country, p.category),
             r AS (SELECT *, rank() OVER (PARTITION BY country
                                          ORDER BY category_count DESC) rk FROM c)
        SELECT country, category, category_count FROM r WHERE rk = 1""",
    "q2_category_counts_per_year": """
        SELECT year("timestamp")::int AS post_year, category,
               count(*) AS category_count
        FROM pin JOIN geo USING (ind)
        WHERE year("timestamp") BETWEEN 2018 AND 2022
        GROUP BY 1, 2""",
    "q3_top_user_per_country": """
        WITH j AS (SELECT g.country, p.poster_name, p.follower_count
                   FROM pin p JOIN geo g USING (ind)
                   WHERE p.follower_count IS NOT NULL),
             r AS (SELECT *, rank() OVER (PARTITION BY country
                                          ORDER BY follower_count DESC) rk FROM j)
        SELECT country, poster_name, max(follower_count) AS follower_count
        FROM r WHERE rk = 1 GROUP BY country, poster_name""",
    "q5_top_category_per_age_group": f"""
        SELECT {AGE_CASE} AS age_group, category, count(*) AS category_count
        FROM pin JOIN "user" USING (ind) GROUP BY 1, 2""",
    "q6_median_followers_per_age_group": f"""
        SELECT {AGE_CASE} AS age_group,
               quantile_cont(follower_count, 0.5) AS median_follower_count
        FROM pin JOIN "user" USING (ind) GROUP BY 1""",
    "q7_users_joined_per_year": """
        SELECT year(date_joined)::int AS join_year,
               count(*) AS number_users_joined
        FROM "user" WHERE year(date_joined) BETWEEN 2015 AND 2020 GROUP BY 1""",
    "q8_median_followers_by_join_year": """
        SELECT year(date_joined)::int AS join_year,
               quantile_cont(follower_count, 0.5) AS median_follower_count
        FROM pin JOIN "user" USING (ind)
        WHERE year(date_joined) BETWEEN 2015 AND 2020 GROUP BY 1""",
    "q9_median_followers_by_join_year_and_age": f"""
        SELECT year(date_joined)::int AS join_year, {AGE_CASE} AS age_group,
               quantile_cont(follower_count, 0.5) AS median_follower_count
        FROM pin JOIN "user" USING (ind)
        WHERE year(date_joined) BETWEEN 2015 AND 2020 GROUP BY 1, 2""",
}

# Q4 is a global top-1 whose tie-break the reference leaves open: the
# check is that its one row carries the highest follower count.
Q4 = "q4_country_with_top_user"
Q4_TOP = """SELECT max(p.follower_count) FROM pin p JOIN geo g USING (ind)
            WHERE p.follower_count IS NOT NULL"""


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.6f}" if not math.isnan(v) else "nan"
    return str(v)


def _rowset(cur) -> tuple[list[str], list[tuple]]:
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_norm(r[i]) for i in order) for r in cur.fetchall())
    return sorted(cols), rows


class BatchDuals:
    """DuckDB answers for one landing, computed once and compared to any
    number of engine answer directories."""

    def __init__(self, landing: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        _cleaned_views(self.con, landing)
        self.want = {name: _rowset(self.con.execute(sql)) for name, sql in DUALS.items()}
        self.q4_top = self.con.execute(Q4_TOP).fetchone()[0]

    def mismatches(self, out_dir: str) -> list[str]:
        """Names of the answers under ``out_dir`` that differ from the duals."""
        bad = []
        for name, want in self.want.items():
            got = _rowset(self.con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            if got != want:
                bad.append(name)
        q4 = self.con.execute(f"SELECT follower_count FROM read_parquet('{out_dir}/{Q4}/*.parquet')").fetchall()
        if len(q4) != 1 or q4[0][0] != self.q4_top:
            bad.append(Q4)
        return bad


# --- curation ---------------------------------------------------------------


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-grams on single-space tokens, as ``text.shingles`` builds
    them: a text of fewer than n tokens is its own single shingle."""
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def nearest_cells(x: np.ndarray, centroids: np.ndarray, n: int) -> np.ndarray:
    """Top-n cells by dot product, stable ties, as the engine's kernel."""
    return np.argsort(-(x @ centroids.T), axis=1, kind="stable")[:, :n]


def exact_topk(q: np.ndarray, ids: np.ndarray, vecs: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-k per query over (ids, vecs), scores rounded to 6
    places and ties to the smaller id, as ``ivf_search_index`` ranks."""
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    scores = np.round(qn @ vn.T, 6)
    out = []
    for row in scores:
        order = np.lexsort((ids, -row))[:k]
        out.append([int(i) for i in ids[order]])
    return out
