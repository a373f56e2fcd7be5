"""Correctness checks of one run, in DuckDB.

- Oracle-backed queries: the Spark output (parquet written by the harness)
  must equal DuckDB running the query's `SparkEntry.oracleSql` over the same
  input tables, normalised by tools/check_oracle.py's norm() (columns sorted
  by name, rows sorted by every column, integer widths and float widths
  unified, int vs float kept distinct) and compared column by column as
  that tool does.
- txtable_cdc: the final table must equal an independent replay of the
  generated change stream: the Silver cleansing predicates and dedup, the
  last image per key, minus the rows the retention deletes removed.
"""
import glob
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import norm as tool_norm  # noqa: E402


def norm(df):
    """tools/check_oracle.py's normalisation, after turning tz-aware
    timestamps (Spark writes TIMESTAMP as UTC-adjusted) into naive UTC."""
    df = df.copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
    return tool_norm(df)


def compare(name, got, want):
    """None when equal, else a one-line reason."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"{name}: columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"{name}: {len(g)} rows vs {len(w)}"
    for c in g.columns:
        if g[c].dtype.kind != w[c].dtype.kind:
            return f"{name}: column {c} dtype {g[c].dtype} vs {w[c].dtype}"
        a, b = g[c].values, w[c].values
        eq = (a == b) | (pd.isna(a) & pd.isna(b))
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{name}: column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(chk):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(chk["data"], "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    failures = []
    for name, sql in sorted(chk["oracle"].items()):
        got = read_parquet_dir(os.path.join(chk["dir"], name))
        if got is None:
            failures.append(f"{name}: no output")
            continue
        try:
            want = con.sql(sql).fetchdf()
        except duckdb.Error as e:
            failures.append(f"{name}: oracle SQL failed: {e}")
            continue
        reason = compare(name, got, want)
        if reason:
            failures.append(reason)
    return {"failures": failures, "checked": chk["checked"]}


# the Silver cleansing of Pipelines.silverCustomer, over the wire rows
CLEAN_CTES = """
parsed AS (
  SELECT epoch, seq,
    json_extract_string(value, '$.customer_id') AS customer_id,
    json_extract_string(value, '$.name') AS name,
    json_extract_string(value, '$.email') AS email,
    json_extract_string(value, '$.gender') AS gender,
    CAST(json_extract(value, '$.age') AS INTEGER) AS age,
    CAST(json_extract_string(value, '$.signup_date') AS DATE) AS signup_date,
    CAST(json_extract_string(value, '$.event_time') AS TIMESTAMP) AS event_time
  FROM wire
), clean AS (
  SELECT DISTINCT ON (customer_id, event_time) *
  FROM parsed
  WHERE customer_id IS NOT NULL AND email IS NOT NULL AND age > 0
    AND gender IN ('Male', 'Female', 'Other')
    AND NOT contains(email, 'test')
    AND NOT regexp_matches(name, 'test|dummy|xyz')
  ORDER BY customer_id, event_time, epoch, seq
)"""

# last cleansed image per key, minus what a later retention delete removed
REPLAY_SQL = "WITH" + CLEAN_CTES + """, last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY customer_id
                                 ORDER BY epoch DESC, event_time DESC) AS rn
    FROM clean) WHERE rn = 1
)
SELECT customer_id, name, email, gender, age, signup_date, event_time
FROM last l
WHERE NOT EXISTS (
  SELECT 1 FROM deletes d
  WHERE d.epoch >= l.epoch AND l.event_time < CAST(d.cutoff AS TIMESTAMP))
"""

# share of change-stream keys that already had an image in an earlier epoch
UPDATE_SHARE_SQL = "WITH" + CLEAN_CTES + """, firsts AS (
  SELECT customer_id, min(epoch) AS first_epoch FROM clean GROUP BY 1
)
SELECT avg(CASE WHEN c.epoch > f.first_epoch THEN 1.0 ELSE 0.0 END)
FROM clean c JOIN firsts f USING (customer_id)
WHERE c.epoch >= 1
"""


def check_cdc(chk):
    wire = pd.DataFrame([(e, i, v) for e, rows in enumerate(chk["epochs"])
                         for i, v in enumerate(rows)], columns=["epoch", "seq", "value"])
    deletes = pd.DataFrame([tuple(d) for d in chk["deletes"]], columns=["epoch", "cutoff"])
    con = duckdb.connect()
    con.register("wire", wire)
    con.register("deletes", deletes)
    failures = list(chk["failures"])
    want = con.sql(REPLAY_SQL).fetchdf()
    keys = set(chk["keys"])
    for name, expected in (("cdc_final", want),
                           ("cdc_catalog", want[want["customer_id"].isin(keys)])):
        got = read_parquet_dir(os.path.join(chk["dir"], name))
        reason = f"{name}: no output" if got is None else compare(name, got, expected)
        if reason:
            failures.append(reason)
    share = con.sql(UPDATE_SHARE_SQL).fetchone()[0]
    return {"failures": failures, "checked": chk["checked"],
            "update_share": float(share or 0.0), "final_rows": len(want)}


def check(chk):
    if chk["kind"] == "cdc":
        return check_cdc(chk)
    out = check_queries(chk)
    out["failures"] = list(chk["failures"]) + out["failures"]
    return out
