"""Output checks for the benchmark. They run after the timed region.

  submit_invariants   one row per input user, ascending user_id, finite
                      targets, users the cleaning drops carry the max score
  tree_reference      the Submit tree branch replayed in DuckDB (the q39
                      oracle CTEs with Submit's constants and the model's
                      toSql, written by the harness as tree_replay.sql)
  rnn_reference       the pure-Python GRU forward pass of
                      tools/make_rnn_fixture.py over sequences assembled
                      here from the CSV, for a fixed sample of users
  registry_oracle     each registry row hash-compared against its DuckDB
                      oracle SQL (tools/check_oracle.py's compare)
Each returns a list of failure messages; empty means correct.
"""
import bisect
import csv
import datetime as dt
import glob
import gzip
import json
import math
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check_oracle  # noqa: E402
import make_rnn_fixture  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TRIM_CUTOFF = 40
DROP_CODE = "6012"


def read_input(path):
    """Per-user input rows as (mcc, currency, amount, timestamp) strings,
    in file order."""
    users = {}
    with open(path) as fh:
        for row in csv.DictReader(fh):
            users.setdefault(int(row["user_id"]), []).append(
                (row["mcc_code"], row["currency_rk"], row["transaction_amt"],
                 row["transaction_dttm"]))
    return users


def read_submission(out_dir):
    files = glob.glob(os.path.join(out_dir, "*.csv"))
    if len(files) != 1:
        return None
    with open(files[0]) as fh:
        return [(int(r["user_id"]), float(r["target"]))
                for r in csv.DictReader(fh)]


def submit_invariants(sub, users, branch):
    if sub is None:
        return ["submission is not one CSV file"]
    fails = []
    ids = [u for u, _ in sub]
    if ids != sorted(ids):
        fails.append("user_id not ascending")
    if len(ids) != len(set(ids)) or set(ids) != set(users):
        fails.append(f"{len(ids)} rows for {len(users)} input users")
    if not all(math.isfinite(t) for _, t in sub):
        fails.append("non-finite target")
    if fails:
        return fails
    top = max(t for _, t in sub)
    if branch == "tree":
        dropped = [u for u, rows in users.items()
                   if len(rows) <= TRIM_CUTOFF or
                   all(r[0] == DROP_CODE for r in rows)]
    else:
        dropped = [u for u, rows in users.items()
                   if all("" in r for r in rows)]
    target = dict(sub)
    bad = [u for u in dropped if target[u] != top]
    if not dropped:
        fails.append("no dropped users: the fallback path did not run")
    if bad:
        fails.append(f"{len(bad)} dropped users without the max score")
    return fails


def compare(sub, ref):
    """Users whose submitted target differs from the reference's."""
    got = dict(sub)
    bad = [(u, t) for u, t in ref if got.get(u) != t]
    if not ref:
        return ["empty reference"]
    if bad:
        u, t = bad[0]
        return [f"{len(bad)}/{len(ref)} users differ from the reference, "
                f"e.g. user {u}: {got.get(u)} vs {t}"]
    return []


def tree_reference(csv_path, sql_path):
    """All users' targets from the DuckDB replay."""
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW events AS SELECT
        row_number() OVER () - 1 AS event_id, user_id,
        transaction_dttm AS ts, CAST(mcc_code AS VARCHAR) AS event_type,
        transaction_amt AS value
      FROM read_csv('{csv_path}', header = true, columns = {{
        'user_id': 'BIGINT', 'mcc_code': 'BIGINT', 'currency_rk': 'BIGINT',
        'transaction_amt': 'DOUBLE', 'transaction_dttm': 'TIMESTAMP'}})""")
    with open(sql_path) as fh:
        return [(int(u), float(t)) for u, t in con.sql(fh.read()).fetchall()]


def _bin(edges, v):
    """Bucketize: (edge_i, edge_i+1] -> i; outside the edges -> 0."""
    i = bisect.bisect_left(edges, v)
    return i - 1 if 1 <= i < len(edges) else 0


def rnn_sequence(model, rows):
    """runSeq's input tensor for one user: dropna, calendar attributes,
    pd.cut digitization, last seqlen rows in time order, right-padded."""
    steps = []
    for mcc, cur, amt, ts in rows:
        if "" in (mcc, cur, amt, ts):
            continue
        t = dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
        vals = {"hour": t.hour, "mcc_code": float(mcc),
                "currency_rk": float(cur), "transaction_amt": float(amt),
                "day": t.weekday(), "month": t.month, "number_day": t.day}
        feats = [_bin(model["edges"][f], vals[f]) if f in model["edges"]
                 else int(vals[f]) for f in model["features"]]
        steps.append((t, feats))
    steps.sort()
    seq = [f for _, f in steps][-model["seqlen"]:]
    return seq + [[0] * len(model["features"])] * (model["seqlen"] - len(seq))


def rnn_sample(users, k):
    """`k` users that reach the scorer, evenly spaced by row count from the
    shortest to the longest (padding and truncation both run)."""
    by_len = sorted((len(rows), u) for u, rows in users.items()
                    if any("" not in r for r in rows))
    return sorted({by_len[round(i * (len(by_len) - 1) / (k - 1))][1]
                   for i in range(k)})


def unpack_seq_model(model_gz, path):
    """The GRU artifact as the plain text make_rnn_fixture.py parses."""
    if not os.path.exists(path):
        with gzip.open(model_gz, "rt") as src, open(path + ".tmp", "w") as dst:
            dst.write(src.read())
        os.replace(path + ".tmp", path)
    return path


def rnn_reference(users, model_txt, sample):
    model = make_rnn_fixture.parse_seqmodel(model_txt)
    return [(u, make_rnn_fixture.round_half_up(
        make_rnn_fixture.seqmodel_forward(model, rnn_sequence(model,
                                                              users[u])), 6))
            for u in sample]


def registry_oracle(table_dir, out_dir, rows):
    """Failing rows with the reason, per tools/check_oracle.py; the row
    outputs are parquet under `out_dir`/<row>, next to oracle_sql.json."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{table_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    fails = []
    for row in rows:
        pq = glob.glob(f"{out_dir}/{row}/*.parquet")
        if not pq:
            fails.append(f"{row}: no output")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in pq])
        if row not in oracle:
            if len(spark_df) == 0:
                fails.append(f"{row}: empty output")
            continue
        why = check_oracle.cmp(row, spark_df, con.sql(oracle[row]).fetchdf())
        if why:
            fails.append(f"{row}: {why}")
    return fails
