"""Seeded input generators for the benchmark.

Everything is a pure function of the seed: the same seed writes the same
files. The program only ever sees the generated files.

  transactions(...)    reference-shaped transactions CSV (FIXTURES.md §1)
  registry_tables(...) the registry's ten parquet tables, shaped like the
                       driver testdata (TPC-H-ish star schema, events,
                       documents with near-duplicates, unit embeddings)
  wide_tree_model(...) the committed tree artifact whose freq_*/proc_*
                       features cover the generated MCC vocabulary

Regenerate the artifact with:
    python3 perfbench/gen.py tree-model perfbench/artifacts/tree_wide.txt 60
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VRAE_COLS = os.path.join(ROOT, "src/main/resources/graft/vrae_cols.txt")

# Submit's service-code exclusion (run.py:201) and the trim cutoff: a user
# needs more than 2 x 20 rows to survive the head/tail trim.
DROP_CODE = 6012
TRIM_CUTOFF = 40


def mcc_vocab(n_codes=None):
    """The reference's fixed MCC list (vrae_cols.txt), or `n_codes` codes
    spread evenly over it, always including the excluded service code."""
    with open(VRAE_COLS) as fh:
        codes = [int(line.strip()[len("mcc_code_"):]) for line in fh
                 if line.startswith("mcc_code_")]
    if n_codes is None:
        return codes
    picked = codes[::max(1, len(codes) // n_codes)][:n_codes - 1]
    return sorted(set(picked) | {DROP_CODE})


def transactions(seed, n_users, n_rows, codes, path):
    """Writes a transactions CSV in the reference schema (user_id, mcc_code,
    currency_rk, transaction_amt, transaction_dttm), rows of a user in event
    order. Shapes the cleaning depends on:
      - MCC codes from `codes` (a subset of the reference vocabulary that
        includes 6012) with Zipf popularity;
      - signed amounts with a few outliers; currencies 48/50/60;
      - 6% of users at or below the 40-row trim cutoff and 2% with only
        code 6012, so the max-score fallback runs in the tree branch;
      - null currencies on a few rows and on every row of 1% of users,
        so the RNN branch's dropna drops rows and whole users.
    Timestamps are distinct within a user, so event order is total. The
    file has exactly `n_rows` rows whatever the seed, so seeds vary the
    data but not the amount of work."""
    rng = np.random.default_rng(seed)
    codes = np.array(sorted(codes))
    popularity = 1.0 / np.arange(1, len(codes) + 1) ** 1.1
    codes = codes[rng.permutation(len(codes))]
    popularity /= popularity.sum()
    users = np.sort(rng.choice(10_000_000, size=n_users, replace=False))
    kind = np.zeros(n_users, dtype=int)
    special = rng.permutation(n_users)
    kind[special[:max(1, n_users * 6 // 100)]] = 1
    kind[special[len(special) - max(1, n_users * 2 // 100):]] = 2
    rows = np.where(kind == 1, rng.integers(5, TRIM_CUTOFF + 1, n_users),
                    rng.integers(45, 120, n_users))
    # normal users share the remaining rows in skewed proportions
    normal = kind == 0
    budget = n_rows - rows[~normal].sum() - (TRIM_CUTOFF + 1) * normal.sum()
    assert budget > 0, "n_rows too small for n_users"
    share = rng.exponential(1.0, normal.sum())
    extra = np.floor(share / share.sum() * budget).astype(int)
    extra[: budget - extra.sum()] += 1
    rows[normal] = TRIM_CUTOFF + 1 + extra
    null_user = np.zeros(n_users, dtype=bool)
    null_user[rng.choice(np.flatnonzero(normal),
                         max(1, n_users // 100), replace=False)] = True
    start = dt.datetime(2022, 1, 1).timestamp()
    cols = {k: [] for k in ("user", "code", "cur", "amt", "ts")}
    for u, k, n, nu in zip(users, kind, rows, null_user):
        if k == 2:
            code = np.full(n, DROP_CODE)
        else:
            own = rng.choice(codes, size=rng.integers(3, 26), replace=False,
                             p=popularity)
            w = 1.0 / np.arange(1, len(own) + 1)
            code = rng.choice(own, size=n, p=w / w.sum())
        mag = np.minimum(rng.lognormal(np.log(800), 1.3, n) *
                         np.where(rng.random(n) < 0.01, 50.0, 1.0), 340_000)
        amt = np.round(np.where(rng.random(n) < 0.75, -mag, mag), 2)
        cur = rng.choice([48, 50, 60], size=n, p=[0.93, 0.05, 0.02])
        gaps = np.maximum(1, rng.exponential(6 * 3600, n)).astype(np.int64)
        ts = int(start + rng.integers(0, 150 * 86400)) + np.cumsum(gaps)
        cols["user"].append(np.full(n, u))
        cols["code"].append(code)
        cols["cur"].append(np.where(nu | (rng.random(n) < 0.003), -1, cur))
        cols["amt"].append(amt)
        cols["ts"].append(ts)
    user, code, cur, amt, ts = (np.concatenate(cols[k]) for k in
                                ("user", "code", "cur", "amt", "ts"))
    stamps = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("user_id,mcc_code,currency_rk,transaction_amt,"
                 "transaction_dttm\n")
        for u, c, r, a, t in zip(user.tolist(), code.tolist(), cur.tolist(),
                                 amt.tolist(), stamps.tolist()):
            fh.write(f"{u},{c},{'' if r < 0 else r},{a!r},"
                     f"{t.replace('T', ' ')}\n")
    return len(user)


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def registry_tables(seed, sf, out_dir):
    """Writes the ten registry tables at scale factor `sf`, with the row
    counts, key ranges and value domains of the driver testdata."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjectives = ["large", "hot", "blue", "small", "red", "green", "cold",
                  "shiny"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": (np.repeat(odate, lines) + rng.integers(
            1, 122, n_li).astype("timedelta64[D]")).astype("datetime64[us]")})
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "fr", "zh", "de"], n_doc,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = max(500, int(20_000 * sf))
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def model_codes(path):
    """The MCC codes a tree artifact's freq_* features name."""
    with open(path) as fh:
        feats = next(ln for ln in fh if ln.startswith("features ")).split()
    return [int(f[len("freq_"):]) for f in feats if f.startswith("freq_")]


def wide_tree_model(path, n_codes, seed=20231017, n_trees=40, depth=4):
    """A fixed tree ensemble over freq_<code>/proc_<code> for every code of
    the reference vocabulary plus td_mean/td_std, in the TreeEnsembleModel
    text format. Splits sit inside the generated value ranges, so scores
    vary across users."""
    rng = np.random.default_rng(seed)
    codes = mcc_vocab(n_codes)
    feats = ([f"freq_{c}" for c in codes] + [f"proc_{c}" for c in codes] +
             ["td_mean", "td_std"])
    lines = ["# Wide tree ensemble for the benchmark's Submit tree workload:",
             f"# freq_/proc_ features for {len(codes)} MCC codes spread over",
             "# vrae_cols.txt (perfbench/gen.py tree-model; fixed seed).",
             f"features {' '.join(feats)}", "bias -2.0"]

    def threshold(f):
        if f.startswith("freq_"):
            return float(rng.integers(0, 6))
        if f.startswith("proc_"):
            return float(np.round(-rng.lognormal(np.log(500), 1.5), 2))
        return float(np.round(rng.uniform(20_000, 60_000), 1))

    for _ in range(n_trees):
        lines.append("tree")
        nodes, next_id = [], [0]

        def grow(d):
            me = next_id[0]
            next_id[0] += 1
            if d == depth:
                nodes.append(f"l {me} {np.round(rng.normal(0, 0.1), 6)!r}")
                return me
            f = feats[rng.integers(0, len(feats))]
            left, right = grow(d + 1), grow(d + 1)
            nodes.append(f"n {me} {f} {threshold(f)!r} {left} {right}")
            return me

        grow(0)
        lines.extend(nodes)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["tree-model"] and len(sys.argv) == 4:
        wide_tree_model(sys.argv[2], int(sys.argv[3]))
    else:
        sys.exit("usage: python3 perfbench/gen.py tree-model <out.txt> "
                 "<n_codes>")
