"""Seeded inputs and independently computed expected values.

Everything the JVM side of the benchmark reads is written here, and
every value it is checked against is computed here too: with plain
Python models and DuckDB over the same parquet files, never by graft.

    python3 perfbench/gen.py <workload> <seed> <rounds> <out_dir> [<corpus_dir>]

writes one workload's inputs and expected values into <out_dir>
(the corpus workload also needs the corpus directory built by
`build.py`). It is the one command that regenerates every expected
value; `run.py` calls the same functions.
"""
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- table shapes ------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01

# kv_point: customer(hash c_custkey), orders(hash o_custkey, range o_orderkey)
#
# The request counts are a measurement rule, not a model of observed
# traffic: each request kind (GetItem, Query, UPDATE) gets the same
# number of samples, split evenly between the tables it applies to, so
# every kind has a median of the same standing. Keys come uniformly
# from a small hot set so that reads see earlier updates.
KV_CUSTOMERS = 7_500
KV_ORDERS = 30_000
KV_HOT = 200           # customers the requests are drawn from
KV_ROUND = {"getc": 20, "geto": 20, "query": 40, "updc": 20, "updo": 20}
KV_WARMUP = {"getc": 4, "geto": 4, "query": 8, "updc": 4, "updo": 4}

# bulk_etl: one fresh `orders` table per cycle. The update burst
# rewrites a tenth of the rows, so the merged scans replay a journal
# beside a base (a measurement choice, like the step counts in
# BulkEtl.scala).
BULK_ORDERS = 50_000
BULK_CUSTOMERS = 5_000
BULK_UPDATES = 5_000
# the TIMESTAMP_NTZ slice is the same in every run (its failure must
# not depend on the seed)
NTZ_ROWS = 1_000
NTZ_SEED = 7

# llm_pipeline corpus: fixed, built once per checkout
CORPUS_SEED = 20_240_101
CORPUS_DOCS = 50_000
CORPUS_VECS = 20_000
CORPUS_DIM = 64

MOD = 1_000_000_007


def customers(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n) / 100.0,
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def orders(rng, n, n_cust, tz="UTC"):
    okeys = np.arange(n, dtype=np.int64) * 4 + rng.integers(0, 4, n)
    days = EPOCH_1992 + rng.integers(0, 2400, n)
    comment_len = rng.integers(2, 9, n)
    comment_words = rng.integers(0, len(WORDS), int(comment_len.sum()))
    comments, at = [], 0
    for ln in comment_len:
        comments.append(" ".join(WORDS[w] for w in comment_words[at:at + ln]))
        at += ln
    return pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": rng.integers(1_000, 50_000_000, n) / 100.0,
        "o_orderdate": pa.array(days.astype(np.int64) * DAY_US,
                                pa.timestamp("us", tz=tz)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        "o_comment": comments,
    })


def write(tbl, path, row_group=None):
    pq.write_table(tbl, path, row_group_size=row_group)


# ---- canonical row text (mirrored by Canon in perfbench/src) ---------

def cents(x):
    return int(round(x * 100))


def canon_customer(r):
    return (f"{r['c_custkey']}|{r['c_name']}|{r['c_nationkey']}|"
            f"{cents(r['c_acctbal'])}|{r['c_mktsegment']}")


def canon_order(r):
    return (f"{r['o_orderkey']}|{r['o_custkey']}|{r['o_orderstatus']}|"
            f"{cents(r['o_totalprice'])}|{r['o_orderdate_us']}|"
            f"{r['o_orderpriority']}|{r['o_comment']}")


# ---- kv_point ---------------------------------------------------------

def kv_inputs(seed, rounds, out):
    """Tables, the request list and the expected reply of every read.

    The request list is warm-up (a fixed count per request type) then
    `rounds` rounds of the KV_ROUND requests, each round ending with a
    compaction. The expected replies come from a write model that
    starts from the base rows as DuckDB reads them back from parquet
    and applies the list's own updates in order.
    """
    rng = np.random.default_rng([seed, 1])
    write(customers(rng, KV_CUSTOMERS), f"{out}/customer.parquet")
    write(orders(rng, KV_ORDERS, KV_CUSTOMERS), f"{out}/orders.parquet")
    con = duckdb.connect()
    cust = {r["c_custkey"]: r for r in con.execute(
        f"SELECT * FROM read_parquet('{out}/customer.parquet')").fetch_df()
        .to_dict("records")}
    ords = {}
    for r in con.execute(
            f"SELECT *, epoch_us(o_orderdate) AS o_orderdate_us "
            f"FROM read_parquet('{out}/orders.parquet')").fetch_df() \
            .to_dict("records"):
        ords.setdefault(r["o_custkey"], {})[r["o_orderkey"]] = r
    hot = rng.choice(KV_CUSTOMERS, KV_HOT, replace=False)
    hot_with_orders = [k for k in hot if k in ords]

    plan = [k for k, n in KV_WARMUP.items() for _ in range(n)]
    rng.shuffle(plan)
    plan = [("warmup", k) for k in plan]
    for r in range(rounds):
        rnd = [k for k, n in KV_ROUND.items() for _ in range(n)]
        rng.shuffle(rnd)
        plan += [("timed", k) for k in rnd] + [("timed", "compact")]

    lines = []
    for phase, kind in plan:
        if kind == "compact":
            lines.append(f"{phase}\tcompact")
        elif kind == "getc":
            k = int(rng.choice(hot))
            lines.append(f"{phase}\tgetc\t{k}\t{canon_customer(cust[k])}")
        elif kind == "geto":
            c = int(rng.choice(hot_with_orders))
            o = int(rng.choice(sorted(ords[c])))
            lines.append(f"{phase}\tgeto\t{c}\t{o}\t{canon_order(ords[c][o])}")
        elif kind == "query":
            c = int(rng.choice(hot))
            rows = [canon_order(ords[c][o]) for o in sorted(ords.get(c, {}))]
            lines.append(f"{phase}\tquery\t{c}\t{';'.join(rows)}")
        elif kind == "updc":
            k = int(rng.choice(hot))
            bal = int(rng.integers(-99_999, 1_000_000))
            cust[k] = dict(cust[k], c_acctbal=bal / 100.0)
            lines.append(f"{phase}\tupdc\t{k}\t{bal}")
        elif kind == "updo":
            c = int(rng.choice(hot_with_orders))
            o = int(rng.choice(sorted(ords[c])))
            st = STATUSES[int(rng.integers(0, 3))]
            price = int(rng.integers(1_000, 50_000_000))
            ords[c][o] = dict(ords[c][o], o_orderstatus=st,
                              o_totalprice=price / 100.0)
            lines.append(f"{phase}\tupdo\t{c}\t{o}\t{st}\t{price}")
    with open(f"{out}/requests.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")


# ---- bulk_etl ---------------------------------------------------------

# Row checksum over every column: the connector pushes only plain
# column aggregates, so SUM over this expression makes every item flow
# through the reader. Strings enter by content (the first 32 bits of
# their MD5), and the row's key multiplies the rest, so a value moved
# to another row changes the sum. `o_orderdate` reads back from the
# store as epoch micros; DuckDB reads the parquet TIMESTAMP, hence
# `epoch_us`. perfbench/src/perfbench/BulkEtl.scala spells the same
# expression in Spark SQL (`conv(..., 16, 10)` for the hex digits).
def md5_32(c):
    return f"CAST('0x' || substr(md5({c}), 1, 8) AS BIGINT)"


ROW_CHECKSUM = ("((o_orderkey + 1) * ((o_custkey * 5 "
                "+ CAST(round(o_totalprice * 100) AS BIGINT) * 7 "
                f"+ ascii(o_orderstatus) * 11 + {md5_32('o_comment')} * 13 "
                f"+ {md5_32('o_orderpriority')} * 17 "
                f"+ (epoch_us(o_orderdate) // 1000000) * 19) % {MOD})) % {MOD}")


def agg_digest_sql(tbl):
    """One number for the pushed GROUP BY o_custkey result."""
    return (f"SELECT CAST(sum((o_custkey * 1000003 + cnt * 101 "
            f"+ CAST(round(total * 100) AS BIGINT) * 7 + maxkey * 13) "
            f"% {MOD}) AS BIGINT) AS digest, count(*) AS groups FROM ("
            f"SELECT o_custkey, count(*) AS cnt, sum(o_totalprice) AS total, "
            f"max(o_orderkey) AS maxkey FROM {tbl} GROUP BY o_custkey)")


def bulk_inputs(seed, out):
    rng = np.random.default_rng([seed, 2])
    base = orders(rng, BULK_ORDERS, BULK_CUSTOMERS)
    write(base, f"{out}/orders.parquet", row_group=16_384)
    pick = np.sort(rng.choice(BULK_ORDERS, BULK_UPDATES, replace=False))
    upd = pa.table({
        "o_custkey": base.column("o_custkey").take(pick),
        "o_orderkey": base.column("o_orderkey").take(pick),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, len(pick))],
        "o_totalprice": rng.integers(1_000, 50_000_000, len(pick)) / 100.0,
    })
    write(upd, f"{out}/updates.parquet")
    ntz = orders(np.random.default_rng(NTZ_SEED), NTZ_ROWS, BULK_CUSTOMERS,
                 tz=None)
    write(ntz, f"{out}/orders_ntz.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW base AS SELECT * FROM "
                f"read_parquet('{out}/orders.parquet')")
    con.execute(
        f"CREATE VIEW merged AS SELECT b.o_orderkey, b.o_custkey, "
        f"coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus, "
        f"coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice, "
        f"b.o_orderdate, b.o_orderpriority, b.o_comment FROM base b "
        f"LEFT JOIN read_parquet('{out}/updates.parquet') u "
        f"USING (o_custkey, o_orderkey)")
    exp = {}
    for name in ("base", "merged"):
        n, ck = con.execute(
            f"SELECT count(*), CAST(sum({ROW_CHECKSUM}) AS BIGINT) "
            f"FROM {name}").fetchone()
        dg, groups = con.execute(agg_digest_sql(name)).fetchone()
        exp.update({f"{name}.rows": n, f"{name}.checksum": ck,
                    f"{name}.agg_digest": dg, f"{name}.agg_groups": groups})
    # user bytes: each value as the text a user would hand over
    # (numbers and timestamps as 8 bytes, strings as their UTF-8 bytes)
    strs = con.execute(
        "SELECT sum(strlen(o_orderstatus) + strlen(o_orderpriority) "
        "+ strlen(o_comment)) FROM base").fetchone()[0]
    exp["user_bytes"] = int(strs) + 4 * 8 * BULK_ORDERS
    with open(f"{out}/expected.tsv", "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in exp.items())


# ---- llm_pipeline -----------------------------------------------------

DEDUP_KEYS = ["q_dedup_exact", "q_dedup_minhash", "q_dedup_near_capped"]
TEXT_KEYS = ["q_text_novelty", "q_tok_vocab"]
SIM_KEYS = ["q_sim_ivf", "q_sim_knn", "q_sim_cosine_pairs"]
FAMILIES = {"dedup": DEDUP_KEYS, "text": TEXT_KEYS, "similarity": SIM_KEYS}


def build_corpus(out):
    """The fixed 50k-document, 20k-vector corpus, same schema and value
    ranges as the sf fixtures: text from the 31-word vocabulary,
    10-100 words; ~0.2% exact and ~1% one-word-edited copies of
    earlier documents so the dedup keys have work to find."""
    rng = np.random.default_rng(CORPUS_SEED)
    n = CORPUS_DOCS
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append([WORDS[w] for w in words[at:at + ln]])
        at += ln
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.002:
            texts[i] = list(texts[int(rng.integers(0, i))])
        elif kind[i] < 0.012:
            t = list(texts[int(rng.integers(0, i))])
            t[int(rng.integers(0, len(t)))] = WORDS[int(rng.integers(0, 31))]
            texts[i] = t
    langs = np.array(["en", "fr", "es", "zh", "de"])
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [" ".join(t) for t in texts],
        "lang": langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": rng.integers(47, 559, n).astype(np.int64),
    })
    write(docs, f"{out}/documents.parquet", row_group=131_072)
    vec = np.clip(rng.normal(0, 0.12, (CORPUS_VECS, CORPUS_DIM)), -0.33, 0.33)
    emb = pa.table({
        "vec_id": np.arange(CORPUS_VECS, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, CORPUS_VECS), pa.int32()),
    })
    write(emb, f"{out}/embeddings.parquet", row_group=131_072)


def corpus_fingerprint(corpus):
    h = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(f"{corpus}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def corpus_expected(corpus, oracle_json, out):
    """DuckDB runs each key's oracle SQL over the corpus; the rows are
    kept as parquet for the compare after each run."""
    oracle = json.load(open(oracle_json))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{out}.spill'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
    os.makedirs(out, exist_ok=True)
    for key in sum(FAMILIES.values(), []):
        pq.write_table(con.execute(oracle[key]).arrow(), f"{out}/{key}.parquet")


def llm_inputs(seed, rounds, out):
    """Per pass, the order in which the keys run, as `family:key`."""
    rng = np.random.default_rng([seed, 3])
    keys = sum(FAMILIES.values(), [])
    family = {k: f for f, ks in FAMILIES.items() for k in ks}
    with open(f"{out}/passes.tsv", "w") as f:
        for _ in range(rounds):
            f.write("\t".join(f"{family[k]}:{k}" for k in rng.permutation(keys)) + "\n")


def main():
    workload, seed, rounds, out = sys.argv[1], int(sys.argv[2]), \
        int(sys.argv[3]), sys.argv[4]
    os.makedirs(out, exist_ok=True)
    if workload == "kv_point":
        kv_inputs(seed, rounds, out)
    elif workload == "bulk_etl":
        bulk_inputs(seed, out)
    elif workload == "llm_pipeline":
        llm_inputs(seed, rounds, out)
        corpus = sys.argv[5]
        corpus_expected(corpus, f"{corpus}/oracle_sql.json", f"{out}/expected")
    else:
        sys.exit(f"unknown workload {workload}")


if __name__ == "__main__":
    main()
