"""Seeded input generator for the benchmark (a component separate from the
engine under test: the JVM side only ever sees the files written here).

Three kinds of input, all deterministic functions of their seed:

* ``fixtures``    -- a TPC-H-shaped star schema plus events, documents and
                     embeddings, with the same table names, column names and
                     parquet types as the engine's oracle fixtures, so
                     ``SparkEntry.queries`` run on it unchanged. Its seed is
                     fixed (the operator_mix hashes are pinned against it).
* ``daily drops`` -- raw CSV day-drops of lineitem joined to orders with
                     seeded defects: null keys, duplicate keys and junk
                     characters, counted in a manifest.
* ``backlog``     -- a snapshot of every customer followed by many small
                     change files with Zipf-skewed keys, redelivered
                     duplicates and null keys, counted in a manifest.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURE_SEED = 42
WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# characters junkCharacterRemoval strips: control and non-ASCII code points
JUNK = ["\x07", "\x1b", "ÿ", " "]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
# daily drops: shares of rows with a null key, re-sent with a duplicate
# key, and with a junk character in a text column
DROP_NULL_RATE, DROP_DUP_RATE, DROP_JUNK_RATE = 0.004, 0.008, 0.02
# change backlog: customers, the Zipf exponent of their change frequency,
# and shares of changes with a null key or delivered twice
N_CUST, ZIPF_S = 15000, 1.1
CHANGE_NULL_RATE, REDELIVER_RATE = 0.02, 0.05


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us, tz=None):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us", tz=tz))


def fixtures(out, scale):
    """The star schema at ``scale`` (1.0 = the 600k-lineitem sf0.1 size)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(15000 * scale), max(100, int(1000 * scale))
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                     "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
           f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
           f"{out}/supplier.parquet")
    adj = ["large", "hot", "small", "shiny", "dull"]
    noun = ["ring", "bolt", "gear", "pipe", "nut"]
    price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(pa.table({"p_partkey": np.arange(n_part, dtype=np.int64),
                     "p_name": [f"{adj[i % 5]} {noun[(i // 5) % 5]}" for i in range(n_part)],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                     "p_type": [["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"][t]
                                for t in rng.integers(0, 5, n_part)],
                     "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                     "p_retailprice": price}),
           f"{out}/part.parquet")
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
    _write(pa.table({"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": rng.integers(0, n_cust, n_ord),
                     "o_orderstatus": [["O", "F", "P"][s] for s in rng.integers(0, 3, n_ord)],
                     "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
                     "o_orderdate": pa.array(odate, pa.timestamp("us")),
                     "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]}),
           f"{out}/orders.parquet")
    li = _lines(rng, n_ord, n_part, n_supp, price)
    ship = odate[li["order"]] + rng.integers(1, 122, len(li["order"])) * np.timedelta64(1, "D")
    _write(pa.table({"l_orderkey": li["order"], "l_partkey": li["part"],
                     "l_suppkey": li["supp"],
                     # drawn 1..7 independently of position, as in the oracle
                     # fixtures: duplicates within an order are expected
                     "l_linenumber": rng.integers(1, 8, len(li["order"])).astype(np.int32),
                     "l_quantity": li["qty"], "l_extendedprice": li["ext"],
                     "l_discount": li["disc"], "l_tax": li["tax"],
                     "l_returnflag": [["R", "A", "N"][f] for f in li["flag"]],
                     "l_linestatus": [["O", "F"][s] for s in li["status"]],
                     "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
           f"{out}/lineitem.parquet")
    n_ev = int(100000 * scale)
    ts = np.cumsum(rng.integers(1, 60_000_000, n_ev)) + (EPOCH_1995 + np.timedelta64(10592, "D")).astype(np.int64)
    _write(pa.table({"event_id": np.arange(n_ev, dtype=np.int64), "ts": _ts(ts),
                     "user_id": rng.integers(0, 2000, n_ev),
                     "event_type": [["click", "error", "purchase", "signup", "view"][e]
                                    for e in rng.integers(0, 5, n_ev)],
                     "value": np.round(rng.uniform(0, 200, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
           f"{out}/events.parquet")
    _documents(rng, f"{out}/documents.parquet", max(500, int(5000 * scale)))
    n_emb = max(500, int(2000 * scale))
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({"vec_id": np.arange(n_emb, dtype=np.int64),
                     "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                     "label": labels.astype(np.int32)}),
           f"{out}/embeddings.parquet")


def _lines(rng, n_ord, n_part, n_supp, part_price):
    per = np.clip(rng.binomial(7, 0.5, n_ord) + 1, 1, 17)
    order = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n = len(order)
    part = rng.integers(0, n_part, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {"order": order, "part": part, "supp": rng.integers(0, n_supp, n),
            "lineno": (np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32),
            "qty": qty, "ext": np.round(qty * part_price[part], 2),
            "disc": rng.integers(0, 11, n) / 100.0, "tax": rng.integers(0, 9, n) / 100.0,
            "flag": rng.integers(0, 3, n), "status": rng.integers(0, 2, n)}


def _documents(rng, path, n):
    words = np.array(WORDS)
    texts, langs = [], []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            # near duplicate of an earlier document: one or two words edited
            t = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                t[int(rng.integers(0, len(t)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(t))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 96)))]))
        langs.append(["en", "en", "en", "es", "zh", "de", "fr"][int(rng.integers(0, 7))])
    _write(pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs,
                     "source": [f"src{i % 20}" for i in range(n)],
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
           path)


def daily_drops(out, seed, n_drops, rows):
    """``n_drops`` raw CSV day-drops of about ``rows`` lineitem rows joined
    to their orders. Each drop's manifest entry counts the defects injected.
    Headers are the upstream system's upper-case names; the job's metadata
    mapping renames and types them."""
    os.makedirs(out, exist_ok=True)
    manifest = []
    for d in range(n_drops):
        rng = np.random.default_rng([seed, 1, d])
        n_ord = rows // 5
        price = np.round(900 + rng.uniform(0, 100, 20000), 2)
        li = _lines(rng, n_ord, 20000, 1000, price)
        n = len(li["order"])
        cust = rng.integers(0, 15000, n_ord)[li["order"]]
        odate = (EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"))[li["order"]]
        prio = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)][li["order"]]
        flag = np.array(["R", "A", "N"], dtype=object)[li["flag"]]
        part = li["part"].astype(object)
        is_null = rng.random(n) < DROP_NULL_RATE
        part[is_null] = None
        # duplicates re-send a keyed row later (higher INGEST_SEQ) with a
        # corrected price: duplicateRecordCheck keeps the latest arrival
        dup_src = np.flatnonzero(~is_null & (rng.random(n) < DROP_DUP_RATE))
        idx = np.concatenate([np.arange(n), dup_src])
        ext = np.concatenate([li["ext"], np.round(li["ext"][dup_src] * 1.01, 2)])
        junk = rng.random(len(idx)) < DROP_JUNK_RATE
        prio_out = prio[idx].copy()
        for j in np.flatnonzero(junk):
            p = prio_out[j]
            k = int(rng.integers(0, len(p) + 1))
            prio_out[j] = p[:k] + JUNK[int(rng.integers(0, len(JUNK)))] + p[k:]
        seq = np.arange(len(idx), dtype=np.int64)
        order = rng.permutation(len(idx))
        table = pa.table({
            "L_ORDERKEY": li["order"][idx][order], "L_LINENUMBER": li["lineno"][idx][order],
            "L_PARTKEY": pa.array(part[idx][order], pa.int64()),
            "L_SUPPKEY": li["supp"][idx][order], "O_CUSTKEY": cust[idx][order],
            "L_QUANTITY": li["qty"][idx][order], "L_EXTENDEDPRICE": ext[order],
            "L_DISCOUNT": li["disc"][idx][order],
            "O_ORDERDATE": pa.array(odate[idx][order].astype("datetime64[D]")),
            "O_ORDERPRIORITY": prio_out[order], "L_RETURNFLAG": flag[idx][order],
            "INGEST_SEQ": seq[order]})
        path = f"{out}/drop_{d}.csv"
        pacsv.write_csv(table, path)
        manifest.append({"drop": d, "path": path, "rows": len(idx),
                         "null_keys": int(is_null.sum()), "duplicates": len(dup_src),
                         "junk_rows": int(junk.sum())})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def backlog(out, seed, n_files, rows_per_file):
    """File 0 is a snapshot of every customer; files 1..n_files each hold
    ``rows_per_file`` changes to distinct, Zipf-skewed customers. Event
    times rise strictly from file to file (one hour apart, spread over 30
    minutes within a file) and files carry strictly increasing mtimes, so
    arrival order is event-time order and nothing arrives late."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    weight = 1.0 / np.arange(1, N_CUST + 1) ** ZIPF_S
    weight = weight[rng.permutation(N_CUST)]
    weight /= weight.sum()
    acct = np.round(rng.uniform(-999, 9999, N_CUST), 2)
    seg = rng.integers(0, 5, N_CUST)
    nat = rng.integers(0, 25, N_CUST).astype(np.int32)
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    change_id, manifest = 0, []
    mtime0 = 1_700_000_000
    for f in range(n_files + 1):
        keys = np.arange(N_CUST) if f == 0 else np.sort(
            rng.choice(N_CUST, rows_per_file, replace=False, p=weight))
        if f > 0:
            # every change moves the balance, so each one opens a version
            acct[keys] = np.round(acct[keys] + rng.integers(1, 50000, len(keys)) / 100.0, 2)
            flip = rng.random(len(keys)) < 0.1
            seg[keys[flip]] = rng.integers(0, 5, int(flip.sum()))
        n = len(keys)
        ts = base + f * 3_600_000_000 + np.sort(rng.integers(0, 1_800_000_000, n))
        ids = np.arange(change_id, change_id + n, dtype=np.int64)
        change_id += n
        cust = keys.astype(object)
        nulls = np.zeros(n, bool) if f == 0 else rng.random(n) < CHANGE_NULL_RATE
        cust[nulls] = None
        redeliver = np.flatnonzero(~nulls & (rng.random(n) < REDELIVER_RATE)) if f else np.array([], int)
        idx = np.concatenate([np.arange(n), redeliver])
        table = pa.table({
            "cust_key": pa.array(cust[idx], pa.int64()), "change_id": ids[idx],
            # a UTC instant: Spark's event-time watermark needs TIMESTAMP, not NTZ
            "change_ts": _ts(ts[idx], "UTC"),
            "name": [f"Customer#{k:09d}" for k in keys[idx]],
            "segment": [SEGMENTS[s] for s in seg[keys][idx]],
            "nation_key": nat[keys][idx], "acctbal": acct[keys][idx]})
        path = f"{out}/chg_{f:06d}.parquet"
        _write(table, path)
        os.utime(path, (mtime0 + f, mtime0 + f))
        manifest.append({"file": f, "rows": len(idx), "null_keys": int(nulls.sum()),
                         "redelivered": len(redeliver)})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
