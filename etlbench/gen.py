"""Seeded input generator for the benchmark workloads.

The base corpus mirrors the shape of the repository's fixture tables
(FIXTURES.md): a TPC-H-like star schema, an `events` stream, a `documents`
corpus over a 31-word vocabulary with planted near-duplicates, and 64-dim
float `embeddings`. The base rows come from a fixed seed, so every workload
seed sees the same base data; the workload seed drives what the workload
varies:

- `order`: every table is written with its rows in a seeded order (the
  result of every query is unchanged, the physical layout is not).
- `grow`: every table is grown ×factor the way `graft.tools.GrowCorpus`
  grows it (foreign keys kept by the same key strides), except that the
  copies are not duplicates of each other: document tokens get a per-copy
  suffix and each embedding copy gets seeded noise. The grown rows are then
  written in a seeded order.

Each table is one parquet file with one row group, like the fixture.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
US_PER_DAY = 86_400_000_000


def _ts(days_from, days_to, n, rng):
    """Whole-day timestamps uniform in [days_from, days_to] (epoch days)."""
    d = rng.integers(days_from, days_to + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def _epoch_day(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf):
    """The fixed base corpus at scale factor `sf`, as pyarrow tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_epoch_day(1995, 1, 1), _epoch_day(2001, 8, 1), n_ord, rng),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_epoch_day(1995, 1, 2), _epoch_day(2001, 11, 4), n_line, rng)})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + _epoch_day(2024, 1, 1) * US_PER_DAY
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    t["documents"] = _documents(n_doc, rng)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(rng.normal(0, 0.125, (n_emb, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _documents(n, rng):
    """Texts of 10..100 vocabulary words; 5% of documents are an earlier
    document's text plus a trailing ' dup' token (planted near-duplicates)."""
    plain = VOCAB[VOCAB != "dup"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(plain[rng.integers(0, len(plain), int(rng.integers(10, 101)))]))
    lang = np.array(["en", "en", "es", "fr", "zh", "de"])[rng.integers(0, 6, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def grow(t, factor, rng, tables):
    """×factor copies of `tables` with GrowCorpus's key strides; copies differ
    from each other (token suffix per document copy, seeded noise per vector
    copy)."""
    if factor == 1:
        return t
    out = dict(t)

    def stack(name, shift):
        if name in tables:
            out[name] = pa.concat_tables([t[name]] + [shift(t[name], c) for c in range(1, factor)])

    def add(col, k):
        return pc.add(col, pa.scalar(k, col.type))

    stack("customer", lambda x, c: x.set_column(0, "c_custkey", add(x["c_custkey"], c * 10**7)))
    stack("orders", lambda x, c: x.set_column(0, "o_orderkey", add(x["o_orderkey"], c * 10**10))
          .set_column(1, "o_custkey", add(x["o_custkey"], c * 10**7)))
    stack("lineitem", lambda x, c: x.set_column(0, "l_orderkey", add(x["l_orderkey"], c * 10**10)))
    ev_ts = t["events"]["ts"].cast(pa.int64()).to_numpy()
    span_days = int((ev_ts.max() - ev_ts.min()) // US_PER_DAY) + 2
    stack("events", lambda x, c: x.set_column(0, "event_id", add(x["event_id"], c * 10**10))
          .set_column(1, "ts", pa.array(ev_ts + c * span_days * US_PER_DAY, pa.timestamp("us"))))

    def doc_copy(x, c):
        txt = [" ".join(w + f"_{c}" for w in s.split(" ")) for s in x["text"].to_pylist()]
        return (x.set_column(0, "doc_id", add(x["doc_id"], c * 10**7))
                .set_column(1, "text", pa.array(txt))
                .set_column(4, "n_chars", pa.array([len(s) for s in txt], pa.int64())))
    stack("documents", doc_copy)

    vecs = np.stack(t["embeddings"]["embedding"].to_numpy(zero_copy_only=False))

    def emb_copy(x, c):
        noisy = (vecs + rng.normal(0, 0.1, vecs.shape)).astype(np.float32)
        return (x.set_column(0, "vec_id", add(x["vec_id"], c * 10**7))
                .set_column(1, "embedding", pa.array(list(noisy), pa.list_(pa.float32()))))
    stack("embeddings", emb_copy)
    return out


def generate(out_dir, seed, sf, factor, tables):
    """Writes `tables` to `out_dir`/<table>.parquet and returns
    {table: {"rows", "bytes", "files"}}."""
    rng = np.random.default_rng([BASE_SEED, seed])
    data = grow(base_tables(sf), factor, rng, tables)
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name in tables:
        tb = data[name]
        tb = tb.take(pa.array(rng.permutation(tb.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb, path, row_group_size=max(1, tb.num_rows))
        stats[name] = {"rows": tb.num_rows, "bytes": os.path.getsize(path), "files": 1}
    return stats
