"""Seeded input generator for the pipeline benchmark.

Every input of a run comes from `--seed` through one numpy PCG64 stream per
workload, so the same seed gives byte-identical inputs. The sizes are fixed
constants (not seeded), so every seed asks the program for the same amount
of work; only contents and order vary.

Tables follow the synthetic TPC-H-ish star schema the repository's queries
read (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): same column names, parquet physical types and value
domains. Pipeline inputs are derived from those tables:

  ingest_cycles   MISA endpoint JSON documents (sale orders with nested
                  items, customers, contacts, stocks, products) plus TikTok
                  order documents, one window per 10-minute cycle.
  backfill_merge  flattened line items (lineitem joined to orders), one
                  parquet file per 30-day window.
  curation_stream documents in a seeded order, split into equal files,
                  plus one replayed file.
  etl_queries     the ten tables themselves.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes -----------------------------------------------------------------
# The tables are generated at scale factor SF_TABLES for etl_queries. The
# pipeline inputs draw their rows from sf0.1-shaped tables (SF_PIPE).
SF_TABLES = 0.002
SF_PIPE = 0.1

INGEST_CYCLES = 2            # cycles per round (one fresh root per round)
INGEST_NEW = 140              # fresh documents per endpoint per cycle
INGEST_REDELIVER = 30         # documents re-delivered from the previous window
INGEST_STALE = 8              # documents older than the lookback cutoff
INGEST_NULL_TS = 4            # documents with a NULL modified_date
INGEST_TIKTOK_ORDERS = 60     # TikTok order documents per cycle
INGEST_TIKTOK_REDELIVER = 12  # of which re-delivered from the previous cycle
INGEST_BAD_PRICE_SHARE = 0.03 # sale-order items whose price is unparseable
CYCLE_MINUTES = 10
LOOKBACK_MINUTES = 15
BAD_PRICES = ["n/a", "", "12,50", "1.2.3", "abc", "--"]

BACKFILL_WINDOWS = 6
BACKFILL_DAYS = 30
BACKFILL_ROWS = 40000         # rows per window
BACKFILL_REDELIVER = 0.15     # share of a window's keys changed in the next
BACKFILL_FROM = dt.date(1995, 1, 1)

CURATION_FILES = 2            # equal files; the stream adds one replayed file
CURATION_NEAR_DUP = 0.06      # share of documents that are 1-2 word edits
CURATION_EXACT_DUP = 0.002    # share that are exact copies
CURATION_WARM_DOCS = 500      # documents in the warm pass's one file

VOCAB = ["a", "the", "batch", "row", "sort", "query", "filter", "hash", "key",
         "group", "agg", "join", "scan", "order", "value", "window", "fast",
         "vector", "small", "table", "data", "stream", "slow", "part",
         "column", "customer", "merge", "spark", "line", "big", "index"]

EPOCH = dt.datetime(1970, 1, 1)


def rng_for(seed, workload):
    tag = sum(ord(c) * (i + 1) for i, c in enumerate(workload))
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _ts_us(days_from_epoch):
    return pa.array(np.asarray(days_from_epoch, dtype=np.int64) * 86400_000_000,
                    type=pa.timestamp("us"))


def _days(d):
    return (dt.datetime(d.year, d.month, d.day) - EPOCH).days


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- base tables ----------------------------------------------------------
def tpch(rng, sf):
    """The star schema at scale factor `sf`, as numpy column dicts."""
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "red", "green", "large", "small", "hot", "cold", "shiny"]
    noun = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}
    ok = np.arange(n_ord, dtype=np.int64)
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    odate = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, max(n_cust, 1), n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is
    # unique, which the backfill's MERGE key relies on.
    nlines = rng.integers(1, 8, n_ord)
    lok = np.repeat(ok, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lnum = (np.arange(lok.size) - starts + 1).astype(np.int32)
    n_li = lok.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, max(n_part, 1), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(n_supp, 1), n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": odate[lok] + rng.integers(1, 122, n_li)}
    return t


def events(rng, sf):
    n = int(1000000 * sf)
    start = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1_000_000)
    ts = np.sort(rng.integers(start, start + 30 * 86400 * 1_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(15000 * sf), 1), n).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}


def documents(rng, n):
    """`n` documents over a 31-word vocabulary: random texts of 8-95 words,
    plus planted near-duplicates (1-2 word substitutions of an earlier
    document) and a few exact copies. Words are joined by single spaces,
    so whitespace tokenization is unambiguous."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < CURATION_EXACT_DUP:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < CURATION_EXACT_DUP + CURATION_NEAR_DUP:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, vocab.size)])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, vocab.size, int(rng.integers(8, 96)))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh", "en"], n),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}


def embeddings(rng, sf):
    n = int(20000 * sf)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.3, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, 64))).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels}


def _arrow(cols, date_cols=()):
    out = {}
    for k, v in cols.items():
        out[k] = _ts_us(v) if k in date_cols else v
    return pa.table(out)


# --- etl_queries ------------------------------------------------------------
def gen_tables(seed, out):
    rng = rng_for(seed, "etl_queries")
    t = tpch(rng, SF_TABLES)
    for name, cols in t.items():
        _write(_arrow(cols, ("o_orderdate", "l_shipdate")), f"{out}/{name}.parquet")
    _write(pa.table(events(rng, SF_TABLES)), f"{out}/events.parquet")
    _write(pa.table(documents(rng, int(50000 * SF_TABLES))), f"{out}/documents.parquet")
    _write(pa.table(embeddings(rng, SF_TABLES)), f"{out}/embeddings.parquet")
    return {"rows": {n: len(next(iter(c.values()))) for n, c in t.items()}}


# --- ingest_cycles ------------------------------------------------------------
def _iso(minutes):
    t = dt.datetime(2025, 6, 1) + dt.timedelta(minutes=float(minutes))
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _money(x):
    return f"{x:.2f}"


class _Endpoint:
    """Builds one MISA endpoint's documents from base-table rows."""

    def __init__(self, name, make):
        self.name, self.make, self.next = name, make, 0

    def fresh(self, n):
        docs = [self.make(self.next + i) for i in range(n)]
        self.next += n
        return docs


def gen_ingest(seed, out):
    rng = rng_for(seed, "ingest_cycles")
    t = tpch(rng, SF_PIPE)
    cust, supp, part = t["customer"], t["supplier"], t["part"]
    orders, li = t["orders"], t["lineitem"]
    # line items of order k: li rows [first[k], first[k] + cnt[k])
    cnt = np.bincount(li["l_orderkey"], minlength=orders["o_orderkey"].size)
    first = np.cumsum(cnt) - cnt
    n_cust, n_supp, n_part = cust["c_custkey"].size, supp["s_suppkey"].size, part["p_partkey"].size

    def customer(i):
        c = i % n_cust
        return {"id": int(i), "account_name": str(cust["c_name"][c]),
                "account_number": f"ACC{i:07d}",
                "annual_revenue": _money(abs(float(cust["c_acctbal"][c])) * 1000),
                "debt": _money(max(0.0, -float(cust["c_acctbal"][c]))),
                "number_orders": int(rng.integers(0, 50)),
                "billing_lat": round(float(rng.uniform(8, 23)), 5),
                "inactive": bool(rng.random() < 0.1),
                "is_personal": bool(rng.random() < 0.5),
                "created_date": _iso(-100000 + i)}

    def contact(i):
        c = (i * 7) % n_cust
        return {"id": int(1_000_000 + i), "contact_name": f"Contact {i}",
                "account_name": str(cust["c_name"][c]),
                "email": f"contact{i}@example.com",
                "total_score": int(rng.integers(0, 100)),
                "email_opt_out": bool(rng.random() < 0.2),
                "created_date": _iso(-90000 + i)}

    def stock(i):
        s = i % n_supp
        return {"stock_code": f"STK{i:06d}", "stock_name": str(supp["s_name"][s]),
                "description": f"warehouse of nation {int(supp['s_nationkey'][s])}",
                "inactive": bool(rng.random() < 0.05),
                "created_date": _iso(-80000 + i)}

    def product(i):
        p = i % n_part
        return {"id": int(2_000_000 + i), "product_code": f"P{int(part['p_partkey'][p]):06d}",
                "product_name": str(part["p_name"][p]),
                "unit_price": _money(float(part["p_retailprice"][p])),
                "unit_cost": _money(float(part["p_retailprice"][p]) * 0.7),
                "is_public": bool(rng.random() < 0.8),
                "created_date": _iso(-70000 + i)}

    bad = []  # (order_id, item_id) whose price string is unparseable

    def sale_order(i):
        k = int(orders["o_orderkey"][i])
        items = []
        for j in range(int(first[k]), int(first[k] + cnt[k])):
            price = float(li["l_extendedprice"][j]) / float(li["l_quantity"][j])
            if rng.random() < INGEST_BAD_PRICE_SHARE:
                ps = BAD_PRICES[int(rng.integers(0, len(BAD_PRICES)))]
                bad.append((k, j))
            else:
                ps = _money(price)
            items.append({"id": int(j), "product_code": f"P{int(li['l_partkey'][j]):06d}",
                          "quantity": int(li["l_quantity"][j]), "price": ps,
                          "amount": _money(float(li["l_extendedprice"][j])),
                          "discount_rate": float(li["l_discount"][j]),
                          "is_promotion": bool(li["l_discount"][j] >= 0.08)})
        return {"id": k, "sale_order_no": f"SO-{k:08d}",
                "account_name": str(cust["c_name"][int(orders["o_custkey"][i]) % n_cust]),
                "sale_order_amount": _money(float(orders["o_totalprice"][i])),
                "status": str(orders["o_orderstatus"][i]),
                "sale_order_date": _iso(int(orders["o_orderdate"][i]) * 1440 - 28_900_000),
                "sale_order_product_mappings": items}

    endpoints = [_Endpoint("misa_sale_orders_flattened", sale_order),
                 _Endpoint("misa_customers", customer),
                 _Endpoint("misa_contacts", contact),
                 _Endpoint("misa_stocks", stock),
                 _Endpoint("misa_products", product)]
    tiktok = _Endpoint("tiktok", lambda i: _tiktok_doc(rng, orders, li, first, cnt,
                                                        orders["o_orderkey"].size - 1 - i))

    lookback = LOOKBACK_MINUTES
    cycles = []
    prev = {e.name: [] for e in endpoints}
    prev_tt = []
    for c in range(INGEST_CYCLES):
        w0 = c * CYCLE_MINUTES
        cutoff = w0 - lookback
        cyc = {"cycle": c, "cutoff": _iso(cutoff), "endpoints": {}}
        for e in endpoints:
            fresh = e.fresh(INGEST_NEW)
            for d in fresh:
                d["modified_date"] = _iso(w0 + rng.uniform(0, CYCLE_MINUTES))
            # re-deliveries: previous window's documents still inside the lookback
            inside = [d for d in prev[e.name] if d["modified_date"] is not None
                      and d["modified_date"] >= _iso(cutoff)]
            pick = rng.permutation(len(inside))[:INGEST_REDELIVER]
            redeliver = [inside[int(p)] for p in sorted(pick)]
            stale = e.fresh(INGEST_STALE)
            for d in stale:  # older than the cutoff: the lookback drops them
                d["modified_date"] = _iso(cutoff - rng.uniform(1, 600))
            nullts = e.fresh(INGEST_NULL_TS)
            for d in nullts:  # fail-open: kept whatever the cutoff
                d["modified_date"] = None
            docs = fresh + redeliver + stale + nullts
            order = rng.permutation(len(docs))
            docs = [docs[int(o)] for o in order]
            cyc["endpoints"][e.name] = docs
            prev[e.name] = fresh + nullts
        fresh_tt = tiktok.fresh(INGEST_TIKTOK_ORDERS - INGEST_TIKTOK_REDELIVER)
        pick = rng.permutation(len(prev_tt))[:INGEST_TIKTOK_REDELIVER] if prev_tt else []
        tt = fresh_tt + [prev_tt[int(p)] for p in sorted(pick)]
        cyc["tiktok"] = [tt[int(o)] for o in rng.permutation(len(tt))]
        prev_tt = fresh_tt
        cycles.append(cyc)

    os.makedirs(out, exist_ok=True)
    with open(f"{out}/cycles.tsv", "w") as f:
        for cyc in cycles:
            f.write(f"{cyc['cycle']}\t{cyc['cutoff']}\n")
    for cyc in cycles:
        d = f"{out}/c{cyc['cycle']:03d}"
        os.makedirs(d, exist_ok=True)
        for name, docs in list(cyc["endpoints"].items()) + [("tiktok", cyc["tiktok"])]:
            with open(f"{d}/{name}.jsonl", "w") as f:
                for doc in docs:
                    f.write(json.dumps(doc, separators=(",", ":")) + "\n")
    n_docs = sum(len(v) for c in cycles for v in c["endpoints"].values()) + \
        sum(len(c["tiktok"]) for c in cycles)
    return {"cycles": len(cycles), "docs": n_docs, "bad_prices": len(bad)}


def _tiktok_doc(rng, orders, li, first, cnt, i):
    k = int(orders["o_orderkey"][i])
    n_items = int(cnt[k]) if rng.random() > 0.05 else 0  # some orders carry no items
    items = []
    for j in range(int(first[k]), int(first[k]) + n_items):
        items.append({
            "product_id": f"{int(li['l_partkey'][j])}", "product_name": f"part {int(li['l_partkey'][j])}",
            "sku_id": f"{j}", "sku_info": {"sku_image": "img", "sku_name": f"sku {j}",
                                           "sales_attributes": [{"name": "line", "value": str(int(li["l_linenumber"][j]))}]},
            "quantity": str(int(li["l_quantity"][j])),
            "unit_price": _money(float(li["l_extendedprice"][j]) / float(li["l_quantity"][j])),
            "currency": "VND", "is_gift": bool(li["l_discount"][j] == 0.0),
            "platform_discount": _money(float(li["l_discount"][j]) * 10),
            "seller_discount": "0"})
    create = 1_700_000_000 + k * 37
    return {"order_id": f"TT{k:010d}", "order_status": str(orders["o_orderstatus"][i]),
            "create_time": create, "update_time": create + 60,
            "payment_method": "CCDC", "warehouse_id": f"W{k % 7}",
            "order_amount": {"currency": "VND", "total_amount": _money(float(orders["o_totalprice"][i])),
                             "shipping_fee": "5.00", "tax_amount": "0", "seller_discount": "0",
                             "original_shipping_fee": "5.00", "original_total_product_price": "0",
                             "shipping_fee_platform_discount": "0", "shipping_fee_seller_discount": "0",
                             "subtotal_after_seller_discounts": "0"},
            "recipient_address": {"detail": f"{k % 300} Main St", "region_code": "VN",
                                  "city": f"City {k % 40}", "zipcode": f"{70000 + k % 999}",
                                  "name": f"Buyer {int(orders['o_custkey'][i])}"},
            "line_items": items}


# --- backfill_merge -----------------------------------------------------------
def gen_backfill(seed, out):
    """BACKFILL_WINDOWS files of BACKFILL_ROWS flattened line items. Keys
    (l_orderkey, l_linenumber) are unique within a window; a
    BACKFILL_REDELIVER share of each window's keys comes back in the next
    window with l_quantity + 1 and l_extendedprice scaled by 1.0x-1.09x."""
    rng = rng_for(seed, "backfill_merge")
    t = tpch(rng, SF_PIPE)
    o, li = t["orders"], t["lineitem"]
    n_li = li["l_orderkey"].size
    perm = rng.permutation(n_li)
    redeliver_n = int(BACKFILL_ROWS * BACKFILL_REDELIVER)
    used = 0
    carry = None  # indices + mutated values re-delivered from the last window
    os.makedirs(out, exist_ok=True)
    windows = []
    for w in range(BACKFILL_WINDOWS):
        n_fresh = BACKFILL_ROWS - (0 if carry is None else carry[0].size)
        idx = perm[used:used + n_fresh]
        used += n_fresh
        qty = li["l_quantity"][idx].copy()
        price = li["l_extendedprice"][idx].copy()
        if carry is not None:
            idx = np.concatenate([idx, carry[0]])
            qty = np.concatenate([qty, carry[1]])
            price = np.concatenate([price, carry[2]])
        ok = li["l_orderkey"][idx]
        start = BACKFILL_FROM + dt.timedelta(days=w * BACKFILL_DAYS)
        cols = {
            "l_orderkey": ok, "l_linenumber": li["l_linenumber"][idx],
            "l_partkey": li["l_partkey"][idx], "l_suppkey": li["l_suppkey"][idx],
            "l_quantity": qty, "l_extendedprice": price,
            "l_discount": li["l_discount"][idx], "l_tax": li["l_tax"][idx],
            "l_returnflag": li["l_returnflag"][idx], "l_linestatus": li["l_linestatus"][idx],
            "l_shipdate": _ts_us(_days(start) + rng.integers(0, BACKFILL_DAYS, idx.size)),
            "o_custkey": o["o_custkey"][ok], "o_orderstatus": o["o_orderstatus"][ok],
            "o_totalprice": o["o_totalprice"][ok], "o_orderpriority": o["o_orderpriority"][ok],
            "o_orderdate": _ts_us(o["o_orderdate"][ok]),
            "window": np.full(idx.size, w, dtype=np.int32)}
        order = rng.permutation(idx.size)
        tbl = pa.table({k: (v.take(pa.array(order)) if isinstance(v, pa.Array) else v[order])
                        for k, v in cols.items()})
        path = f"{out}/w{w:03d}.parquet"
        _write(tbl, path)
        windows.append((start.isoformat(), idx.size))
        pick = rng.permutation(idx.size)[:redeliver_n]
        carry = (idx[pick], qty[pick] + 1.0,
                 np.round(price[pick] * (1.0 + rng.integers(1, 10, pick.size) / 100.0), 2))
    end = BACKFILL_FROM + dt.timedelta(days=BACKFILL_WINDOWS * BACKFILL_DAYS)
    with open(f"{out}/windows.tsv", "w") as f:
        for start, n in windows:
            f.write(f"{start}\t{n}\n")
        f.write(f"{end.isoformat()}\t0\n")
    return {"windows": len(windows), "rows": sum(n for _, n in windows)}


# --- curation_stream -----------------------------------------------------------
def gen_curation(seed, out):
    """sf0.1 documents in a seeded order, split into CURATION_FILES equal
    files, then a copy of one earlier file (seeded) as the last file."""
    rng = rng_for(seed, "curation_stream")
    n = int(50000 * SF_PIPE)
    docs = documents(rng, n)
    order = rng.permutation(n)
    per = n // CURATION_FILES
    files = []
    base = 1_700_000_000
    for f in range(CURATION_FILES):
        idx = order[f * per:(f + 1) * per]
        tbl = pa.table({"doc_id": docs["doc_id"][idx], "text": docs["text"][idx],
                        "n_chars": docs["n_chars"][idx]})
        files.append(tbl)
    replay = int(rng.integers(0, CURATION_FILES))
    files.append(files[replay])
    # files/ is the timed stream; warm/ holds the head of its first file for
    # the untimed warm pass.
    for sub, batch in (("files", files), ("warm", [files[0].slice(0, CURATION_WARM_DOCS)])):
        os.makedirs(f"{out}/{sub}", exist_ok=True)
        for f, tbl in enumerate(batch):
            path = f"{out}/{sub}/batch-{f:03d}.parquet"
            pq.write_table(tbl, path)
            # the file source orders by modification time: one second apart
            os.utime(path, (base + f, base + f))
    return {"files": len(files), "docs": per * CURATION_FILES, "replay_of": replay}


GENERATORS = {"ingest_cycles": gen_ingest, "backfill_merge": gen_backfill,
              "curation_stream": gen_curation, "etl_queries": gen_tables}


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py <{'|'.join(GENERATORS)}> <seed> <out dir>")
    print(GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3]))
