"""Independent checks of a run's outputs.

Each checker recomputes what the program should have produced from the
generated inputs alone (plain Python and DuckDB, never the program's code
and never a stored copy of an earlier output) and compares it with what the
run left on disk and with what the program reported. A checker returns a
list of error strings (empty = correct) and a dict of counts the run
reports (rows delivered, postings rows, ...).

The traps a checker must respect (see README.md):
  - the TikTok key includes etl_batch_id, so a re-delivered TikTok order
    lands again in every cycle that delivers it;
  - sale-order money lands as DOUBLE: compare per key at cent precision;
  - the lookback filter keeps NULL timestamps;
  - corpus containment is against the best single committed document.
"""
import glob
import json
import math
import os
import re
from collections import defaultdict
from datetime import datetime, timezone

import duckdb

import gen

MISA_KEYS = {"misa_sale_orders_flattened": ("order_id", "item_id"),
             "misa_customers": ("id",), "misa_contacts": ("id",),
             "misa_stocks": ("stock_code",), "misa_products": ("id",)}
TIKTOK = "tiktok_shop_orders"


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _files(dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(d, "*.parquet")))
    return out


def manifest(root, version=None):
    """{table: [delta dirs]} of the given (default: latest) manifest version,
    read straight from the JSON-lines manifest files."""
    mdir = os.path.join(root, "_graft_manifest")
    versions = sorted(int(m.group(1)) for m in
                      (re.fullmatch(r"manifest-v(\d{12})\.json", n) for n in os.listdir(mdir)) if m)
    v = versions[-1] if version is None else version
    tables = defaultdict(list)
    if v == 0:
        return 0, tables
    with open(os.path.join(mdir, f"manifest-v{v:012d}.json")) as f:
        for line in f:
            if line.strip():
                e = json.loads(line)
                tables[e["table"]].append(os.path.join(root, e["delta"]))
    return v, tables


def _bytes(paths):
    return sum(os.path.getsize(p) for p in paths)


def _max_deltas(root):
    _, tables = manifest(root)
    return max((len(v) for v in tables.values()), default=0)


def _ts(iso):
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)


# --- ingest_cycles --------------------------------------------------------------
def expected_ingest(inp):
    """Keys, prices and TikTok row counts the cycles must commit, from the
    delivered JSON documents alone."""
    cycles = []
    with open(f"{inp}/cycles.tsv") as f:
        for line in f:
            c, cutoff = line.rstrip("\n").split("\t")
            cycles.append((int(c), _ts(cutoff)))
    keys = {t: set() for t in MISA_KEYS}
    prices = {}  # (order_id, item_id) -> delivered price string
    tiktok_rows, delivered = 0, 0
    for c, cutoff in cycles:
        d = f"{inp}/c{c:03d}"
        for table, key in MISA_KEYS.items():
            with open(f"{d}/{table}.jsonl") as f:
                for line in f:
                    doc = json.loads(line)
                    delivered += 1
                    ts = doc.get("modified_date")
                    if ts is not None and _ts(ts) < cutoff:
                        continue  # the lookback drops it; NULL is kept
                    if table == "misa_sale_orders_flattened":
                        for it in doc["sale_order_product_mappings"]:
                            keys[table].add((doc["id"], it["id"]))
                            prices[(doc["id"], it["id"])] = it["price"]
                    else:
                        keys[table].add(tuple(doc[k] for k in key))
        with open(f"{d}/tiktok.jsonl") as f:
            for line in f:
                doc = json.loads(line)
                delivered += 1
                if doc.get("order_id") is not None:
                    tiktok_rows += max(1, len(doc.get("line_items") or []))
    return {"cycles": len(cycles), "keys": keys, "prices": prices,
            "tiktok_rows": tiktok_rows, "delivered": delivered}


def check_ingest(run_dir, result, con=None):
    con = con or _con()
    exp = expected_ingest(f"{run_dir}/input/ingest_cycles")
    errors = []
    reports = result["reports"]["cycles"]
    for rep in reports:
        tag = f"round {rep['round']} cycle {rep['cycle']}"
        if not rep["quality_passed"]:
            errors.append(f"{tag}: quality gate failed")
        if rep["alerts"]:
            errors.append(f"{tag}: monitor alerts {rep['alerts']}")
        if rep["version"] != rep["cycle"] + 1:
            errors.append(f"{tag}: cycle committed version {rep['version']}")
    roots = sorted({r["root"] for r in reports})
    for root in roots:
        version, tables = manifest(root)
        if version != exp["cycles"]:
            errors.append(f"{root}: manifest version {version} != {exp['cycles']} cycles")
        for table, key in MISA_KEYS.items():
            files = _files(tables.get(table, []))
            want = exp["keys"][table]
            if not files:
                errors.append(f"{table}: nothing committed")
                continue
            cols = ", ".join(key)
            got = con.execute(f"SELECT {cols} FROM read_parquet(?, union_by_name=true)", [files]).fetchall()
            gotset = {tuple(r) for r in got}
            if len(got) != len(want):
                errors.append(f"{table}: {len(got)} committed rows, {len(want)} distinct delivered keys pass the lookback")
            if len(gotset) != len(got):
                errors.append(f"{table}: {len(got) - len(gotset)} duplicated keys")
            if gotset != want:
                errors.append(f"{table}: key sets differ ({len(gotset - want)} unexpected, {len(want - gotset)} missing)")
        # sale-order prices, per key at cent precision
        files = _files(tables.get("misa_sale_orders_flattened", []))
        if files:
            rows = con.execute("SELECT order_id, item_id, item_price FROM read_parquet(?, union_by_name=true)",
                               [files]).fetchall()
            bad_null = bad_value = missing_null = 0
            for o, i, p in rows:
                s = exp["prices"].get((o, i))
                if s is None:
                    continue
                if s in gen.BAD_PRICES:
                    if p is not None:
                        missing_null += 1
                elif p is None:
                    bad_null += 1
                elif round(p * 100) != round(float(s) * 100):
                    bad_value += 1
            if bad_null:
                errors.append(f"sale orders: {bad_null} parseable prices landed as NULL")
            if missing_null:
                errors.append(f"sale orders: {missing_null} planted unparseable prices did not land as NULL")
            if bad_value:
                errors.append(f"sale orders: {bad_value} prices differ from the delivered value")
        files = _files(tables.get(TIKTOK, []))
        n = con.execute("SELECT count(*) FROM read_parquet(?, union_by_name=true)", [files]).fetchone()[0] if files else 0
        if n != exp["tiktok_rows"]:
            errors.append(f"{TIKTOK}: {n} rows, {exp['tiktok_rows']} line items delivered over the cycles")
    inp = f"{run_dir}/input/ingest_cycles"
    return errors, {"rows_per_round": exp["delivered"],
                    "input_bytes": _bytes(glob.glob(f"{inp}/c*/*.jsonl")),
                    "deltas_per_table": _max_deltas(roots[-1]) if roots else 0,
                    "alerts": sum(len(r["alerts"]) for r in reports)}


# --- backfill_merge ---------------------------------------------------------------
def check_backfill(run_dir, result, con=None):
    con = con or _con()
    inp = f"{run_dir}/input/backfill_merge"
    deliveries = sorted(glob.glob(f"{inp}/w*.parquet"))
    errors = []
    per_window = [con.execute("SELECT count(*) FROM read_parquet(?)", [f]).fetchone()[0] for f in deliveries]
    # The value each key must hold: the one from its latest window.
    con.execute("""CREATE OR REPLACE TEMP TABLE latest AS
        SELECT l_orderkey, l_linenumber, arg_max(l_quantity, "window") AS q,
               arg_max(l_extendedprice, "window") AS p, max("window") AS w
        FROM read_parquet(?) GROUP BY l_orderkey, l_linenumber""", [deliveries])
    n_keys = con.execute("SELECT count(*) FROM latest").fetchone()[0]
    for rnd in result["reports"]["rounds"]:
        tag = f"round {rnd['round']}"
        counts = [w["rows"] for w in rnd["windows"]]
        if counts != per_window:
            errors.append(f"{tag}: runBackfill window counts {counts} != delivered {per_window}")
        files = _files([rnd["path"]])
        if not files:
            errors.append(f"{tag}: no staging table at {rnd['path']}")
            continue
        n, distinct = con.execute("""SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber))
            FROM read_parquet(?)""", [files]).fetchone()
        if n != n_keys:
            errors.append(f"{tag}: {n} rows, {n_keys} distinct keys delivered")
        if distinct != n:
            errors.append(f"{tag}: {n - distinct} duplicated keys")
        wrong = con.execute("""SELECT count(*) FROM latest l FULL OUTER JOIN read_parquet(?) t
            USING (l_orderkey, l_linenumber)
            WHERE t.l_quantity IS DISTINCT FROM l.q
               OR round(t.l_extendedprice * 100) IS DISTINCT FROM round(l.p * 100)
               OR t."window" IS DISTINCT FROM l.w""", [files]).fetchone()[0]
        if wrong:
            errors.append(f"{tag}: {wrong} keys do not hold the value of their latest window")
    return errors, {"rows_per_round": sum(per_window), "input_bytes": _bytes(deliveries)}


# --- curation_stream ------------------------------------------------------------------
def grams(text, n=3):
    """Distinct word n-grams under Dedup.tokens' whitespace tokenization
    (split on runs of whitespace after trimming spaces)."""
    toks = re.split(r"\s+", text.strip(" "))
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard_pairs(sets, threshold):
    """Pairs (a, b) of keys of `sets` whose Jaccard similarity reaches
    `threshold`, found through an inverted gram index."""
    index = defaultdict(list)
    for k, g in sets.items():
        for x in g:
            index[x].append(k)
    shared = defaultdict(int)
    for ks in index.values():
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                shared[(ks[i], ks[j])] += 1
    return [(a, b) for (a, b), s in shared.items()
            if s / (len(sets[a]) + len(sets[b]) - s) >= threshold]


def check_curation(run_dir, result, con=None):
    con = con or _con()
    inp = f"{run_dir}/input/curation_stream/files"
    batches = []
    for f in sorted(glob.glob(f"{inp}/batch-*.parquet")):
        batches.append({r[0]: (r[1], r[2]) for r in
                        con.execute("SELECT doc_id, text, n_chars FROM read_parquet(?)", [f]).fetchall()})
    reports = result["reports"]["batches"]
    errors = []
    cfg_n, thr = 3, 0.5
    total_postings = 0
    by_round = defaultdict(list)
    for r in reports:
        by_round[r["round"]].append(r)
    for rnd, reps in sorted(by_round.items()):
        tag = f"round {rnd}"
        if len(reps) != len(batches):
            errors.append(f"{tag}: {len(reps)} micro-batches for {len(batches)} files")
            continue
        root = reps[0]["root"]
        final_v, final = manifest(root)
        committed = {}  # doc_id -> grams, of everything committed so far
        prev_deltas = set()
        acc_total = 0
        for k, (rep, docs) in enumerate(zip(reps, batches)):
            bt = f"{tag} batch {k}"
            surv = rep["gated_quality"] - rep["media_rejected"] - rep["in_batch_dups"]
            if not (rep["received"] >= rep["gated_quality"] >= surv >= rep["accepted"] >= 0
                    and surv - rep["corpus_near_dups"] == rep["accepted"]):
                errors.append(f"{bt}: stage counts do not telescope {rep}")
            if rep["received"] != len(docs):
                errors.append(f"{bt}: received {rep['received']} of {len(docs)} documents")
            accepted = {}
            if rep["version"] is not None:
                _, tables = manifest(root, rep["version"])
                new = [d for d in tables.get("accepted_docs", []) if d not in prev_deltas]
                prev_deltas |= set(tables.get("accepted_docs", []))
                for doc_id, text, n_chars in con.execute(
                        "SELECT doc_id, text, n_chars FROM read_parquet(?)", [_files(new)]).fetchall():
                    if doc_id in accepted or doc_id in committed:
                        errors.append(f"{bt}: document {doc_id} accepted twice")
                    accepted[doc_id] = (text, n_chars)
            if len(accepted) != rep["accepted"]:
                errors.append(f"{bt}: {len(accepted)} committed rows, report says {rep['accepted']}")
            for d, (text, n_chars) in accepted.items():
                if docs.get(d) != (text, n_chars):
                    errors.append(f"{bt}: document {d} is not the delivered one")
                elif n_chars < 100:
                    errors.append(f"{bt}: document {d} with n_chars {n_chars} passed the quality gate")
            if k == len(batches) - 1 and rep["accepted"] != 0:
                errors.append(f"{bt}: the replayed batch accepted {rep['accepted']}")
            # Near-duplicate rules, recomputed over gram strings.
            gated = {d: grams(t, cfg_n) for d, (t, n) in docs.items() if n >= 100}
            in_batch = _jaccard_pairs(gated, thr)
            for a, b in in_batch:
                if a in accepted and b in accepted:
                    errors.append(f"{bt}: accepted {a} and {b} reach Jaccard {thr}")
            paired = {x for p in in_batch for x in p}
            contained = _contained(gated, committed, thr)
            for d in gated:
                if d in accepted and d in contained:
                    errors.append(f"{bt}: accepted {d} reaches containment {thr} against a committed document")
                if d not in accepted and d not in committed and d not in paired and d not in contained:
                    errors.append(f"{bt}: document {d} has no near-duplicate but was not accepted")
            for d, (t, _) in accepted.items():
                committed[d] = grams(t, cfg_n)
            acc_total += len(accepted)
        files = _files(final.get("accepted_docs", []))
        n_rows, n_ids = con.execute("SELECT count(*), count(DISTINCT doc_id) FROM read_parquet(?)",
                                    [files]).fetchone() if files else (0, 0)
        if n_rows != acc_total or n_ids != n_rows:
            errors.append(f"{tag}: {n_rows} committed rows ({n_ids} distinct ids), batches accepted {acc_total}")
        files = _files(final.get("gram_postings", []))
        postings = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0] if files else 0
        want = sum(len(g) for g in committed.values())
        if postings != want:
            errors.append(f"{tag}: {postings} postings rows, accepted documents hold {want} distinct 3-grams")
        total_postings = postings
    received = sum(len(b) for b in batches)
    accepted = sum(r["accepted"] for r in reports if r["round"] == max(by_round, default=0))
    last_root = reports[-1]["root"] if reports else None
    return errors, {"rows_per_round": received, "postings_rows": total_postings,
                    "received": received, "accepted": accepted,
                    "input_bytes": _bytes(glob.glob(f"{inp}/batch-*.parquet")),
                    "deltas_per_table": _max_deltas(last_root) if last_root else 0}


def _contained(batch, committed, thr):
    """Batch documents whose gram set is at least `thr` contained in one
    single committed document."""
    index = defaultdict(list)
    for k, g in committed.items():
        for x in g:
            index[x].append(k)
    out = set()
    for d, g in batch.items():
        if not g:
            continue
        shared = defaultdict(int)
        for x in g:
            for k in index.get(x, ()):
                shared[k] += 1
        if shared and max(shared.values()) / len(g) >= thr:
            out.add(d)
    return out


# --- etl_queries -------------------------------------------------------------------
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    return (type(v).__name__, str(v))


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare(con, result_dir, oracle_rel):
    """None when the written result matches the oracle the way the
    repository's oracle gate compares (sorted column names, a pandas
    stringified frame compare, then a canonical row multiset compare),
    else the reason it does not."""
    files = _files([result_dir])
    if not files:
        return "no result written"
    o_cols, o_rows, o_df = oracle_rel
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    s_cols, s_rows, s_df = list(rel.columns), rel.fetchall(), rel.fetchdf()
    if sorted(s_cols) != sorted(o_cols):
        return f"schema {sorted(s_cols)} != {sorted(o_cols)}"
    cols = sorted(s_cols)
    sa = s_df[cols].sort_values(cols).astype(str).values.tolist()
    ob = o_df[cols].sort_values(cols).astype(str).values.tolist()
    if sa != ob:
        return f"frames differ ({len(sa)} vs {len(ob)} rows)"
    if rowset(s_cols, s_rows) != rowset(o_cols, o_rows):
        return f"values differ ({len(s_rows)} vs {len(o_rows)} rows)"
    return None


def check_etl(run_dir, result, con=None):
    con = con or _con()
    tables = f"{run_dir}/input/etl_queries"
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    with open(f"{run_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    names = result["reports"]["queries"]
    rounds = sorted({o["round"] for o in result["ops"]})
    errors, rows = [], 0
    failed = {(f["round"], f["query"]) for f in result["reports"]["failures"]}
    for name in names:
        if name not in oracles:
            errors.append(f"{name}: no oracle SQL")
            continue
        try:
            rel = con.sql(oracles[name])
            oracle = (list(rel.columns), rel.fetchall(), con.sql(oracles[name]).fetchdf())
        except Exception as e:  # noqa: BLE001 - any oracle failure is reported
            errors.append(f"{name}: oracle error {e}")
            continue
        for r in rounds:
            if (r, name) in failed:
                continue  # counted in `failed`, not a wrong result
            why = compare(con, f"{run_dir}/etl/r{r}/{name}", oracle)
            if why:
                errors.append(f"{name} round {r}: {why}")
            else:
                rows += len(oracle[1])
    return errors, {"rows_per_round": rows / max(1, len(rounds)),
                    "input_bytes": _bytes(glob.glob(f"{tables}/*.parquet"))}


CHECKS = {"ingest_cycles": check_ingest, "backfill_merge": check_backfill,
          "curation_stream": check_curation, "etl_queries": check_etl}


def expectations(workload, inp):
    """What a run on the inputs in `inp` (as gen.py writes them) must
    produce, derived from the inputs alone."""
    con = _con()
    if workload == "ingest_cycles":
        e = expected_ingest(inp)
        return {"cycles": e["cycles"], "tiktok_rows": e["tiktok_rows"],
                "keys": {t: len(k) for t, k in e["keys"].items()},
                "null_prices": sum(1 for p in e["prices"].values() if p in gen.BAD_PRICES)}
    if workload == "backfill_merge":
        files = sorted(glob.glob(f"{inp}/w*.parquet"))
        return {"window_rows": [con.execute("SELECT count(*) FROM read_parquet(?)", [f]).fetchone()[0]
                                for f in files],
                "distinct_keys": con.execute("""SELECT count(*) FROM (SELECT DISTINCT l_orderkey,
                    l_linenumber FROM read_parquet(?))""", [files]).fetchone()[0]}
    if workload == "curation_stream":
        out = []
        for f in sorted(glob.glob(f"{inp}/files/batch-*.parquet")):
            docs = con.execute("SELECT doc_id, text, n_chars FROM read_parquet(?)", [f]).fetchall()
            gated = {d: grams(t) for d, t, n in docs if n >= 100}
            out.append({"received": len(docs), "gated_quality": len(gated),
                        "jaccard_pairs": len(_jaccard_pairs(gated, 0.5))})
        return {"batches": out}
    raise ValueError(f"no input-derived expectations for {workload}")


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3:
        sys.exit("usage: checks.py <workload> <input dir written by gen.py>")
    print(json.dumps(expectations(sys.argv[1], sys.argv[2]), indent=1))
