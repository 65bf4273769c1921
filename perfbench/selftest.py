#!/usr/bin/env python3
"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py [--workload NAME ...]

For each workload: one real run (seed 1) whose outputs are kept; its checker
must accept them. Then each planted corruption is applied to a fresh copy of
those outputs, and the checker must reject every copy. Corruptions: a
dropped row, a changed amount, a duplicated key, and (curation) a document
accepted twice. Exits 1 if any checker accepts a corrupted copy or rejects
the real output.
"""
import argparse
import glob
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def _rewrite(path, fn):
    """Replace the parquet file at `path` with fn(its table)."""
    t = pq.read_table(path)
    pq.write_table(fn(t), path)


def _first(pattern):
    files = sorted(f for f in glob.glob(pattern, recursive=True, include_hidden=True)
                   if pq.read_metadata(f).num_rows > 1)
    if not files:
        raise SystemExit(f"selftest: no data file matches {pattern}")
    return files[0]


def drop_row(t):
    return t.slice(1)


def dup_row(t):
    return pa.concat_tables([t, t.slice(0, 1)])


def change(column, fn):
    def apply(t):
        i = t.schema.get_field_index(column)
        vals = t.column(i).to_pylist()
        j = next(k for k, v in enumerate(vals) if v is not None)
        vals[j] = fn(vals[j])
        return t.set_column(i, t.schema.field(i), pa.array(vals, type=t.schema.field(i).type))
    return apply


def accepted_twice(root):
    """Copy the first accepted document of the first batch into a later
    batch's accepted delta."""
    _, tables = checks.manifest(root)
    deltas = tables["accepted_docs"]
    first, later = _first(f"{deltas[0]}/*.parquet"), _first(f"{deltas[-1]}/*.parquet")
    row = pq.read_table(first).slice(0, 1)
    _rewrite(later, lambda t: pa.concat_tables([t, row.select(t.column_names).cast(t.schema)]))


def corruptions(workload, run_dir, res):
    """(name, function applying it to a copy of the run directory)."""
    if workload == "ingest_cycles":
        root = res["reports"]["cycles"][0]["root"]
        cust = f"{root}/misa_customers/**/*.parquet"
        sale = f"{root}/misa_sale_orders_flattened/**/*.parquet"
        return [
            ("dropped row", lambda d: _rewrite(_first(_moved(cust, run_dir, d)), drop_row)),
            ("changed amount", lambda d: _rewrite(_first(_moved(sale, run_dir, d)),
                                                  change("item_price", lambda v: v + 1.0))),
            ("duplicated key", lambda d: _rewrite(_first(_moved(cust, run_dir, d)), dup_row)),
        ]
    if workload == "backfill_merge":
        table = f"{res['reports']['rounds'][0]['path']}/*.parquet"
        return [
            ("dropped row", lambda d: _rewrite(_first(_moved(table, run_dir, d)), drop_row)),
            ("changed amount", lambda d: _rewrite(_first(_moved(table, run_dir, d)),
                                                  change("l_extendedprice", lambda v: v + 0.01))),
            ("duplicated key", lambda d: _rewrite(_first(_moved(table, run_dir, d)), dup_row)),
        ]
    if workload == "curation_stream":
        root = res["reports"]["batches"][0]["root"]
        docs = f"{root}/accepted_docs/**/*.parquet"
        return [
            ("dropped row", lambda d: _rewrite(_first(_moved(docs, run_dir, d)), drop_row)),
            ("changed amount", lambda d: _rewrite(_first(_moved(docs, run_dir, d)),
                                                  change("n_chars", lambda v: v - 1))),
            ("duplicated key", lambda d: _rewrite(_first(_moved(docs, run_dir, d)), dup_row)),
            ("document accepted twice", lambda d: accepted_twice(_moved(root, run_dir, d))),
        ]
    if workload == "etl_queries":
        out = f"{run_dir}/etl/r0/q01_pricing_summary/*.parquet"
        return [
            ("dropped row", lambda d: _rewrite(_first(_moved(out, run_dir, d)), drop_row)),
            ("changed amount", lambda d: _rewrite(_first(_moved(out, run_dir, d)),
                                                  change("sum_qty", lambda v: v + 1.0))),
            ("duplicated key", lambda d: _rewrite(_first(_moved(out, run_dir, d)), dup_row)),
        ]
    raise ValueError(workload)


def _moved(path, run_dir, copy):
    return path.replace(run_dir, copy, 1)


def _relocate(res, run_dir, copy):
    return json.loads(json.dumps(res).replace(run_dir, copy))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", nargs="*", default=sorted(run.gen.GENERATORS))
    a = ap.parse_args()
    bad = 0
    declared = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(declared):
        with open(declared) as f:
            b = json.load(f)
        for key, names in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            same = [m["name"] for m in b[key]] == names
            print(f"BENCHMARK.json {key:10s} {'matches run.py' if same else 'DIFFERS from run.py'}")
            bad += not same
    for w in a.workload:
        out, run_dir = run.execute(w, 1, 1, 0, keep=True)
        try:
            with open(f"{run_dir}/result.json") as f:
                res = json.load(f)
            ok = out["correct"]
            print(f"{w:16s} real output       {'accepted' if ok else 'REJECTED'}")
            bad += not ok
            for name, corrupt in corruptions(w, run_dir, res):
                copy = run_dir + ".corrupt"
                shutil.rmtree(copy, ignore_errors=True)
                shutil.copytree(run_dir, copy)
                try:
                    corrupt(copy)
                    errors, _ = checks.CHECKS[w](copy, _relocate(res, run_dir, copy))
                finally:
                    shutil.rmtree(copy, ignore_errors=True)
                print(f"{w:16s} {name:17s} {'rejected: ' + errors[0] if errors else 'ACCEPTED'}")
                bad += not errors
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest", "passed" if bad == 0 else f"FAILED ({bad})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
