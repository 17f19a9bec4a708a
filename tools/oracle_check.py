#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify first,
then compare each spark parquet result against the DuckDB oracle SQL.

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir>
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_df(df):
    df = df[sorted(df.columns)]
    # normalize values to strings for exact compare
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(repr(v) for v in tup))
    rows.sort()
    return list(df.columns), rows


def connect(sfdir):
    """A fresh in-memory DuckDB connection with the sf tables as views.

    One thread: run multi-threaded, the heaviest oracle (q63) makes DuckDB
    map tens of thousands of memory regions, up to the kernel's per-process
    limit (vm.max_map_count, 65530), and closing the connection does not
    unmap them, so it or a later query fails with "bad allocation". On
    one thread the same oracle stays at a few hundred maps.
    """
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main(outdir, sfdir):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    all_queries = sorted(
        d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d)))
    for name in all_queries:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no spark output parquet")
            n_fail += 1
            continue
        # one connection per query: no state carries from one oracle to
        # the next
        con = connect(sfdir)
        try:
            sdf = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
            if name not in oracle:
                print(f"[rows] {name}: rows={len(sdf)} (no oracle, rows-only)")
                continue
            try:
                odf = con.sql(oracle[name]).df()
            except Exception as e:
                print(f"[FAIL] {name}: oracle SQL error: {e}")
                n_fail += 1
                continue
        finally:
            con.close()
        scols, srows = norm_df(sdf)
        ocols, orows = norm_df(odf)
        if scols != ocols:
            print(f"[FAIL] {name}: schema mismatch spark={scols} oracle={ocols}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"[FAIL] {name}: row count spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            continue
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b]
        if diffs:
            print(f"[FAIL] {name}: {len(diffs)} differing rows; first: spark={diffs[0][0]} oracle={diffs[0][1]}")
            n_fail += 1
        else:
            print(f"[PASS] {name}: {len(srows)} rows")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, "
          f"{len(all_queries) - n_pass - n_fail} rows-only ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
