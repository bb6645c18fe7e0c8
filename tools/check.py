#!/usr/bin/env python
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs after `tools/run.sh graft.Verify <sfDir> <outDir>`:
  python tools/check.py <sfDir> <outDir> [name1,name2,...]

For every query parquet in outDir: if oracle_sql.json has SQL for it, run the
SQL in DuckDB (tables = the sfDir parquet files), sort both results by all
columns (column order = sorted names), and compare values row by row.
With the optional comma-separated list, compare exactly those queries (a
listed name with no result dir fails), e.g. after a Verify run narrowed by
SPARK_GRAFT_VERIFY_ONLY to the same list.
"""
import sys, os, json, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(round(v, 9))
    return str(v)

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    # an oracle whose result dir is missing means the query CRASHED at build
    # time — that must fail loudly, not vanish from the report
    missing = sorted((set(oracles) if only is None else only) - set(names))
    if only is not None:
        names = [n for n in names if n in only]
    n_pass = n_fail = n_rowsonly = 0
    for name in missing:
        print(f"  FAIL       {name} no result written (query crashed during Verify)")
        n_fail += 1
    for name in names:
        spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        cols = sorted(spark_rel.columns)
        spark_rows = con.sql(
            f"SELECT {', '.join(cols)} FROM spark_rel ORDER BY ALL").fetchall()
        if name not in oracles:
            if len(spark_rows) > 0:
                n_rowsonly += 1
                print(f"  ROWS-ONLY  {name} rows={len(spark_rows)}")
            else:
                n_fail += 1
                print(f"  FAIL       {name} rows-only query returned 0 rows")
            continue
        try:
            oracle_all = con.sql(oracles[name])
            # the real driver converts oracle results via pandas/arrow, where
            # HUGEINT becomes float64 ("3.0" != "3") — fail loudly here so an
            # uncast sum(int)/list_sum never reaches the driver (bit us in r1)
            huge = [c for c, t in zip(oracle_all.columns, oracle_all.types)
                    if str(t) in ("HUGEINT", "UHUGEINT")]
            if huge:
                print(f"  FAIL       {name} HUGEINT oracle columns {huge}: add CAST(... AS BIGINT)")
                n_fail += 1
                continue
            ocols = sorted(oracle_all.columns)
            if ocols != cols:
                print(f"  FAIL       {name} schema: spark={cols} oracle={ocols}")
                n_fail += 1
                continue
            oracle_rows = con.sql(
                f"SELECT {', '.join(cols)} FROM oracle_all ORDER BY ALL").fetchall()
        except Exception as e:
            print(f"  FAIL       {name} oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        if len(oracle_rows) != len(spark_rows):
            print(f"  FAIL       {name} rowcount: spark={len(spark_rows)} oracle={len(oracle_rows)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(spark_rows, oracle_rows)):
            if tuple(map(norm, a)) != tuple(map(norm, b)):
                bad = (i, a, b)
                break
        if bad:
            print(f"  FAIL       {name} row {bad[0]}: spark={bad[1]} oracle={bad[2]}")
            n_fail += 1
        else:
            print(f"  PASS       {name} rows={len(spark_rows)}")
            n_pass += 1
    print(f"== pass={n_pass} fail={n_fail} rows_only={n_rowsonly}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    only = ({n.strip() for n in sys.argv[3].split(",") if n.strip()}
            if len(sys.argv) > 3 else None)
    sys.exit(main(sys.argv[1], sys.argv[2], only))
