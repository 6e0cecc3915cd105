#!/usr/bin/env python3
"""Self-check harness: replicate the correctness gate — run each
oracle_sql in DuckDB over the same parquet tables and compare to the
graft.Verify parquet dumps (schema, rows, values).

Usage:
  selfcheck.py <sfDir> <verifyOutDir>
      oracle mode: every query of oracle_sql.json against DuckDB.
  selfcheck.py --compare <verifyOutA> <verifyOutB>
      compare mode: two Verify dumps (e.g. two commits) query by query,
      order-insensitively — schema, row count and a digest of the sorted
      rows, floats exact — so the rows-only queries, which have no
      oracle, are covered too.
"""
import sys, os, json, glob, hashlib
import duckdb
import pyarrow.parquet as pq


def dump_digest(con, res_dir):
    """(schema, rows, digest) of one query's dump, or None if absent:
    columns sorted by name, rows serialized and sorted, then hashed."""
    files = sorted(glob.glob(f"{res_dir}/*.parquet"))
    if not files:
        return None
    t = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    cols = sorted(t.column_names)
    schema = [(c, str(t.schema.field(c).type)) for c in cols]
    rows = sorted(repr([r[c] for c in cols]) for r in t.select(cols).to_pylist())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return schema, len(rows), h


def compare(dir_a, dir_b):
    con = duckdb.connect()
    names = sorted({os.path.basename(os.path.dirname(f))
                    for d in (dir_a, dir_b) for f in glob.glob(f"{d}/*/*.parquet")})
    diffs = 0
    for name in names:
        a = dump_digest(con, f"{dir_a}/{name}")
        b = dump_digest(con, f"{dir_b}/{name}")
        if a is None or b is None:
            print(f"DIFF {name}: missing in {'A' if a is None else 'B'}"); diffs += 1
        elif a[0] != b[0]:
            print(f"DIFF {name}: schema {a[0]} vs {b[0]}"); diffs += 1
        elif a[1:] != b[1:]:
            print(f"DIFF {name}: rows {a[1]} digest {a[2]} vs rows {b[1]} digest {b[2]}")
            diffs += 1
        else:
            print(f"SAME {name}: {a[1]} rows digest {a[2]}")
    print(f"\n{len(names) - diffs}/{len(names)} queries identical")
    sys.exit(1 if diffs else 0)


if sys.argv[1] == "--compare":
    compare(sys.argv[2], sys.argv[3])

sf_dir, out_dir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for t in ("events", "lineitem", "orders", "customer", "supplier", "part",
          "nation", "region", "documents", "embeddings"):
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark result"); fails += 1; continue
    spark_df = con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    try:
        duck_df = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue

    s_cols = sorted(spark_df.column_names)
    d_cols = sorted(duck_df.column_names)
    if s_cols != d_cols:
        print(f"FAIL {name}: cols {s_cols} vs {d_cols}"); fails += 1; continue
    # The driver's hash is representation-sensitive: a DuckDB DECIMAL
    # (window sum(BIGINT) -> DECIMAL(38,0); any decimal output) hashes
    # differently from Spark's int64/double even when values are equal.
    # Treat arrow-type divergence, or any decimal column, as a failure.
    # int-width divergence (int32 vs int64) is provably hash-safe
    # (ts_collapse_month was green in r05 with it); decimals are not.
    type_bad = []
    for c in s_cols:
        st = str(spark_df.schema.field(c).type)
        dt = str(duck_df.schema.field(c).type)
        if st.startswith("decimal") or dt.startswith("decimal"):
            type_bad.append(f"{c}: spark={st} duck={dt} — driver-unsafe decimal")
    if type_bad:
        print(f"FAIL {name}: arrow types {'; '.join(type_bad)}"); fails += 1
        continue
    if spark_df.num_rows != duck_df.num_rows:
        print(f"FAIL {name}: rows {spark_df.num_rows} vs {duck_df.num_rows}")
        fails += 1; continue

    # order-insensitive value compare (mimic driver: sort cols by name,
    # sort rows, compare values)
    import pandas as pd
    sp = spark_df.select(s_cols).to_pandas().sort_values(s_cols).reset_index(drop=True)
    dp = duck_df.select(d_cols).to_pandas().sort_values(d_cols).reset_index(drop=True)
    mismatch = None
    for c in s_cols:
        a, b = sp[c], dp[c]
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            import numpy as np
            bad = ~(np.isclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9)
                    | (a.isna() & b.isna()))
        else:
            bad = ~((a == b) | (a.isna() & b.isna()))
        if bad.any():
            i = bad.idxmax()
            mismatch = f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r} ({int(bad.sum())} diffs)"
            break
    if mismatch:
        print(f"FAIL {name}: {mismatch}"); fails += 1
    else:
        print(f"OK   {name}: {spark_df.num_rows} rows")

print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
