import duckdb, json, glob, os, sys, time
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
def norm(df):
    df = df[sorted(df.columns)]
    df = df.round(6) if any(df.dtypes == 'float64') else df
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)
equal = 0
total_s = 0.0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f'{out}/{name}/*.parquet')
    if not files:
        print(f'{name}: NO RESULT'); continue
    got = pd.concat([pd.read_parquet(f) for f in files])
    t0 = time.perf_counter()
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f'{name}: ORACLE ERROR {e}'); continue
    secs = time.perf_counter() - t0  # DuckDB time only
    total_s += secs
    g, e = norm(got), norm(exp)
    g.columns = [c.lower() for c in g.columns]; e.columns = [c.lower() for c in e.columns]
    rows = len(g) == len(e)
    cols = list(g.columns) == list(e.columns)
    match = False
    if rows and cols:
        try:
            ga = g.astype(str).values.tolist(); ea = e.astype(str).values.tolist()
            match = ga == ea
        except Exception as ex: match = f'cmp err {ex}'
    print(f'{name}: rows={len(g)}/{len(e)} rows_match={rows} cols_match={cols} values_match={match} secs={secs:.1f}')
    if rows and cols and match is True:
        equal += 1
    else:
        print('  got cols:', list(g.columns), 'exp cols:', list(e.columns))
        print('  got head:', g.head(3).values.tolist())
        print('  exp head:', e.head(3).values.tolist())
# a NO RESULT / ORACLE ERROR / mismatched row fails the run
print(f'{equal}/{len(oracle)} values-equal, {total_s:.1f} s in DuckDB')
sys.exit(0 if equal == len(oracle) else 1)
