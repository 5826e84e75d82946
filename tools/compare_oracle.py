import duckdb, json, sys, glob
import pandas as pd

outdir, sfdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
matched = 0
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f'{name}: ORACLE SQL ERROR: {e}'); continue
    files = glob.glob(f'{outdir}/{name}/*.parquet')
    if not files:
        print(f'{name}: NO SPARK OUTPUT'); continue
    got = pd.concat([pd.read_parquet(f) for f in files])
    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(list(df.columns)).reset_index(drop=True)
    w, g = canon(want), canon(got)
    if list(w.columns) != list(g.columns):
        print(f'{name}: SCHEMA MISMATCH want={list(w.columns)} got={list(g.columns)}'); continue
    if len(w) != len(g):
        print(f'{name}: ROWCOUNT want={len(w)} got={len(g)}'); continue
    eq = w.equals(g)
    if not eq:
        diff = (w != g).any(axis=1)
        nd = int(diff.sum())
        print(f'{name}: VALUE MISMATCH rows={nd}/{len(w)}')
        if nd == 0:
            # Equal values, unequal column types (DataFrame.equals
            # compares dtypes): name each column's pair.
            for c in w.columns:
                print(f'  {c}: want={w[c].dtype} got={g[c].dtype}')
        else:
            print(pd.concat([w[diff].head(3).add_suffix('_want'), g[diff].head(3).add_suffix('_got')], axis=1))
    else:
        print(f'{name}: MATCH ({len(w)} rows)')
        matched += 1
# Every query that is not MATCH (oracle SQL error, no Spark output, a
# schema, row-count or value mismatch) fails the run.
print(f'{matched}/{len(oracle)} MATCH')
sys.exit(0 if matched == len(oracle) else 1)
