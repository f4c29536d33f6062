"""Local replica of the driver's correctness gate: run graft.Verify, then
compare each query's parquet output against its DuckDB oracle SQL —
columns sorted by name, rows fully sorted, values compared exactly.

Usage: python3 tools/check_oracle.py [sfDir] [outDir] [--against otherOutDir]
(run `sbt -batch "runMain graft.Verify <sfDir> <outDir>"` first)

With --against, each query's output in outDir is compared with the same
query's output in otherOutDir (another graft.Verify run, e.g. of the parent
commit) by the same exact comparison, instead of with the oracle; the
reports then show that run's values as `duck`. It also lists the
oracle_sql.json keys whose SQL text differs between the two runs (added,
removed or changed); that list is a report only and does not count as a
failure.
"""
import duckdb, json, sys, os, math

against = None
if '--against' in sys.argv:
    i = sys.argv.index('--against')
    against = sys.argv[i + 1]
    del sys.argv[i:i + 2]
sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

con = duckdb.connect()
for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']:
    p = f'{sf}/{t}.parquet'
    if os.path.exists(p):
        con.sql(f"create view {t} as select * from '{p}'")

oracle = json.load(open(f'{out}/oracle_sql.json'))
fails = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f'{out}/{name}'
    if not os.path.isdir(spark_dir):
        print(f'{name}: MISSING spark output'); fails += 1; continue
    try:
        if against:
            duck = con.sql(f"select * from '{against}/{name}/*.parquet'").df()
        else:
            duck = con.sql(sql).df()
    except Exception as e:
        src = 'AGAINST OUTPUT' if against else 'ORACLE SQL'
        print(f'{name}: {src} ERROR: {e}'); fails += 1; continue
    spark = con.sql(f"select * from '{spark_dir}/*.parquet'").df()
    dcols, scols = sorted(duck.columns), sorted(spark.columns)
    if dcols != scols:
        print(f'{name}: SCHEMA MISMATCH duck={dcols} spark={scols}'); fails += 1; continue
    if len(duck) != len(spark):
        print(f'{name}: ROWCOUNT duck={len(duck)} spark={len(spark)}'); fails += 1; continue
    d = duck[dcols].sort_values(dcols).reset_index(drop=True)
    s = spark[scols].sort_values(scols).reset_index(drop=True)
    bad = 0
    for c in dcols:
        dv, sv = d[c].values, s[c].values
        # vectorized fast path (NaN == NaN accepted); fall into the
        # per-value loop only to report the first mismatches
        try:
            import numpy as np
            eqv = (dv == sv)
            if eqv.dtype == bool:
                both_nan = np.zeros(len(dv), dtype=bool)
                if dv.dtype.kind == 'f' and sv.dtype.kind == 'f':
                    both_nan = np.isnan(dv.astype('float64')) & np.isnan(sv.astype('float64'))
                if bool(np.all(eqv | both_nan)):
                    continue
        except Exception:
            pass
        for i in range(len(dv)):
            a, b = dv[i], sv[i]
            eq = (a == b) or (isinstance(a, float) and isinstance(b, float)
                              and math.isnan(a) and math.isnan(b))
            if not eq:
                if bad < 3:
                    print(f'{name}: VALUE DIFF col={c} row={i}: duck={a!r} spark={b!r}')
                bad += 1
    if bad:
        print(f'{name}: {bad} value diffs'); fails += 1
    else:
        print(f'{name}: OK ({len(duck)} rows, cols {scols})')
if against and os.path.exists(f'{against}/oracle_sql.json'):
    other = json.load(open(f'{against}/oracle_sql.json'))
    changed = sorted(k for k in oracle.keys() | other.keys()
                     if oracle.get(k) != other.get(k))
    for k in changed:
        how = ('ADDED' if k not in other else 'REMOVED' if k not in oracle
               else 'CHANGED')
        print(f'{k}: ORACLE SQL {how}')
    print(f'ORACLE SQL DIFFERS: {len(changed)} key(s)', *changed)
print('FAILURES:', fails)
sys.exit(1 if fails else 0)
