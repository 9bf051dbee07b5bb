#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: run each oracle SQL in DuckDB
against the same parquet testdata and compare with the Spark output that
graft.Verify dumped. Usage:

    python3 tools/selfcheck.py <sfDir> <verifyOutDir> [<verifyOutDir2> ...]

Run `sbt "runMain graft.Verify <sfDir> <outDir>"` first — once per
parallelism config. With MORE THAN ONE out dir the checker also compares
every Spark output against the first one BIT-EXACT (all queries,
including rows-only ones that have no oracle): a distributed engine's
results must be invariant to the partition count, and a single-config
gate is strictly weaker than a driver running at a different width
(round 3 shipped o43 red exactly this way — green at local[4], red at
the driver's local[32] on a partition-order float tie). Use
tools/sweep.sh to produce the 4- and 32-partition outputs and run this.

The oracle half needs the duckdb Python package; the partition sweep and
the rows-only counts read the dumps with pyarrow and need no DuckDB.
Without duckdb the checker prints `oracle: not run (duckdb not installed)`
and runs the rest. Exit codes: 0 every check ran and passed, 1 a check
failed, 3 the checks that ran passed but the oracle did not run — so an
offline run never reads as oracle-green.
Not part of the engine — builder-side verification tooling only.
"""
import glob
import json
import math
import os
import struct
import sys

EXIT_ORACLE_NOT_RUN = 3

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_duckdb():
    """The duckdb module, or None when it is not installed."""
    try:
        import duckdb
    except ImportError:
        return None
    return duckdb


def connect(duckdb, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# Oracle-schema type gate (round-10 ask #2): the driver's hash gate
# compares TYPED values as pandas sees them, so a DuckDB HUGEINT (int128,
# from an uncast SUM(BIGINT); pandas dtype float64) vs Spark's int64
# passes the value compare below but goes red at the driver (round-9
# x66) — while DECIMAL vs DOUBLE (both float64 in pandas) hashes equal
# and is fine. Enforce equality of the PANDAS dtype each DuckDB type
# coerces to, per column, whenever either side is numeric.
_PANDAS_DTYPE = {
    "TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
    "BIGINT": "int64", "HUGEINT": "float64",
    "UTINYINT": "uint8", "USMALLINT": "uint16", "UINTEGER": "uint32",
    "UBIGINT": "uint64", "UHUGEINT": "float64",
    "FLOAT": "float32", "DOUBLE": "float64",
}


def _pandas_dtype(t):
    if t.startswith("DECIMAL"):
        return "float64"
    return _PANDAS_DTYPE.get(t)


def parquet_types(duckdb, d):
    """Spark output schema as DuckDB sees the parquet files."""
    rows = duckdb.connect().execute(
        f"DESCRIBE SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()
    return {r[0]: r[1] for r in rows}


def type_problems(spark_types, oracle_types):
    problems = []
    for c in sorted(set(spark_types) & set(oracle_types)):
        st, ot = spark_types[c], oracle_types[c]
        sd, od = _pandas_dtype(st), _pandas_dtype(ot)
        if (sd is not None or od is not None) and sd != od:
            problems.append(
                f"col {c}: TYPE mismatch spark={st} ({sd}) oracle={ot} ({od}) "
                f"(driver hash gate compares typed values — cast the oracle)")
    return problems


def norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    return df


def compare(name, spark_df, oracle_df, other_label="oracle"):
    problems = []
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns differ: spark={sc} {other_label}={oc}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(
            f"row count differs: spark={len(spark_df)} {other_label}={len(oracle_df)}")
        return problems
    s, o = norm(spark_df), norm(oracle_df)
    for c in s.columns:
        sv, ov = s[c], o[c]
        try:
            import pandas.api.types as pt
            if pt.is_numeric_dtype(sv) and pt.is_numeric_dtype(ov):
                # BIT-EXACT, like the driver's hash gate: any tolerance here
                # is strictly weaker than the driver and can mask real
                # divergence (round 2 shipped a -0.0 vs +0.0 failure that
                # |a-b| <= 1e-9 called equal). NaN==NaN allowed; -0.0 != +0.0.
                bad = 0
                first = None
                for a, b in zip(sv.astype(float), ov.astype(float)):
                    an, bn = math.isnan(a), math.isnan(b)
                    if an and bn:
                        continue
                    if an != bn or struct.pack("<d", a) != struct.pack("<d", b):
                        bad += 1
                        if first is None:
                            first = (a, b)
                if bad:
                    problems.append(
                        f"col {c}: {bad} numeric mismatches "
                        f"(first: spark={first[0]!r} {other_label}={first[1]!r})")
            else:
                neq = (sv.astype(str) != ov.astype(str))
                if neq.any():
                    i = neq.idxmax()
                    problems.append(
                        f"col {c}: {int(neq.sum())} mismatches "
                        f"(row {i}: spark={sv[i]!r} {other_label}={ov[i]!r})")
        except Exception as e:
            problems.append(f"col {c}: compare error {e}")
    return problems


def sort_rows(df):
    """Deterministic row order for spark-vs-spark compare: sort by the repr
    of every column (repr of a float keeps full precision; arrays/structs
    become their string form). Queries are fully ORDER BY'd already, so
    this only defends rows-only outputs without a total order."""
    if len(df) == 0 or len(df.columns) == 0:
        return df.reset_index(drop=True)
    keys = [tuple(repr(v) for v in row) for row in df.itertuples(index=False)]
    order = sorted(range(len(keys)), key=lambda i: keys[i])
    return df.iloc[order].reset_index(drop=True)


def read_spark(duckdb, d):
    return duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{d}/*.parquet')").df()


def read_dump(d):
    """One Verify dump through pyarrow, for the checks that need no
    DuckDB. Values stay Python objects (to_pylist), so an array column's
    str() is its full contents, never numpy's '...' summary."""
    import pandas as pd
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files in {d}")
    table = pq.read_table(files)
    return pd.DataFrame(table.to_pylist(), columns=table.column_names)


def main():
    sf_dir, out_dirs = sys.argv[1], sys.argv[2:]
    base_dir = out_dirs[0]
    with open(os.path.join(base_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    duckdb = load_duckdb()
    if duckdb is None:
        print("oracle: not run (duckdb not installed)")
    else:
        con = connect(duckdb, sf_dir)
    spark_results = {}
    for name in sorted(os.listdir(base_dir)):
        d = os.path.join(base_dir, name)
        if os.path.isdir(d):
            spark_results[name] = d
    n_pass = n_fail = n_noracle = 0
    for name, d in spark_results.items():
        if name not in oracles:
            n_noracle += 1
            n_rows = len(read_dump(d))
            print(f"[rows-only] {name}: {n_rows} rows (no oracle)")
            if n_rows == 0:
                print(f"  !! WARNING: 0 rows")
            continue
        if duckdb is None:
            continue
        spark_df = read_spark(duckdb, d)
        try:
            rel = con.sql(oracles[name])
            oracle_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
            oracle_df = rel.df()
        except Exception as e:
            n_fail += 1
            print(f"[FAIL] {name}: oracle SQL error: {e}")
            continue
        problems = compare(name, spark_df, oracle_df)
        problems += type_problems(parquet_types(duckdb, d), oracle_types)
        if problems:
            n_fail += 1
            print(f"[FAIL] {name}:")
            for p in problems:
                print(f"   {p}")
        else:
            n_pass += 1
            print(f"[ok]   {name}: {len(spark_df)} rows match")
    missing = set(oracles) - set(spark_results)
    for name in sorted(missing):
        n_fail += 1
        print(f"[FAIL] {name}: oracle present but no spark output")

    # Parallelism-invariance sweep: every extra out dir must match the
    # first one bit-exactly on EVERY query (oracle-checked or not). The
    # query universe is the UNION across all out dirs plus the oracle
    # keys — iterating only the base dir would let a query that crashed
    # at the base config (graft.Verify catches per-query errors and
    # continues) vanish from the gate entirely.
    n_sweep_fail = 0
    universe = set(spark_results) | set(oracles)
    for other in out_dirs[1:]:
        for name in sorted(os.listdir(other)):
            if os.path.isdir(os.path.join(other, name)):
                universe.add(name)
    base_missing = universe - set(spark_results)
    for name in sorted(base_missing):
        if name not in oracles:  # oracle-backed ones already failed above
            n_fail += 1
            print(f"[FAIL] {name}: missing from base dir {base_dir}")
    for other in out_dirs[1:]:
        label = os.path.basename(other.rstrip("/")) or other
        # base-missing names were flagged once above — re-reporting them
        # per extra dir would count one defect N times
        for name in sorted(universe - base_missing):
            d, od = os.path.join(base_dir, name), os.path.join(other, name)
            if not os.path.isdir(od):
                n_sweep_fail += 1
                print(f"[SWEEP FAIL] {name}: missing in {other}")
                continue
            a, b = sort_rows(read_dump(d)), sort_rows(read_dump(od))
            problems = compare(name, a, b, other_label=label)
            if problems:
                n_sweep_fail += 1
                print(f"[SWEEP FAIL] {name}: outputs differ across partition configs:")
                for p in problems:
                    print(f"   {p}")
    if out_dirs[1:]:
        print(f"sweep: {len(out_dirs)} configs x {len(universe)} queries, "
              f"{n_sweep_fail} divergent")

    oracle = "" if duckdb else " (oracle not run: duckdb not installed)"
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only, "
          f"{n_sweep_fail} sweep-fail{oracle}")
    if n_fail or n_sweep_fail:
        sys.exit(1)
    sys.exit(0 if duckdb else EXIT_ORACLE_NOT_RUN)


if __name__ == "__main__":
    main()
