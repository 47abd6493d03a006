#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [<jsonOut>]

Loads each <verifyOutDir>/<name> parquet (Spark output), runs the matching
oracle SQL from oracle_sql.json in DuckDB over <sfDir>'s tables, and
compares: column names (sorted), row counts, and a hash over all values
with columns sorted by name and rows sorted canonically. At the end it
prints the ten slowest checks with their seconds (each counts its
parquet read, its DuckDB SQL and the compare).

When <jsonOut> is given, also writes the driver-shaped per-query record
({"rows_match","schema_match","hash_match","spark_rows","oracle_rows",
"err"}; rows-only queries get {"rows_only": true, "spark_rows": N}) —
the VERDICT r11 ask: round 11's driver artifact arrived as an empty {}
while the code passed 170/170, so each round now commits its own
CORRECTNESS_local_r{N}.json as the self-evidencing fallback record.

Tooling only — the shipped Scala library never depends on this.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamps to us precision (Spark writes us, duckdb may give ns)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.floor("us")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                type(v).__name__ == "ndarray" else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def h(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False, float_format="%.17g").encode()).hexdigest()


def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    record = {}
    secs = {}  # per query: parquet read, DuckDB SQL and compare

    def rec(name, **kw):
        record[name] = kw

    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        t0 = time.perf_counter()
        try:
            files = glob.glob(f"{d}/*.parquet")
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            if name not in oracles:
                print(f"  [rows-only] {name}: {len(got)} rows")
                rec(name, rows_only=True, spark_rows=len(got))
                continue
            try:
                want = con.execute(oracles[name]).fetchdf()
            except Exception as e:
                print(f"  [FAIL-sql ] {name}: {e}")
                rec(name, rows_match=False, schema_match=False, hash_match=False,
                    spark_rows=len(got), oracle_rows=None, err=str(e)[:500])
                n_fail += 1
                continue
            gc, wc = canon(got), canon(want)
            # dtype-kind gate: DuckDB SUM(int) yields HUGEINT which lands here as
            # float64 while Spark writes int64 — CSV hashing with %.17g renders
            # both as "1" and masks it, but the DRIVER's comparator does not.
            # Comparing numpy kinds ('i' vs 'f' vs 'O' vs 'M' vs 'b') catches the
            # class without flagging benign width diffs (int32 vs int64).
            # all-NULL columns surface as object on one engine and float64 on
            # the other depending on round-trip — values still match, so the
            # kind gate skips them (ADVICE r2). Only when rows EXIST, though:
            # on a 0-row frame isna().all() is vacuously True for every
            # column, which would disable the gate exactly where schema kinds
            # are the only signal left.
            shared = [c for c in gc.columns if c in wc.columns]
            kinds_g = {c: gc[c].dtype.kind for c in shared
                       if not ((len(gc) > 0 and gc[c].isna().all()) or
                               (len(wc) > 0 and wc[c].isna().all()))}
            kinds_w = {c: wc[c].dtype.kind for c in kinds_g}
            rows_match = len(gc) == len(wc)
            schema_match = (sorted(gc.columns) == sorted(wc.columns)
                            and kinds_g == kinds_w)
            hash_match = rows_match and schema_match and h(gc) == h(wc)
            rec(name, rows_match=rows_match, schema_match=schema_match,
                hash_match=hash_match, spark_rows=len(gc), oracle_rows=len(wc),
                err=None)
            if sorted(gc.columns) != sorted(wc.columns):
                print(f"  [FAIL-cols] {name}: spark={list(gc.columns)} duck={list(wc.columns)}")
                n_fail += 1
            elif kinds_g != kinds_w:
                bad = {c: (kinds_g.get(c), kinds_w.get(c))
                       for c in kinds_g if kinds_g.get(c) != kinds_w.get(c)}
                print(f"  [FAIL-dtyp] {name}: spark-vs-duck kind mismatch {bad}")
                n_fail += 1
            elif len(gc) != len(wc):
                print(f"  [FAIL-rows] {name}: spark={len(gc)} duck={len(wc)}")
                n_fail += 1
            elif not hash_match:
                print(f"  [FAIL-hash] {name}: {len(gc)} rows")
                diff = gc.compare(wc) if gc.shape == wc.shape else None
                if diff is not None and not diff.empty:
                    print(diff.head(5))
                n_fail += 1
            else:
                print(f"  [ok       ] {name}: {len(gc)} rows")
                n_pass += 1
        finally:
            secs[name] = time.perf_counter() - t0
    print(f"{n_pass} pass / {n_fail} fail")
    print("slowest checks (s: parquet read + DuckDB SQL + compare):")
    for name, t in sorted(secs.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:8.2f}  {name}")
    if json_out:
        assert record, "refusing to write an empty correctness record"
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(record)} entries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
