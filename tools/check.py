#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (t2): run graft.Verify
output against DuckDB oracles over the same parquet tables, compare
exactly (schema by column name, values after sorting columns by name).

Driver-faithful since round 3: both sides are fetched as pandas frames
(`fetchdf()`), and numeric *kind* (int/float/object/datetime/bool) must
match per column in addition to values. This is exactly the class of
miss that shipped q69 red in round 2: DuckDB's windowed sum of an
INTEGER returns HUGEINT, pandas converts that to float64, and the
driver hash then compares 1.0 vs Spark's int64 1 — value-equal, hash-
different. A fetchall()-repr compare (rounds 1-2) cannot see that.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [skipOracles]
                              [--parent <parentVerifyOutDir>]
  skipOracles: comma-separated query names whose oracle is skipped
  (checked rows-only instead), or the literal "quadratic" for the
  known set of shingle-self-join oracles that are impractically slow
  at sf0.1 (fine at the driver's sf0.01).
  --parent: a Verify dump of the parent commit. Every rows-only key's
  rows must then equal the parent's as a multiset (DuckDB EXCEPT ALL,
  0 rows in both directions) — the refactor check for keys that have
  no SQL oracle. Any difference fails the run.
"""
import sys, os, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# oracles quadratic in corpus size (shingle self-joins / recursive
# reachability) — run them at sf0.01, skip at sf0.1 sweeps
QUADRATIC = ["c2_dedup_minhash", "c4_ngram_jaccard", "c23_dup_clusters",
             "c33_cluster_keep_best", "c34_incremental_neardup",
             "c63_leakfree_split", "c70_neardup_index", "c73_edit_dedup",
             "c78_containment_dedup", "c90_cluster_sizes",
             "c96_minhash_error",
             "c99_cluster_medoid", "c116_pair_transitivity"]
# c98_dedup_sensitivity left the list in round 10: its doc_id % 4 slice
# (mirrored in the oracle) makes the DuckDB side ~33 s at sf0.1 —
# affordable in the occasional full sweep.


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — strict
    return repr(v)


def frame(rel):
    """Relation -> (sorted-column pandas frame, [(col, dtype-kind)])."""
    df = rel.fetchdf()
    df = df[sorted(df.columns)]
    kinds = [(c, df[c].dtype.kind, str(df[c].dtype)) for c in df.columns]
    return df, kinds


def rows_of(df):
    # per-column tolist: df.to_numpy() would upcast int64 columns to
    # float64 in mixed int/float frames, losing exactness above 2^53
    cols = [df[c].tolist() for c in df.columns]
    return [tuple(canon(v) for v in row) for row in zip(*cols)] \
        if cols else [() for _ in range(len(df))]


def parent_diff(con, path, parent_path):
    """(rows only in `path`, rows only in `parent_path`) by EXCEPT ALL,
    columns matched by name; None if the column sets differ."""
    def cols(p):
        return sorted(r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{p}/*.parquet')").fetchall())
    names = cols(path)
    if names != cols(parent_path):
        return None
    sel = ", ".join(f'"{c}"' for c in names)
    def count(a, b):
        return con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM read_parquet('{a}/*.parquet') "
            f"EXCEPT ALL SELECT {sel} FROM read_parquet('{b}/*.parquet'))").fetchone()[0]
    return count(path, parent_path), count(parent_path, path)


def main(sf_dir, out_dir, skip="", parent_dir=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    skipped = QUADRATIC if skip == "quadratic" else \
        [s for s in skip.split(",") if s]
    for name in skipped:
        if oracle.pop(name, None) is not None:
            print(f"SKIP-ORACLE {name} (rows-only below)")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_path = os.path.join(out_dir, name)
        if not os.path.isdir(res_path):
            print(f"FAIL {name}: no spark result dir")
            n_fail += 1
            continue
        try:
            # explicit file order: DuckDB's parallel parquet scan may
            # emit multi-row-group files out of order under load, and
            # file_row_number restarts per file — pin (filename, row#)
            # so the order holds for any file count, not just Verify's
            # coalesce(1)
            got = con.execute(
                f"SELECT * EXCLUDE (filename, file_row_number) "
                f"FROM read_parquet('{res_path}/*.parquet', "
                f"                  filename=true, file_row_number=true) "
                f"ORDER BY filename, file_row_number")
            gdf, gkinds = frame(got)
            edf, ekinds = frame(con.execute(sql))
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        if [c for c, _, _ in gkinds] != [c for c, _, _ in ekinds]:
            print(f"FAIL {name}: columns {list(gdf.columns)} != {list(edf.columns)}")
            n_fail += 1
            continue
        # typing audit: the driver hashes pandas values, so an int64 vs
        # float64 (or object) divergence fails its hash even when values
        # print the same. Compare dtype *kind* (i/u/f/O/M/b), not the
        # exact dtype — datetime64[us] vs [ns] both hash as timestamps.
        bad_kinds = [(c, gd, ed) for (c, gk, gd), (_, ek, ed)
                     in zip(gkinds, ekinds)
                     if (gk if gk != "u" else "i") != (ek if ek != "u" else "i")]
        if bad_kinds:
            print(f"FAIL {name}: dtype mismatch (spark vs oracle): {bad_kinds}")
            n_fail += 1
            continue
        g, e = rows_of(gdf), rows_of(edf)
        if len(g) != len(e):
            print(f"FAIL {name}: rowcount {len(g)} != {len(e)}")
            n_fail += 1
            continue
        if g != e:
            bad = next(i for i in range(len(g)) if g[i] != e[i])
            print(f"FAIL {name}: first diff at row {bad}:")
            print(f"  spark : {g[bad]}")
            print(f"  duckdb: {e[bad]}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(g)} rows)")
        n_pass += 1
    # rows-only queries (no oracle)
    n_same = n_diff = 0
    for d in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, d)
        if os.path.isdir(p) and d not in oracle:
            try:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{p}/*.parquet')").fetchone()[0]
                status = "ROWS-ONLY-PASS" if n > 0 else "ROWS-ONLY-EMPTY"
                print(f"{status} {d} ({n} rows)")
            except Exception as e:
                print(f"ROWS-ONLY-FAIL {d}: {e}")
            if parent_dir is None:
                continue
            pp = os.path.join(parent_dir, d)
            detail = "no parent dump"
            if os.path.isdir(pp):
                try:
                    diff = parent_diff(con, p, pp)
                    if diff is None:
                        detail = "columns differ"
                    elif diff == (0, 0):
                        detail = None
                    else:
                        detail = (f"{diff[0]} rows not in parent, "
                                  f"{diff[1]} parent rows missing")
                except Exception as e:
                    detail = str(e)
            if detail is None:
                print(f"PARENT-SAME {d}")
                n_same += 1
            else:
                print(f"PARENT-DIFF {d}: {detail}")
                n_diff += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if parent_dir is not None:
        print(f"rows-only vs parent: {n_same} same, {n_diff} differ")
    return 1 if n_fail or n_diff else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    parent = None
    if "--parent" in args:
        i = args.index("--parent")
        parent = args[i + 1]
        del args[i:i + 2]
    sys.exit(main(args[0], args[1], args[2] if len(args) > 2 else "", parent))
