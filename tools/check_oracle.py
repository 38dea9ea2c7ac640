#!/usr/bin/env python3
"""Dev-side replica of the driver's correctness gate: run Verify output
against DuckDB oracles and compare values exactly (sorted rows, sorted
column names). Usage: check_oracle.py <sfDir> <verifyOutDir>

`compare_frames` holds the single copy of the driver-mirroring comparison
semantics; targeted checkers (check_sf1.py) import it rather than
re-implementing the contract.
"""
import sys, json, glob, math


def compare_frames(mine, orc):
    """Compare two pandas frames with the driver's semantics. Returns an
    error string, or None when they match."""
    mc, oc = sorted(mine.columns), sorted(orc.columns)
    if mc != oc:
        return f"columns {mc} vs {oc}"
    a = mine[mc].sort_values(mc).reset_index(drop=True)
    b = orc[oc].sort_values(oc).reset_index(drop=True)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in mc:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            # mirror the driver: it hashes str() of values, so int 1 vs
            # float 1.0 MUST fail here even though 1 == 1.0 in Python
            if isinstance(x, float) != isinstance(y, float):
                same = str(x) == str(y)
            else:
                same = (x == y) or (x is None and y is None) or \
                       (isinstance(x, float) and isinstance(y, float) and
                        math.isnan(x) and math.isnan(y)) or str(x) == str(y)
            if not same:
                return (f"col {c} row {i}: {x!r} ({type(x).__name__}) "
                        f"vs {y!r} ({type(y).__name__})")
    return None


def main():
    import duckdb
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = []
    for name, sql in sorted(oracles.items()):
        pq = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not pq:
            print(f"FAIL {name}: no spark output"); fails.append(name); continue
        try:
            mine = con.sql(f"SELECT * FROM '{pq[0]}'").df()
            orc = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); fails.append(name); continue
        err = compare_frames(mine, orc)
        if err:
            print(f"FAIL {name}: {err}"); fails.append(name)
        else:
            print(f"OK   {name}: {len(mine)} rows")

    # rows-only queries (no oracle)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracles: continue
        pq = glob.glob(f"{d}/*.parquet")
        n = con.sql(f"SELECT count(*) FROM '{pq[0]}'").fetchone()[0] if pq else 0
        print(f"ROWS {name}: {n}")
    print("FAILED:", sorted(set(fails)) if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
