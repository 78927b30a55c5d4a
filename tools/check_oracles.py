"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and its oracle_sql() on DuckDB, compare row count, column
names, and an order-insensitive value hash. Usage:

    python tools/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    import __spark_entry__ as E
    from codepropertygraph_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    failures = []
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name:24s} rows={len(srows)} (no oracle — rows-only)")
                continue
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            ok = (
                len(srows) == len(drows)
                and sorted(scols) == sorted(dcols)
                and sh == dh
            )
            mark = "OK " if ok else "FAIL"
            print(
                f"{mark} {name:24s} spark={len(srows)} duck={len(drows)} "
                f"cols={'=' if sorted(scols)==sorted(dcols) else (scols, dcols)} "
                f"hash={'=' if sh==dh else (sh, dh)}"
            )
            if not ok:
                failures.append(name)
        except Exception as e:
            print(f"ERR {name:24s} {type(e).__name__}: {str(e)[:400]}")
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
