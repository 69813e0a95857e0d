"""Local mirror of the driver's correctness gate.

Runs every registered query in Spark AND its DuckDB oracle over the
same parquet tables, compares row count, column names, and an
order-insensitive value hash. Each pass line prints that hash, so a
diff of two runs' output shows any oracle drift. Usage:

    python tools/check_correctness.py [--vanilla] [--window] [sf_dir] [name ...]

--vanilla runs on a plain ``SparkSession.builder.getOrCreate()`` —
no get_spark() configs — mirroring the grading driver's own session
(CLAUDE.md invariant: engine code must work without our configs).
--window restricts to the first 50 registry entries, exactly the
slice the grading driver checks (use to validate registry rotations).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    vanilla = "--vanilla" in sys.argv[1:]
    # --window mirrors the grading driver exactly: it checks only the
    # FIRST 50 entries of queries() in iteration order (VERDICT r5
    # structural finding) — use this to validate a registry rotation
    window = 50 if "--window" in sys.argv[1:] else None
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod

    if vanilla:
        # the grading driver builds its OWN plain session: replicate that
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[*]").getOrCreate()
    else:
        from fuserank_spark.session import get_spark

        spark = get_spark("correctness-check")
    qs = entry_mod.queries()
    if window is not None:
        qs = dict(list(qs.items())[:window])
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show first diffs
                so = sorted(
                    "|".join(canon(x) for x in r) for r in ([tuple(r) for r in srows])
                )
                do = sorted("|".join(canon(x) for x in r) for r in drows)
                for i, (a, b) in enumerate(zip(so, do)):
                    if a != b:
                        problems.append(f"  first diff row {i}: spark={a!r} duck={b!r}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={len(srows)} hash={dh} [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
