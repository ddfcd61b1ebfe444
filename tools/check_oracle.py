"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` against its
``oracle_sql()`` twin in DuckDB on the same parquet tables, comparing
row count, column names, and an order-insensitive value hash (columns
sorted by name, rows sorted, values stringified with float rounding).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style tolerance: format at 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from biometric_stream_processing_spark.session import get_spark

    # Full-registry sweeps need headroom the 1 GiB default heap does
    # not have once every shared memo is resident (round 13: the last
    # three of 148 entries died of GC thrash at sf0.1 — the same
    # failure bench.py hit and fixed with its 4g BENCH_CONFS pin).
    # SPARK_GRAFT_DRIVER_MEM still overrides.
    extra = (
        {} if os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        else {"spark.driver.memory": "4g"}
    )
    spark = get_spark("oracle-check", extra_confs=extra)
    # round-13 advice: builder.config is a no-op when getOrCreate
    # attaches to a pre-existing session — warn instead of silently
    # running a full sweep on the 1 GiB default heap
    from bench import _warn_if_driver_mem_diverged

    _warn_if_driver_mem_diverged(spark, extra)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        # (streaming_alerts previously needed a batch-parity special
        # case here; the watermark-flush sentinel now makes its append
        # output equal the batch relation exactly, so it runs through
        # the ordinary hash path against the alerts_throttled oracle.)
        if name not in oracles:
            print(f"OK*   {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dtypes = {
                r[0]: r[1]
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            }
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        problems = []
        # Parity-rule audit: DuckDB HUGEINT (un-cast integer-sum) output
        # columns reach the driver's Arrow/pandas fetch as float64/
        # decimal128 and hash-mismatch Spark's BIGINT even though
        # fetchall() sees plain ints. Fail loudly here so the local gate
        # catches what the driver would.
        for c, t in dtypes.items():
            tu = t.upper()
            if "HUGEINT" in tu or tu.startswith("DECIMAL"):
                problems.append(
                    f"oracle col {c} is {t} (un-cast aggregate?) — "
                    f"CAST it to BIGINT/DOUBLE in the oracle SQL"
                )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(srows, scols), value_hash(drows, dcols)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            # show a small diff sample — reorder each engine's values
            # by sorted column name (same index order value_hash uses)
            # so column-order differences don't read as false diffs
            if sorted(scols) == sorted(dcols):
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ss = set("|".join(_norm(r[i]) for i in so) for r in srows)
                ds = set("|".join(_norm(r[i]) for i in do) for r in drows)
                for x in list(ss - ds)[:3]:
                    print(f"        spark-only: {x}")
                for x in list(ds - ss)[:3]:
                    print(f"        duck-only:  {x}")
        else:
            print(f"OK    {name}: rows={len(srows)} hash match ({dt:.1f}s)")
    # Tally only what RAN: with a query filter, printing against the
    # full registry reads as a (misleading) full pass.
    suffix = "" if ran == len(qs) else f" (filtered; {len(qs)} registered)"
    print(f"\n{ran - len(failures)}/{ran} queries OK{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
