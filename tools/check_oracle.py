"""Local differential harness mimicking the driver's correctness gate.

Runs every registered query's Spark DataFrame AND its DuckDB oracle SQL
on the same parquet tables, then compares row count, column names, and
an order-insensitive value comparison (columns sorted by name, rows
sorted, values canonicalized). Run this before the driver does:

    python tools/check_oracle.py [--vanilla] [sf_dir] [query_name ... | --window]

``--vanilla`` pre-creates a plain SparkSession (default shuffle
partitions, no engine confs) so the replay matches the verification
driver's own session; ``--window`` expands to the current
DRIVER_WINDOW (the 50 queries the driver will actually check).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a value for comparison (float bits → repr, ts → iso)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v) + 0.0)
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_pandas(v):
    """Canonicalize a value as it arrives through the PANDAS path —
    the representation the driver actually hashes. DELIBERATELY
    type-sensitive: an int64 123 and a float64 123.0 canonicalize
    differently, because that is exactly the class of divergence
    (DuckDB HUGEINT → pandas float) that made q99 (r1) and q111 (r2)
    pass the fetchall comparison locally while failing the driver."""
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canon_pandas(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_pandas(x) for x in v) + "]"
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, float):  # covers np.float64 (a float subclass)
        if math.isnan(v):
            return "NaN"
        return repr(float(v))  # 123.0 stays "123.0" — the type matters
    if hasattr(v, "isoformat"):
        # normalize DATE vs midnight-TIMESTAMP: Spark dates arrive as
        # datetime.date, DuckDB dates as datetime64 Timestamps at
        # 00:00:00 — the driver treats these as equal (q100/q93 were
        # driver-green across that exact difference)
        if (
            getattr(v, "hour", 0) == 0
            and getattr(v, "minute", 0) == 0
            and getattr(v, "second", 0) == 0
            and getattr(v, "microsecond", 0) == 0
            and hasattr(v, "date")
        ):
            return v.date().isoformat()
        return v.isoformat()
    try:
        import pandas as pd

        if v is pd.NaT:
            return "NULL"
    except Exception:
        pass
    return str(v)


def pandas_canonical(pdf):
    """(sorted column names, sorted canonical rows) for a pandas frame."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in pdf.itertuples(index=False, name=None):
        out.append(tuple(canon_pandas(row[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def rows_to_canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def main():
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if only == {"--window"}:
        from climate_data_pipelines_spark.queries import DRIVER_WINDOW

        only = set(DRIVER_WINDOW)

    from climate_data_pipelines_spark import get_spark
    from climate_data_pipelines_spark.catalog import TABLES, normalize_ns_timestamp, table_path
    from climate_data_pipelines_spark.invariants import INVARIANTS
    from climate_data_pipelines_spark.queries import REGISTRY

    if vanilla:
        # driver-parity mode: a PLAIN session (default 200 shuffle
        # partitions, no engine confs) created BEFORE get_spark, which
        # then reuses it — catches config dependencies the engine's own
        # session would mask (the verification driver builds its own
        # SparkSession exactly like this).
        from pyspark.sql import SparkSession

        SparkSession.builder.master("local[8]").getOrCreate()
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)

    # Preflight: declared catalog schema must equal what a plain
    # schema-inference read scans for every table, so parquet-reader
    # drift (e.g. TIMESTAMP_NTZ under a new Spark reader) fails loudly
    # HERE, not deep inside a query's cast (the q104 r3 failure mode).
    # Not load_table: it reads with the declared schema, so its schema
    # equals the declaration by construction.
    drift = []
    for t in TABLE_NAMES:
        scanned = spark.read.parquet(table_path(sf_dir, t))
        if t == "events":
            scanned = normalize_ns_timestamp(scanned, "ts")
        got = {f.name: f.dataType.simpleString() for f in scanned.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in TABLES[t].fields}
        ok = got == want
        print(f"SCHEMA {t}: {'parity' if ok else f'DRIFT got={got} declared={want}'}")
        if not ok:
            drift.append(t)
    if drift:
        print(f"\nABORT: declared/scanned schema drift in {drift} — "
              "fix catalog.py declarations before trusting any query")
        sys.exit(2)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    passed, failed, rows_only = [], [], []
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if spec.oracle is None:
            rows_only.append(name)
            status = "ok" if len(srows) >= 0 else "??"
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [{status}]")
            # rows>0 is the weakest gate in the system — where the
            # query has a registered invariant (recall floor, sketch
            # error bound, wire-format roundtrip), assert it here
            inv = INVARIANTS.get(name)
            if inv is not None:
                t1 = time.time()
                try:
                    ok, detail = inv(spark, sf_dir)
                except Exception as e:
                    ok, detail = False, f"invariant error: {e}"
                tag = "PASS" if ok else "FAIL"
                print(f"INV   {name}: {tag} {detail} ({time.time()-t1:.1f}s)")
                if not ok:
                    rows_only.remove(name)
                    failed.append((name, f"INVARIANT: {detail}"))
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failed.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {e}")
            continue

        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if scols != ocols:
            # strict: same names in the same order (driver may compare
            # ordered schemas; keep both sides aligned)
            problems.append(f"col order spark={scols} oracle={ocols}")
        if not problems:
            _, sc = rows_to_canonical(scols, srows)
            _, oc = rows_to_canonical(ocols, orows)
            if sc != oc:
                ndiff = sum(1 for a, b in zip(sc, oc) if a != b)
                problems.append(f"values differ ({ndiff}/{len(sc)} rows)")
                for a, b in zip(sc, oc):
                    if a != b:
                        problems.append(f"  spark : {a}\n  oracle: {b}")
                        break
        if not problems:
            # second gate: the PANDAS path, emulating the driver's
            # canonicalizer — catches type-rendering drift (HUGEINT →
            # float64, array dtype objects) invisible to fetchall
            try:
                spdf = sdf.toPandas()
                opdf = con.execute(spec.oracle).df()
                _, spc = pandas_canonical(spdf)
                _, opc = pandas_canonical(opdf)
                if spc != opc:
                    ndiff = sum(1 for a, b in zip(spc, opc) if a != b)
                    problems.append(
                        f"PANDAS-PATH DRIFT ({ndiff}/{len(spc)} rows) — "
                        "fetchall matches but the driver's pandas "
                        "canonicalization would not"
                    )
                    for a, b in zip(spc, opc):
                        if a != b:
                            problems.append(f"  spark : {a}\n  oracle: {b}")
                            break
            except Exception as e:
                problems.append(f"PANDAS-PATH ERROR: {e}")
        if problems:
            failed.append((name, "; ".join(problems[:2])))
            print(f"FAIL  {name}: " + "\n".join(problems[:3]))
        else:
            passed.append(name)
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(
        f"\n== {len(passed)} passed, {len(failed)} failed, "
        f"{len(rows_only)} rows-only =="
    )
    if failed:
        for n, p in failed:
            print(f"   FAILED {n}: {p[:200]}")
        sys.exit(1)


if __name__ == "__main__":
    main()
