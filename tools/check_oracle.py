"""Simulate the driver's t2 correctness gate locally.

Runs every ``queries()`` entry at the given sf and compares against
``oracle_sql()`` via DuckDB: row count + sorted-column value comparison
(floats rounded). Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 5)
    if hasattr(v, "isoformat"):
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            s = v.isoformat(sep=" ")
        else:
            s = v.isoformat()
        return s.rstrip("0").rstrip(".") if "." in s else s
    return v


def main():
    import __spark_entry__ as E

    if os.environ.get("QC_CHECK_VANILLA"):
        # worst-case driver simulation: default configs, non-UTC timezone
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .config("spark.sql.session.timeZone", "America/Chicago")
            .getOrCreate()
        )
    else:
        from datafusion_query_cache_spark.sources.tables import get_session

        spark = get_session(app="oracle-check", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    # pin the PYTHON process TZ to UTC now that the JVM is up: classic
    # (non-Arrow) collect() renders TimestampType through the Python
    # process timezone, so running this tool under e.g. TZ=America/Chicago
    # shifted the SPARK side of the comparison by the UTC offset while the
    # DuckDB oracle stayed naive — a false VALUE MISMATCH on every entry
    # returning a raw timestamp (found in r17-OPT; inherited, not an
    # engine bug). The JVM keeps the launch TZ, so vanilla-TZ sweeps
    # (QC_CHECK_VANILLA=1, or launching with TZ=...) still exercise the
    # engine's timezone independence where it lives — JVM-side.
    os.environ["TZ"] = "UTC"
    import time as _time

    _time.tzset()
    con = duck_con(SF_DIR)

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    import time

    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = sorted(df.columns)
            got = [tuple(norm(r[c]) for c in cols) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__} {str(e)[:200]}"))
            print(f"{name:24s} SPARK-ERR {str(e)[:120]}")
            continue
        osql = oracles.get(name)
        if osql is None:
            print(f"{name:24s} rows={len(got):6d}  (no oracle)  {time.time()-t0:.1f}s")
            continue
        try:
            cur = con.execute(osql)
            ocols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            order = sorted(range(len(ocols)), key=lambda i: ocols[i])
            want = [tuple(norm(r[i]) for i in order) for r in rows]
        except Exception as e:
            failures.append((name, f"DUCK ERROR: {str(e)[:200]}"))
            print(f"{name:24s} DUCK-ERR {str(e)[:160]}")
            continue
        if sorted(ocols) != cols:
            failures.append((name, f"SCHEMA: spark={cols} duck={sorted(ocols)}"))
            print(f"{name:24s} SCHEMA MISMATCH {cols} vs {sorted(ocols)}")
            continue
        # dtype-class check: the driver's value hash is dtype-sensitive
        # beyond int-width normalization — DuckDB widening a BIGINT sum to
        # HUGEINT (decimal128) while Spark stays BIGINT hash-fails despite
        # equal values (the qc_window_topn r10 lesson). Catch it here.
        try:
            duck_types = {
                f.name: str(f.type) for f in con.execute(osql).arrow().schema
            }
            spark_types = dict(df.dtypes)

            def _cls(t: str) -> str:
                t = t.lower()
                if "decimal" in t:
                    return "decimal"
                if any(x in t for x in ("int", "long", "short", "byte")):
                    return "int"
                if any(x in t for x in ("float", "double", "halffloat")):
                    return "float"
                return "other"

            dmism = [
                (c, duck_types[c], spark_types[c])
                for c in spark_types
                if c in duck_types
                and _cls(duck_types[c]) != _cls(spark_types[c])
            ]
            if dmism:
                failures.append((name, f"DTYPE-CLASS: {dmism}"))
                print(f"{name:24s} DTYPE-CLASS MISMATCH {dmism}")
                continue
        except Exception:
            pass  # arrow probe is best-effort; value compare still gates
        if len(got) != len(want):
            failures.append((name, f"ROWS: spark={len(got)} duck={len(want)}"))
            print(f"{name:24s} ROWCOUNT {len(got)} vs {len(want)}")
            continue
        sg, sw = sorted(got, key=repr), sorted(want, key=repr)
        if sg != sw:
            diffs = [(a, b) for a, b in zip(sg, sw) if a != b][:3]
            failures.append((name, f"VALUES: {diffs}"))
            print(f"{name:24s} VALUE MISMATCH e.g. {diffs[:1]}")
            continue
        print(f"{name:24s} OK rows={len(got):6d}  {time.time()-t0:.1f}s")

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg[:300]}")
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
