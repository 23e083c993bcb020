#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run every battery query
on Spark AND its DuckDB oracle, compare row count, sorted column names, and
order-insensitive values (exact after float64 canonicalization).

Usage: python3 scripts/check_battery.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

import harness

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", float(v))
    if v is None:
        return ("null",)
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(norm(x) for x in v)
    try:  # Decimal -> float for cross-engine comparability diagnostics
        import decimal

        if isinstance(v, decimal.Decimal):
            return ("d", str(v))
    except ImportError:
        pass
    return (type(v).__name__, v)


def compare(name, spark_df, duck_rel) -> str:
    # Driver-hash hazard gate: raw DECIMAL output columns bridge
    # inconsistently across client layers (DuckDB's pandas conversion
    # narrows wide decimals to float64), so a value-identical result can
    # still hash-mismatch downstream (CORRECTNESS_r09 eth_erc20_balances).
    # Exact decimals must be read out as canonical digit strings (or
    # narrowed to double/bigint) in the FINAL projection of both engines.
    from pyspark.sql.types import DecimalType

    dec_cols = [
        f.name for f in spark_df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    if dec_cols:
        return f"DRIVER-HAZARD: decimal-typed output columns {dec_cols}"
    got_cols = sorted(spark_df.columns)
    want_cols = sorted(duck_rel.columns)
    if got_cols != want_cols:
        return f"SCHEMA: spark={got_cols} duck={want_cols}"
    order = got_cols
    g_idx = [spark_df.columns.index(c) for c in order]
    d_idx = [duck_rel.columns.index(c) for c in order]
    got = sorted(tuple(norm(r[i]) for i in g_idx) for r in spark_df.collect())
    want = sorted(tuple(norm(r[i]) for i in d_idx) for r in duck_rel.fetchall())
    if len(got) != len(want):
        return f"ROWS: spark={len(got)} duck={len(want)}"
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    if bad:
        # distinguish float noise from logic errors
        close = all(
            len(g) == len(w)
            and all(
                (
                    a == b
                    or (
                        a[0] == "f"
                        and b[0] == "f"
                        and isinstance(a[1], float)
                        and isinstance(b[1], float)
                        and abs(a[1] - b[1]) <= 1e-9 * max(1.0, abs(a[1]), abs(b[1]))
                    )
                )
                for a, b in zip(g, w)
            )
            for g, w in bad
        )
        kind = "FLOAT-NOISE" if close else "VALUES"
        return f"{kind}: {len(bad)} rows differ; first: got={bad[0][0]} want={bad[0][1]}"
    return "OK"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(1 if check(sf_dir, set(sys.argv[2:])) else 0)


def check(sf_dir, names, conf=None) -> int:
    """Compare ``names`` (all entries if empty) on a harness session
    with Spark confs ``conf`` against DuckDB; print one verdict per entry
    and the totals, stop the session and return the number failing."""
    spark = harness.session(extra_conf=conf)
    from presto_ethereum_spark.plans import battery

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries, oracles = battery.queries(), battery.oracles()
    n_ok = n_fail = 0
    for name, fn in queries.items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                cnt = df.count()
                print(f"{name:36s} ROWS-ONLY ({cnt} rows)")
                continue
            verdict = compare(name, df, con.sql(oracles[name]))
        except Exception as e:
            verdict = f"ERROR: {type(e).__name__}: {str(e)[:200]}"
        ok = verdict == "OK"
        n_ok += ok
        n_fail += not ok
        print(f"{name:36s} {verdict}")
    print(f"\n{n_ok} ok, {n_fail} failing")
    spark.stop()
    return n_fail


if __name__ == "__main__":
    main()
