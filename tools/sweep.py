"""Fresh-process, driver-style oracle sweep at an arbitrary scale.

Usage:  python tools/sweep.py [sf_dir] [name ...]

Runs each named registry entry in one fresh Spark session, built by
``session.get_spark`` like the tests' and perfbench's, and compares it
against its DuckDB oracle over the same parquet files. With no
names, sweeps the FULL registry (every entry with an oracle); pass the
``plans.queries.DRIVER_SURFACE`` names to check what the driver checks.
Compares columns (sorted by name, driver semantics), row counts, and
every cell bit-exactly (floats compared with ==; NaN==NaN), mirroring
tests/test_oracle_parity.py. Prints one line per failure and a summary;
exit code 1 on any failure.
"""

from __future__ import annotations

import math
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(row[i] for i in order) for row in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r)), [
        columns[i] for i in order
    ]


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb
    return str(a) == str(b)


def main() -> None:
    import duckdb

    from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (  # noqa: E501
        REGISTRY,
    )
    from financial_transaction_data_warehouse_interactive_dashboard_spark.schemas import (  # noqa: E501
        TESTDATA_TABLES,
    )
    from financial_transaction_data_warehouse_interactive_dashboard_spark.session import (  # noqa: E501
        get_spark,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or sorted(
        n for n, q in REGISTRY.items() if q.oracle is not None
    )
    spark = get_spark("ftdw-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    failures, zero_rows = [], []
    t_all = time.perf_counter()
    for i, name in enumerate(names, 1):
        q = REGISTRY[name]
        try:
            sdf = q.spark(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
            res = con.execute(q.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = [tuple(r) for r in res.fetchall()]
            if sorted(s_cols) != sorted(d_cols):
                failures.append((name, f"cols {s_cols} vs {d_cols}"))
                continue
            sn, _ = normalize(s_rows, s_cols)
            dn, _ = normalize(d_rows, d_cols)
            if len(sn) != len(dn):
                failures.append((name, f"rows {len(sn)} vs {len(dn)}"))
                continue
            if not sn:
                zero_rows.append(name)
            bad = None
            for sr, dr in zip(sn, dn):
                for a, b in zip(sr, dr):
                    if not cells_equal(a, b):
                        bad = f"cell {a!r} != {b!r}"
                        break
                if bad:
                    break
            if bad:
                failures.append((name, bad))
            else:
                print(f"[{i}/{len(names)}] {name}: OK ({len(sn)} rows)")
        except Exception as e:  # noqa: BLE001 - sweep must report, not die
            failures.append((name, f"{type(e).__name__}: {e}"))
        if failures and failures[-1][0] == name:
            print(f"[{i}/{len(names)}] {name}: FAIL {failures[-1][1]}")
    dt = time.perf_counter() - t_all
    print(
        f"\nSWEEP {sf_dir}: {len(names) - len(failures)}/{len(names)} "
        f"match in {dt:.0f}s; zero-row: {zero_rows or 'none'}"
    )
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
