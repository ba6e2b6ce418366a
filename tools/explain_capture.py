"""Capture .explain("formatted") for named registry entries -> plans/<round>/

(round dir from $SPARK_GRAFT_PLANS_ROUND, default r17).

Usage:
    python tools/explain_capture.py before a28_customer_kmeans wh_compaction ...
    python tools/explain_capture.py after  a28_customer_kmeans ...

Writes plans/r16/<name>_<tag>.txt with the formatted physical plan of the
entry's DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1). Entries whose
construction runs eager work (localCheckpoint, saveAsTable) execute that
work; the captured plan is the final returned DataFrame's plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.queries import (  # noqa: E402
    REGISTRY,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r17"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("ftdw-explain-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"explain: {name}")
        try:
            df = q.spark(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — capture the failure itself
            text = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({tag})\n")
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
