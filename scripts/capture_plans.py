"""Capture .explain('formatted') for queries() entries — the plan
evidence files committed under plans/r11/.

Usage: python scripts/capture_plans.py <outdir> <suffix> <entry> [...]

Runs each entry (side effects included — scratch stores get built the
same way the bench runs them) and writes the RETURNED frame's
formatted plan to <outdir>/<entry>_<suffix>.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from far_finer_airtable_firestore_sync_spark.conf import local_session

    spark = local_session("ffs-plans")

    import __spark_entry__ as e

    qs = e.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        # pass the ExplainMode directly (r11 ADVICE: the former
        # `maxToStringFields() and ExplainMode...` truthiness chain was
        # obscure and would pass an int if the conf were ever 0)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        spark.catalog.clearCache()
        print(f"PLAN {name} -> {name}_{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
