"""Capture .explain('formatted') output for named queries into plans/r06/.

Usage: python3 scripts/capture_plans.py before q106_transcript_edit_distance ...
       python3 scripts/capture_plans.py after  q106_transcript_edit_distance ...

Writes plans/r06/<query>_<tag>.txt. Note: protocol gates execute their
side-effect protocol while building the returned frame, so capturing a plan
for them runs the protocol (the captured plan is the final gate frame).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if tag not in ("before", "after") or not names:
        raise SystemExit(__doc__)

    import __spark_entry__ as entry_mod
    from baskerville_spark.session import get_session

    spark = get_session(
        "capture-plans", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    out_dir = str(ROOT / "plans" / "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
