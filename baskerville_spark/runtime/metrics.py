"""Run metrics via df.observe — the reference's custom dict-summing
AccumulatorParam (src/baskerville/spark/helpers.py:47-65) and Prometheus
registry (models/metrics/registry.py) replaced by Spark's native observable
metrics: zero extra passes, collected as a side effect of the action that
materializes the DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Observation


def observe_violations(violations: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach violation-count metrics; read obs.get AFTER an action runs."""
    obs = Observation("baskerville_run")
    observed = violations.observe(
        obs,
        F.count(F.lit(1)).alias("n_violations"),
        F.approx_count_distinct("clip_id").alias("n_violating_clips"),
        F.approx_count_distinct("check_name").alias("n_failing_checks"),
    )
    return observed, obs


# --------------------------------------------------------------------------
# Prometheus exposition rendering
# --------------------------------------------------------------------------
#
# Reference: ``models/metrics/registry.py`` (323 LoC) maintains a
# per-pipeline-step Prometheus registry and exports via pushgateway. Here
# the VALUES come from Spark observe() metrics (zero extra passes, above);
# this renderer turns a collected metrics dict into Prometheus text
# exposition format (v0.0.4) so any scrape/push endpoint can serve it —
# the cluster-side pushgateway POST is one requests call around this
# string and stays environment-bound, like the connector jars.


def render_prometheus(metrics: dict) -> str:
    """Render ``{name: number}`` as Prometheus gauges in exposition text.

    Names are prefixed with ``baskerville_`` and sanitized to the
    metric-name grammar. Non-numeric / None values are skipped — observe()
    can yield NULL aggregates on empty frames, and a scrape endpoint must
    never 500 because a batch was empty.
    """
    import math
    import numbers
    import re

    lines = []
    for name in sorted(metrics):
        v = metrics[name]
        # numbers.Real (not int/float) so numpy int64/float32 scalars from
        # toPandas()-derived dicts render instead of silently vanishing
        if v is None or isinstance(v, bool) or not isinstance(v, numbers.Real):
            continue
        v = v.item() if hasattr(v, "item") else v  # numpy scalar → python
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            continue
        mname = re.sub(r"[^a-zA-Z0-9_:]", "_", f"baskerville_{name}")
        lines.append(f"# TYPE {mname} gauge")
        lines.append(f"{mname} {v}")
    return "\n".join(lines) + ("\n" if lines else "")
