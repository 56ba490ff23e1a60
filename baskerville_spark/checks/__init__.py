"""Check operators: each contributes named aggregate expressions and/or
violation-row DataFrames, composed by the runner.

Design follows the reference's feature-manager pattern — every feature
contributes named agg expressions deduped by name into ONE
``groupBy(keys).agg(*)`` (src/baskerville/models/feature_manager.py:150-205,
funnel at src/baskerville/models/base_spark.py:445-458) — so the whole
stats/verdict suite is a single shuffle over the fact table.
"""
