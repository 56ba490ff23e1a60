"""baskerville_spark — a PySpark-native schema + constraint validation engine.

A from-scratch rebuild of the *capabilities* of deflect-ca/baskerville
(anomaly/constraint checking over partitioned event tables) as an idiomatic
Spark DataFrame engine over audio clip + transcript tables:

- per-partition column statistics (count / null-rate / min / max,
  KLL-style quantiles via ``percentile_approx``, DataSketches HLL distinct
  via ``hll_sketch_agg``)
- uniqueness on ``clip_id`` with salted two-phase aggregation (skew-safe)
- referential integrity of transcript keys (broadcast or sort-merge anti-join)
- distribution drift (PSI + two-sample KS from quantile/histogram sketches)
  against a baseline snapshot
- vectorized audio invariant: decoded-PCM allclose at SNR >= 30 dB plus exact
  transcript equality, via Arrow-batched pandas UDFs (zero per-row Python)
- checkpoint manifest with per-partition lineage + metrics (resumable runs)

Reference parity notes are cited as ``file:line`` into /root/reference
throughout the modules.
"""

__version__ = "0.1.0"
