"""Large-scale training-data pipeline operators over generic tables:
deduplication, text analysis, similarity search, multimodal plumbing.

These extend the validation engine with the operations a 100 TB
training-data pipeline needs. All hot paths are JVM-side Column algebra;
Python appears only in Arrow-batched pandas UDFs (multimodal decode).

This is the gate library: everything only the gates of
``__spark_entry__`` run, next to the engine in the rest of the package.
Gate modules import the engine; no engine module imports them
(``tests/test_reachability.py`` enforces both halves of the boundary).
"""
