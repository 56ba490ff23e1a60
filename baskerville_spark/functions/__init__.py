"""Large-scale training-data pipeline operators over generic tables:
deduplication, text analysis, similarity search, multimodal plumbing.

These extend the validation engine with the operations a 100 TB
training-data pipeline needs. All hot paths are JVM-side Column algebra;
Python appears only in Arrow-batched pandas UDFs (multimodal decode).
"""
