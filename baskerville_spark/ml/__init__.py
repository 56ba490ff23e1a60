"""Anomaly and classification models: a deterministic isolation forest and
gradient-boosted stumps, trained on a bounded driver sample and scored in
Arrow batches."""
