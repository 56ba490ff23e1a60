"""Resumable validation runtime: the check runner, the partition manifest,
checkpoints and metrics."""
