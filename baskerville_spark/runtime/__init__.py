"""Resumable validation runtime: the check runner, the partition manifest,
state stores and metrics."""
