"""Stateful structured-streaming aggregates."""
