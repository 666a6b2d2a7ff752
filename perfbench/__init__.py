"""Validation-engine benchmark (see README.md)."""
