"""Committed-output extraction benchmark (see README.md)."""
