"""Pair scoring: deterministic stub scorer (CI) + exact-architecture ELECTRA."""
