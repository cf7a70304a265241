"""Benchmark of record for the JIRA→git CDC sync (see README.md)."""
