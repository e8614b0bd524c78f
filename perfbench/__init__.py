"""Repeatable end-to-end benchmark of the archive engine; see README.md."""
