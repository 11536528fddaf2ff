"""Relational operator library (SURVEY.md §2): analytics, lifecycle,
dedup, similarity, text analysis."""
