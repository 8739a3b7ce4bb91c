"""Structured Streaming operators behind the drained-backlog registry rows
(SURVEY.md §2.B streaming row); the batch equivalents live in operators/
and serve as their oracles."""
