"""Pure-Python parser/resolution kernels (no Spark dependencies).

Each kernel implements the semantics of one reference parser pipe
(SURVEY.md §2.2) as a pure function ``(text, base_uri) -> (triples,
errors)`` suitable for vectorized execution inside mapInArrow.
"""
