"""Reusable DataFrame-level operators.

- :mod:`.asof`        — as-of / nearest-prior join (sort-merge, 1-shuffle)
- :mod:`.multimodal`  — binary media columns + real Arrow-batched codecs
  (WAV PCM16 / PPM P6 / Y4M 4:2:0 encode+decode; only codec-library
  formats like JPEG/MP4 raise honestly)

The dedup / similarity-search / text-analysis operators are declared as
catalog queries in :mod:`..plans.queries_llm` (each with a DuckDB
oracle); their building blocks live in :mod:`..functions`.
"""

from .asof import asof_join                                   # noqa: F401
