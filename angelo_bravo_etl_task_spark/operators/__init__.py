"""Operator library — small composable functions over DataFrames/Columns.

Each module covers one row-group of SURVEY.md §2:

- ``joins``      — R1 + extension joins (inner/left/right/full/semi/anti,
                   broadcast hint, range & as-of joins)
- ``dedup``      — R2 last-wins dedup, content-hash dedup, and near-dup over
                   one gram-hash frame: MinHash-LSH, gram-Jaccard confirm,
                   SimHash (LLM-pipeline surface)
- ``agg``        — R3 decimal-exact sums/averages, exact multi-quantiles
- ``project``    — R5/R7/R8/R9/R10 projection builders (CASE, visual
                   attributes)
- ``filters``    — R6 constraint filter
- ``strings``    — R12/R13/R14 + F1-F7 string/path operators
- ``windows``    — row-number / lag-lead windows, per-group top-k
- ``setops``     — union all / intersect / except
- ``similarity`` — cosine top-k (brute force, hyperplane LSH, IVF, PQ)
- ``text``       — tokenize, language-ID, repetition features, fingerprinting,
                   winnowing
- ``multimodal`` — binary-column plumbing (decode/extract stubs over
                   mapInPandas)

Shared building blocks: ``graph`` (connected components over dedup pairs),
``partitioning`` (spread, salted join), ``profile`` (single-pass column
profiling), ``sampling`` (deterministic hash sampling) and ``localframe``
(small literal frames via Arrow).
"""
