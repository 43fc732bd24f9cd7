"""Hand-rolled numpy regression kernels (no sklearn in sandbox — SURVEY.md §0).

These run inside Arrow grouped-map UDFs; every function is a pure,
seeded, deterministic numpy computation so that "same input stream +
watermark => same output rows" holds under task retries and at any
parallelism (SURVEY.md §4.3 pin #1).
"""
