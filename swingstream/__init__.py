"""swingstream — a from-scratch PySpark-native streaming inference engine.

Recasts the query/data-processing capabilities of bagherilab/SWING
(Sliding Window Inference for Network Generation, PNAS 115(9) 2018) as a
Spark Structured Streaming / CEP pipeline over an Iceberg-style table of
Common-Crawl-style web pages.  See SURVEY.md for the operator inventory
and the reference-citation convention (the reference mount was empty this
session; all ``[ref: ...~L?]`` citations are reconstructed from public
knowledge of the repo + paper, and the binding semantics are pinned in
SURVEY.md + this package's goldens).

Spark-first design: DataFrame/SQL declarative plans, Catalyst/Tungsten
optimization, Arrow-vectorized pandas UDFs for the numpy regression
kernels, Structured Streaming for the continuous pipeline.  No RDDs, no
per-row Python.
"""
