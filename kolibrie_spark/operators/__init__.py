"""LLM-data-pipeline operators on the DataFrame substrate: text analysis,
keyword search, profiling.

These go beyond the reference's own surface (BASELINE.json north star) and
are designed for 100 TB: built-in column expressions (JVM, whole-stage
codegen) wherever possible, candidate pruning instead of all-pairs joins,
Arrow-batched pandas UDFs where Python is unavoidable.
"""
