"""KG-construction benchmark: seeded inputs, workloads, output checks,
tracing and the statistics helpers they share.

Every module here calls the engine (``context_aware_rag_spark``) only
through its public functions; nothing in the engine knows it is being
measured.
"""
