"""kolibrie_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of StreamIntelligenceLab/Kolibrie.

The engine stores RDF quads as a DataFrame (``s, p, o, g`` string columns),
compiles the reference's supported SPARQL 1.1 fragment to Spark SQL /
Catalyst plans, runs RSP-QL continuous queries on Structured Streaming, and
adds LLM-data-pipeline operators (text analysis, keyword search, profiling)
on the same DataFrame substrate.

Design stance (see SURVEY.md): this is a re-expression of the reference's
*semantics* in idiomatic Spark — DataFrame/SQL declarative plans optimized
by Catalyst/AQE — not a port of its Rust binding-passing interpreter.
"""

from kolibrie_spark.engine import SparqlEngine
from kolibrie_spark.store import QuadStore

# Reference-bindings drop-in surface (``import kolibrie_spark.compat as
# kolibrie`` runs the reference's Python example scripts verbatim) lives
# in kolibrie_spark.compat; imported lazily there to keep this package
# import light.

__all__ = ["SparqlEngine", "QuadStore"]
__version__ = "0.1.0"
