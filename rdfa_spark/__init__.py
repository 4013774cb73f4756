"""rdfa_spark — PySpark-native knowledge-graph construction engine.

Re-expresses the extraction semantics of the reference RDFa parser
(a Perl document->RDF transducer) as a Spark-first pipeline:

* ``core/``       pure-Python RDFa processing model (no Spark, no lxml)
* ``extract``     Arrow-batched extraction UDF: pages -> triples/errors
* ``pages``       deterministic page synthesis from the documents table
* ``pipeline/``   dedup, entity linking, connected components,
                  materialize with lineage + checkpointed resume
* ``functions/``  text analysis + embedding similarity ops
* ``streaming/``  incremental extraction via Structured Streaming
* ``_worker``     Python-worker start-up: stat-guarded zipimport
                  invalidation, installed only inside a Spark task
"""

__version__ = "0.1.0"

from rdfa_spark import _worker

# inside a PySpark task: stop every task re-reading pyspark.zip
_worker.install()
