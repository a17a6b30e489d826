"""corenlp_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the extraction capabilities of Stanford CoreNLP.

Not a port: every stage is an immutable ``pyspark.sql`` DataFrame transform
(Arrow-batched pandas UDFs for the linguistic kernels, pure Spark SQL wherever
the semantics allow), designed for 10^12-document scale with explicit
doc_id partitioning, broadcast dictionaries, and AQE.

Reference parity citations (``/root/reference`` = stanfordnlp/CoreNLP) live in
each module's docstring as ``path:line``.
"""

__version__ = "0.1.0"
