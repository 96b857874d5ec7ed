"""pcap_converter_spark — a PySpark-native analytics engine with the
capabilities of NLADC/pcap-converter (reference: /root/reference), rebuilt
Spark-first.

Layers
------
- ``sources``   : pcap/pcapng and WARC exact chunk indexers + distributed
                  readers (the one operator Spark lacks natively), every
                  file indexed by a sequential header walk.
- ``decode``    : the extraction layer (E1-E17 in SURVEY.md §2.2) —
                  ``vectorized`` NumPy columnar slicing under
                  ``mapInPandas``, with ``parser`` as the scalar spec.
- ``operators`` : relational + pipeline operators (defrag R2-R6, convert,
                  dedup, similarity search, multimodal plumbing, registry).
- ``functions`` : JVM-side column expressions (text analysis, vector math).
- ``io``        : testdata loaders and Parquet sinks.
- ``queries``   : the declared correctness query registry (SURVEY.md §2.6)
                  with dual-dialect (Spark DataFrame / DuckDB SQL) entries.
- ``streaming`` : Structured Streaming variants of the window operators.
- ``plans``     : physical-plan audit helpers (broadcast/pushdown/codegen).
- ``cli``       : the reference's CLI surface (python -m pcap_converter_spark).
"""

__version__ = "0.1.0"

from pcap_converter_spark.session import get_spark  # noqa: F401
