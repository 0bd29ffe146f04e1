"""dump1090_db_stream_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of tomswartz07/dump1090-db-stream.

The reference is a streaming ETL system: a Python ingester parses SBS-1
BaseStation CSV lines from a dump1090 TCP socket and appends them to a
PostgreSQL table; three SQL views (callsigns / locations / flights) plus a
documented ad-hoc query corpus form the query surface
(reference: dump1090-postgres.py, create_schema.sql, README.md).

This package re-expresses that surface Spark-first:

- ``schema``            fixed 23-column StructType (create_schema.sql:52-76)
- ``functions.parser``  SBS-1 line -> typed row, pure Column expressions
- ``operators.views``   callsigns / locations / flights as DataFrame builders
- ``sources``           testdata parquet loader + aircraft.json snapshot
                        parse (the socket/file streams are Spark's built-in
                        sources, see ``streaming.pipeline``)
- ``sinks``             append-mode parquet (date-partitioned) / JDBC sinks
- ``streaming``         Structured Streaming ingest pipeline
- ``operators.dedup``   exact / MinHash-LSH / SimHash / n-gram near-dup
- ``operators.similarity``  cosine top-k: brute force, LSH, IVF, PQ, IVF+PQ
- ``operators.text``    language-ID, quality scoring, tokenization, fingerprints
- ``operators.cleaning``    normalization, PII scrub, repetition filters
- ``operators.sampling``    hash split, stratified cap, mixture sampling
- ``operators.packing``     context-window chunking, sequence packing
- ``operators.relevance``   TF-IDF / BM25 lexical scoring
- ``operators.graph``       dedup clustering: connected components
  (min-label + O(log n) star contraction), survivor selection
- ``operators.sketches``    HLL++ / mergeable / portable distinct sketches
- ``operators.rollup``      multi-resolution continuous-aggregate rollup
- ``operators.sessions``    band join, as-of join, key dedup, sessions
- ``operators.versioning``  digest-only corpus diff
- ``operators.geo``         radius join, WKT/WKB emission
- ``operators.multimodal``  binary-column feature plumbing (mapInPandas)
"""

from dump1090_db_stream_spark.cache import release_tracked
from dump1090_db_stream_spark.session import get_spark

__all__ = ["get_spark", "release_tracked"]
__version__ = "0.1.0"
