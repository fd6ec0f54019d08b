"""semargl_spark — a PySpark-native knowledge-graph construction engine.

From-scratch reimplementation of the *capabilities* of
semarglproject/semargl (streaming RDF extraction: RDFa, JSON-LD,
NTriples, NQuads, RDF/XML → triples/quads) re-expressed as Spark
DataFrame stages over transcript tables, plus the KG-pipeline stages
the reference leaves to its sinks: entity linking, canonicalization
(connected components), graph materialization, and large-scale
training-data operators (dedup, similarity search, text analysis).

Architecture (SURVEY.md §7):

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      → [extract]  mapInArrow vectorized parser kernels → triples
      → [link]     broadcast-dictionary entity linking
      → [canon]    connected components (contraction rounds, driver union-find finish)
      → [merge]    nodes/edges tables + lineage/metrics side outputs

Parser kernels are pure Python (no Spark imports) so they are unit
testable and reusable inside any Arrow-batched UDF.
"""

__version__ = "0.1.0"

from ._worker_guard import install_in_worker

install_in_worker()  # PySpark workers only: see _worker_guard
