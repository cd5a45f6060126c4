"""kgspark — a from-scratch, PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the PolMine/dbpedia reference (an R client
for DBpedia Spotlight, see /root/reference) as an idiomatic Spark DataFrame
pipeline: boilerplate-stripped HTML text extraction, overlap-preserving
segmentation, vectorized flat-matcher surface-form spotting over the lexicon,
prior + context-overlap disambiguation (Spotlight's public scoring model:
Mendes et al. 2011; Daiber et al. 2013), overlap detection/categorization/
resolution, coarse entity-type mapping, redirect/sameAs canonicalization and
(subj, pred, obj) triple materialization — plus the large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) such an engine needs at 100 TB.

Design rules (enforced throughout):
- DataFrame/Catalyst first; pandas/Arrow UDFs only where built-ins cannot
  express the semantics (HTML extraction, segmentation math, matcher
  spotting); never per-row Python UDFs.
- Small dimensions (lexicon, redirects, sameAs, stopwords) are broadcast.
- Heavy keys (head entities, giant documents) are salted / AQE-handled.
- Every stage is a pure DataFrame -> DataFrame function with an explicit
  schema, checkpointable with a per-partition lineage manifest (resumable).
"""

__version__ = "0.1.0"

from kgspark.session import get_spark  # noqa: F401
