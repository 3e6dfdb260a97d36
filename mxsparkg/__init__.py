"""mxsparkg — PySpark-native knowledge-graph construction engine.

From-scratch build (NOT a port) with the capabilities of eldams/mXS
generalized to web-scale triple extraction. The reference checkout at
/root/reference was EMPTY at survey time (SURVEY.md §0 affidavit), so
semantics derive from BASELINE.json's north_star/north_rule and mXS's
published papers (Nouvel et al., LTC 2011; Nouvel PhD 2012).

Layout (SURVEY.md §7.0):
  textcore   — pure-Python extractor/tokenizer/trie, shared with reference_impl/
  lexicons   — built-in word→category lists (mXS-style generalization hierarchy)
  session    — SparkSession factory tuned for the pipeline
  catalog    — table IO abstraction (iceberg when jar present | parquet fallback)
  extract    — U1 byte-identical HTML→text (pandas UDF, scalar-iterator)
  detect     — U3 trie mention detection + predicate pairing (mapInArrow)
  link       — J1/U4/W1 dictionary+context entity linking, NIL handling
  graph      — G1 connected components (large/small-star), G2 rewrite, rollups
  mining     — M1 PrefixSpan rule mining + confidence scoring, M2 trie build
  metrics    — U8/S6 per-file lineage + metrics rows (driver-side, no job)
  pipeline   — lifecycle C: staged DAG with checkpoint/resume manifests
  contract   — driver-contract relational operators (SURVEY.md §2 keys)
  datapipe   — training-data ops: dedup, similarity search, text analysis,
               multimodal column plumbing
"""

__version__ = "0.1.0"
