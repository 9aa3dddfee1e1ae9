"""similarity_analysis_big_data_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic DataFrame/SQL re-expression of the capabilities of
``nates27/similarity-analysis-big-data`` (a hand-rolled RDD TF-IDF /
cosine-similarity pipeline, see ``/root/reference/lab2.py``), widened into a
general analytics + training-data-pipeline engine:

- relational core (scans, filters, joins, aggs, windows, set ops)
- text preprocessing + exact sklearn-formula TF-IDF (reference parity)
- sparse cosine similarity joins (the reference's cartesian, reformulated)
- dedup family (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding)
- similarity search over embeddings (brute-force + LSH-bucketed ANN)
- text analysis (language-ID, quality scores, token counts, fingerprints)
- multimodal binary-column plumbing (fake decode, real Spark plumbing)
- structured streaming over the events table

Design stance (SURVEY.md §7): one DataFrame/SQL engine; the RDD API is not
used anywhere; explicit schemas at every boundary; AQE on; Python crossings
only via Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"
