"""rag_pdf_parser_spark — a brand-new PySpark-native document-extraction engine.

Re-expresses the query/data-processing semantics of the reference
(JJo-0/RAG-PDF-Parser, a single-node Python PDF→IR→Markdown/JSONL CLI) as an
idiomatic Spark pipeline over Common-Crawl-style page tables
``(url, warc_ts, html, text, lang)``:

- a **pure-Python extraction kernel** (``kernel/``) with zero Spark imports —
  the same module is the pytest golden oracle AND the body of the
  ``mapInArrow`` / ``applyInArrow`` stages, so byte-identity of extracted
  text holds by construction;
- **operators/**: Spark-side stages — vectorized extraction, native-expression
  enrichments, chunking grouped-map, dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard), similarity search, quality scoring; every Python stage
  crosses the boundary through one row→Arrow-batch loop
  (``operators/arrowmap.py``);
- **plans/**: the end-to-end pipeline with skew-salted repartitioning,
  per-partition manifests, and anti-join resume;
- **streaming/**: Structured Streaming analogs (incremental processing).

Everything here derives from public knowledge only: the Apache Spark API and
the reference repo's observable behavior (cited by file:line in docstrings).
"""

__version__ = "0.1.0"
