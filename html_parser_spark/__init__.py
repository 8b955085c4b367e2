"""html_parser_spark — a PySpark-native HTML extraction / analytics engine.

A from-scratch reimplementation of the capabilities of the reference
engine ``SmallThingz/html_parser`` (a single-node Zig HTML parser +
CSS-selector library, surveyed in SURVEY.md) as an idiomatic Spark
stack:

* ``kernel``     — pure-Python/bytes HTML tokenizer, array-backed DOM,
                   entity/text decode, attribute parser, CSS selector
                   compiler and matcher.  This is the per-row engine
                   that runs *inside* Arrow-batched pandas UDFs; it has
                   no Spark dependency and is unit-tested against the
                   reference's own fixture matrix.
* ``operators``  — vectorized Spark operators built on the kernel
                   (selector counts, innerText, main-content
                   extraction) plus training-data-pipeline operators
                   (dedup exact/MinHash/SimHash/Jaccard, embedding
                   similarity, text stats, multimodal plumbing).
* ``sources``    — input-table builders (synthetic transcripts per
                   BASELINE.json ``input_hint``) and readers.
* ``plans``      — the end-to-end extraction pipeline: partitioning +
                   skew salting, ordering assertion, per-bucket
                   commit/lineage control table, idempotent resume.
* ``streaming``  — Structured Streaming variant of the extraction
                   stage with watermarked windowed metrics.
"""

__version__ = "0.1.0"
