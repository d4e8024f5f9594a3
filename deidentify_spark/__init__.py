"""deidentify_spark — PySpark-native web-text quality filter + PII scrubber.

A from-scratch PySpark engine with the capabilities of the reference Go
library aliengiraffe/deidentify (PII detection + deterministic
format-preserving replacement), fused into a staged Common-Crawl-style
quality-filter pipeline: language ID, hash n-gram perplexity, Gopher/C4
heuristic rules, then the scrub pass — all vectorized (Arrow pandas UDFs,
no per-row Python).

Layout:
  oracle/     scalar ground truth: faithful Python transcription of the
              reference algorithm (cited per function to file:line)
  functions/  vectorized pandas-UDF stages (scrub, langid, perplexity,
              quality) + text statistics
  operators/  dataset-scale operators (dedup, similarity search,
              multimodal plumbing)
  pipeline/   staged DataFrame plan, lineage metrics, checkpoint/resume
  sources/    deterministic synthetic page generator + IO helpers
"""

from deidentify_spark import _worker

__version__ = "0.1.0"

_worker.install()
