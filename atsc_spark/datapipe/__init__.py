"""Training-data pipeline operators: dedup (document- and span-level),
similarity search, text analysis, Gopher-style repetition filters,
PII scrub, eval-set decontamination, deterministic sampling/mixing,
chunking/packing."""
