"""Large-scale training-data pipeline operators: deduplication, similarity
search, text analysis, multimodal plumbing. Hot paths are JVM-side (built-in
functions / higher-order array expressions); the multimodal decode/resize
seam runs Python in Arrow-batched mapInPandas, with a sha256-keyed stub as
its default decoder."""
