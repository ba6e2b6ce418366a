"""Beyond-reference operators: dedup, similarity search, multimodal, graph, sketches."""
