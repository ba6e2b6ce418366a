"""Beyond-reference operators: MinHash/LSH, graph, sketches, sampling, temporal joins."""
