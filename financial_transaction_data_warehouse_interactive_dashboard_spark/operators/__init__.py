"""Beyond-reference operators: dedup, graph, sketches, sampling, temporal joins."""
