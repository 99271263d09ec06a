"""Relational operators: triple emission, dedup, canonicalization,
entity linking, exports and the SPARQL query surface over the KG."""
