"""Relational operators: triple emission, dedup, canonicalization,
entity linking, exports, the SPARQL query surface over the KG, and
what is left of the training-data toolkit (curation, media decoding,
event joins, link-graph analytics)."""
