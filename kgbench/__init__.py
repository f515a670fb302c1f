"""KG benchmark for rdf_rdfxml_spark (see README.md)."""
