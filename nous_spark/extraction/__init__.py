"""Scalar extraction functions fused by pipeline.stage_extract: html->text,
identifier mentions, OIE triples."""
