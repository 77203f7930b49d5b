"""Scalar extraction functions fused by pipeline.stage_extract: html->text
(the fold of HTML_STRIP_STEPS, the one HTML->text spec), identifier
mentions, OIE triples."""
