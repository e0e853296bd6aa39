"""Doc-type matcher + content-type derivation — SURVEY.md O15.

Reference semantics ([GH] scraper.py::checkmatch/typelink, C1/C2):
a link is a document iff its Content-Type (parameters stripped at ';')
equals the seed's doc_type, OR doc_type is application/pdf and the URL
lowercased ends with '.pdf'. A missing page wins over the extension branch
(reference: HTTP error -> badlink). Pure Catalyst column expressions —
whole-stage-codegen friendly, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_type_col(html: Column) -> Column:
    """Fixture-controlled content type: %PDF magic -> application/pdf,
    NULL html -> NULL (missing), else text/html (SURVEY.md O15)."""
    return F.when(html.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(
            F.substring(html.cast("binary"), 1, 4) == F.lit(b"%PDF"),
            F.lit("application/pdf"),
        ).otherwise(F.lit("text/html"))
    )


def matched_by_col(content_type: Column, url: Column, doc_type: Column) -> Column:
    """'content_type' | 'extension' | NULL — mirrors oracle_match exactly."""
    ct_main = F.trim(F.split(content_type, ";").getItem(0))
    return F.when(content_type.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(ct_main == doc_type, F.lit("content_type")).otherwise(
            F.when(
                (doc_type == "application/pdf")
                & F.lower(url).endswith(".pdf"),
                F.lit("extension"),
            )
        )
    )
