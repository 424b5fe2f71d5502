"""Column-function façade: the engine's reusable expression helpers,
plus Python implementations for the reference's JS temp-function
surface (register via Engine(udf_registry=...))."""

from ..operators.hashing import h32
from ..operators.text import doc_fingerprint, normalized_text, tokens
from .bigquery_compat import standard_rule

__all__ = [
    "h32",
    "doc_fingerprint",
    "normalized_text",
    "tokens",
    "standard_rule",
]
