from .ohlc import ohlc_bars
from .text import (
    STOPWORDS,
    chunk_array,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)

__all__ = [
    "STOPWORDS",
    "chunk_array",
    "doc_fingerprint",
    "lang_id",
    "ohlc_bars",
    "quality_score",
    "token_count",
]
