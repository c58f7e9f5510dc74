from .hashing import md5_int31, md5_int60
from .text import hashtags, tokens, word_shingles
from .vectors import dot_product, l2_norm

__all__ = [
    "md5_int31",
    "md5_int60",
    "hashtags",
    "tokens",
    "word_shingles",
    "dot_product",
    "l2_norm",
]
