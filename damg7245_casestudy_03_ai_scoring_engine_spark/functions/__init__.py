from .core import clamp  # noqa: F401
from .text import stopword_ratio, token_count, word_tokens  # noqa: F401
from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
