from .flatten import flatten_json  # noqa: F401
from .selection import select_features  # noqa: F401
from .string_tables import string_stats, build_string_tables, StringTable  # noqa: F401
from .weights import (  # noqa: F401
    zero_truncated_poisson,
    binary_reward,
    znormalize_reward,
    context_dropout,
    inverse_propensity_weight,
)
from .encode import propensity_training_rows, encode_to_vectors  # noqa: F401
from .loader import load_training_frame  # noqa: F401
from .scoring import score_items, rank_items  # noqa: F401
