from .arrow_matcher import make_arrow_matcher_udf
from .filters import apply_exclusions, apply_size_filter
from .hashes import with_hashes
from .ioc_join import (
    anti_join_fp_hashes,
    c2_reason_array,
    filename_reason_array,
    hash_reason_array,
)

__all__ = [
    "apply_exclusions",
    "apply_size_filter",
    "with_hashes",
    "anti_join_fp_hashes",
    "c2_reason_array",
    "filename_reason_array",
    "hash_reason_array",
    "make_arrow_matcher_udf",
]
