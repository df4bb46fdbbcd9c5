"""Reusable Column-expression helpers (the engine's scalar/array function
surface, SURVEY §2.8/§2.10 — all JVM-side, no UDFs). Shingle hashing
is not here: it is a frame-level kernel, not a Column expression
(operators/dedup.shingle_hashes).

Re-exported from the operator modules that own them so library users have
one import point:

    from trino_adaptive_partitioning_tool_spark.functions import (
        cosine_expr, tokens_expr, cardinality_band_bonus,
        transform_expr,
    )
"""

from ..operators.dedup import tokens_expr
from ..operators.scoring import cardinality_band_bonus
from ..operators.similarity import cosine_expr, hyperplane_signature
from ..operators.transforms import (
    transform_expr,
    transform_to_partition_column,
)

__all__ = [
    "cardinality_band_bonus",
    "cosine_expr",
    "hyperplane_signature",
    "tokens_expr",
    "transform_expr",
    "transform_to_partition_column",
]
