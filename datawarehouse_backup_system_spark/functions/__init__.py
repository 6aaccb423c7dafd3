"""Scalar/text/vector function library — the engine's public expression
surface, re-exported from the operator modules that define them. All are
built-in-expression compositions (JVM-side, codegen'd); the
Arrow/pandas entry points are in ``operators.multimodal`` and
``operators.quantize.pq_encode_pandas``.
"""

from datawarehouse_backup_system_spark.operators.cast import (
    dob_string,
    parse_timestamp,
    scrub_nulls,
    strip_trailing_dot_zero,
)
from datawarehouse_backup_system_spark.operators.dedup_approx import (
    hamming_distance,
    simhash_expr,
)
from datawarehouse_backup_system_spark.operators.hashing import (
    row_hash_col,
    with_row_hash,
)
from datawarehouse_backup_system_spark.operators.similarity import (
    cosine,
    deterministic_planes,
    dot,
    hyperplane_bucket,
    norm,
    sign_bucket,
)
from datawarehouse_backup_system_spark.operators.multimodal import (
    png_dims,
)
from datawarehouse_backup_system_spark.operators.text import (
    punct_count,
    stopword_hits,
    subword_count,
    token_count,
    tokens,
)
from datawarehouse_backup_system_spark.operators.quantize import (
    dequantize,
)
from datawarehouse_backup_system_spark.operators.zorder import (
    morton_code,
)

__all__ = [
    "cosine", "deterministic_planes", "dob_string", "dot",
    "hamming_distance", "hyperplane_bucket", "norm",
    "parse_timestamp", "png_dims", "punct_count", "row_hash_col",
    "scrub_nulls", "sign_bucket", "simhash_expr", "stopword_hits",
    "strip_trailing_dot_zero", "subword_count", "token_count", "tokens",
    "with_row_hash", "dequantize", "morton_code",
]
