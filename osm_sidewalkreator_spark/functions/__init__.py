"""Arrow-vectorized scalar geometry functions (pandas UDFs) over WKB
columns: length, endpoints, TM projection and segment explode. The hot
paths (tiling, distance math, hashing) stay in
``pyspark.sql.functions`` built-ins; WKB decode/encode is the only work
that crosses into Python, batched via Arrow.
"""

from .geo import (st_endpoints, st_length, st_transform_tm,
                  st_explode_segments)

__all__ = [
    "st_endpoints", "st_length", "st_transform_tm", "st_explode_segments",
]
