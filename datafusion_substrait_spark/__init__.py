"""datafusion-substrait-spark: a PySpark-native re-expression of
``datafusion-contrib/datafusion-substrait`` (plan-interchange producer /
consumer / serializer), plus large-scale pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) built Spark-first.

Public API (≡ src/lib.rs:1-3 exposing consumer/producer/serializer):

    from datafusion_substrait_spark import (
        to_substrait_plan, from_substrait_plan, serialize, deserialize,
        to_sql,
    )
"""

from datafusion_substrait_spark.plans.consumer import from_substrait_plan, to_sql
from datafusion_substrait_spark.plans.producer import to_substrait_plan
from datafusion_substrait_spark.plans.proto import SubstraitError
from datafusion_substrait_spark.plans.serializer import (
    deserialize,
    roundtrip,
    serialize,
)

__all__ = [
    "SubstraitError",
    "deserialize",
    "from_substrait_plan",
    "roundtrip",
    "serialize",
    "to_sql",
    "to_substrait_plan",
]
