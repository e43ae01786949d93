from tamer_spark.serde.avro import AvroCodec, encode_df
from tamer_spark.serde.registry import FakeRegistry, check_compat

__all__ = [
    "AvroCodec",
    "encode_df",
    "FakeRegistry",
    "check_compat",
]
