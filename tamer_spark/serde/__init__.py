from tamer_spark.serde.avro import AvroCodec, encode_df

__all__ = [
    "AvroCodec",
    "encode_df",
]
