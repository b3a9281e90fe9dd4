from lucene_spark.codec.varbyte import (
    vb_encode,
    vb_decode,
    delta_encode,
    delta_decode,
    encode_blocks,
    decode_blocks,
    freq_stream_encode,
    freq_stream_decode,
)
from lucene_spark.codec.norms import (
    NORM_TABLE,
    encode_norm,
    decode_norm,
    encode_norm_array,
    decode_norm_array,
    length_norm,
)

__all__ = [
    "vb_encode",
    "vb_decode",
    "delta_encode",
    "delta_decode",
    "encode_blocks",
    "decode_blocks",
    "freq_stream_encode",
    "freq_stream_decode",
    "NORM_TABLE",
    "encode_norm",
    "decode_norm",
    "encode_norm_array",
    "decode_norm_array",
    "length_norm",
]
