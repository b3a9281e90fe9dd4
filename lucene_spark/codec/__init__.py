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
from lucene_spark.codec.frontcode import (
    TERMS_PER_BLOCK,
    decode_term_block,
    encode_term_block,
    pack_term_runs,
    write_dict_blocks,
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
    "TERMS_PER_BLOCK",
    "decode_term_block",
    "encode_term_block",
    "pack_term_runs",
    "write_dict_blocks",
    "NORM_TABLE",
    "encode_norm",
    "decode_norm",
    "encode_norm_array",
    "decode_norm_array",
    "length_norm",
]
