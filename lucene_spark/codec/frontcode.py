"""Front-coded (shared-prefix) term dictionary blocks.

Reference: the `.tis` term dictionary stores every term as
(VInt prefixLen, suffix) against the previous term, with every 128th
term promoted to the in-RAM `.tii` index
(AbstractSegmentWriter.php:404-411,425-496; read side
SegmentInfo.php:980-1023, DictionaryLoader.php:34-243).

Spark mapping: the default term_dict parquet already gets
dictionary+RLE encoding from Parquet, but at 10^12-turn scale the
dictionary itself has billions of terms — this codec packs runs of
TERMS_PER_BLOCK sorted terms into one BINARY cell (prefix-coded,
UTF-8), with the run's first term as the block key. That gives the
`.tii`-equivalent two-level layout: a small block-key table (loadable/
broadcastable) pointing into opaque packed blocks, range-prunable on
(field, first_term).

Pure numpy/bytes functions — unit-testable without Spark.

Block layout (little per-entry framing, varint = LEB128):
    [n_terms varint]
    first term: [len varint][utf-8 bytes]
    then per term: [prefix_len varint][suffix_len varint][suffix bytes]
"""

from __future__ import annotations

TERMS_PER_BLOCK = 128  # ≙ reference indexInterval


def _write_varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    v = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def _shared_prefix_len(a: bytes, b: bytes) -> int:
    n = min(len(a), len(b))
    i = 0
    while i < n and a[i] == b[i]:
        i += 1
    return i


def encode_term_block(terms: list[str]) -> bytes:
    """Sorted terms → front-coded BINARY block."""
    out = bytearray()
    _write_varint(out, len(terms))
    prev = b""
    for j, t in enumerate(terms):
        tb = t.encode("utf-8")
        if j == 0:
            _write_varint(out, len(tb))
            out += tb
        else:
            p = _shared_prefix_len(prev, tb)
            _write_varint(out, p)
            _write_varint(out, len(tb) - p)
            out += tb[p:]
        prev = tb
    return bytes(out)


def decode_term_block(blob: bytes) -> list[str]:
    n, i = _read_varint(blob, 0)
    if n == 0:
        return []
    ln, i = _read_varint(blob, i)
    prev = blob[i : i + ln]
    i += ln
    out = [prev.decode("utf-8")]
    for _ in range(n - 1):
        p, i = _read_varint(blob, i)
        sl, i = _read_varint(blob, i)
        prev = prev[:p] + blob[i : i + sl]
        i += sl
        out.append(prev.decode("utf-8"))
    return out


def pack_term_runs(sorted_terms: list[str], block_size: int = TERMS_PER_BLOCK):
    """Sorted terms → [(first_term, n_terms, packed_bytes)] runs —
    the rows of a term_dict_blocks table."""
    out = []
    for s in range(0, len(sorted_terms), block_size):
        run = sorted_terms[s : s + block_size]
        out.append((run[0], len(run), encode_term_block(run)))
    return out


def write_dict_blocks(index_or_td, path: str | None = None,
                      assume_sorted: bool = False):
    """Pack a term dictionary into front-coded blocks — rows
    (field, first_term, n_terms, terms_bin). Accepts a SparkIndex or a
    term_dict DataFrame.

    Scale shape: one range-repartition + sort of the (field, term)
    columns, then one mapInPandas pass. The explicit repartitionByRange
    is NOT optional for a term_dict read back from parquet, even a
    sorted one: Spark packs small files into read partitions ordered by
    file SIZE, so an Arrow batch could concatenate two disjoint term
    ranges and a packed block at the seam would OVERLAP other blocks'
    key ranges — the paging reader (terms_from) assumes disjoint,
    monotonically keyed blocks and would silently skip terms. After the
    exchange every batch is sorted and batch/partition ranges are
    disjoint; blocks pack per (batch, field) run in parallel with no
    per-field single-task collect (edge batches just yield short
    blocks, which the decoder handles). The block-key table is the
    ``.tii``-equivalent upper level: small, range-prunable on
    (field, first_term), pointing into opaque packed blocks.

    ``assume_sorted=True`` skips that exchange: only valid when the
    caller hands a DataFrame whose DECLARED plan already range-
    partitions AND sorts by (field, term) — e.g. build_index's
    persisted td, fresh from repartitionByRange().sortWithinPartitions()
    — so batch/partition range disjointness holds by construction (the
    file-size repacking hazard above applies to parquet reads, not to
    an in-plan exchange, and holds even if the persisted data is
    evicted and recomputed from lineage). At dictionary scale this
    removes a full shuffle of every term string."""
    import pandas as pd

    from lucene_spark.index.tiers import TERM_DICT_FC_SCHEMA, read_table

    td = index_or_td if hasattr(index_or_td, "mapInPandas") else index_or_td.term_dict
    spark = td.sparkSession
    cols = [f.name for f in TERM_DICT_FC_SCHEMA.fields]

    def pack_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            rows = []
            for fld, grp in pdf.groupby("field", sort=False):
                terms = grp["term"].tolist()
                if terms != sorted(terms):  # defensive: unsorted source
                    terms = sorted(terms)
                rows.extend(
                    (fld, ft, n, blob) for ft, n, blob in pack_term_runs(terms)
                )
            yield pd.DataFrame(rows, columns=cols)

    n = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
    src = td.select("field", "term")
    if not assume_sorted:
        src = src.repartitionByRange(n, "field", "term").sortWithinPartitions(
            "field", "term"
        )
    df = src.mapInPandas(pack_batches, TERM_DICT_FC_SCHEMA)
    if path:
        df.repartitionByRange(n, "field", "first_term").sortWithinPartitions(
            "field", "first_term"
        ).write.mode("overwrite").parquet(path)
        df = read_table(spark, path, "term_dict_fc")
    return df
