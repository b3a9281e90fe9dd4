"""The tier catalog: the one module that knows how an index directory is
laid out (≙ the segments file ``Index::_readSegmentsFile()`` reads
in-process, src/Index.php:294-380). Every view unions the TIERS, base first:

    <index_dir>/                  base: docs postings term_dict tombstones
                                  stats.json
    gens/gen=<g>/                 sealed generation: docs postings term_dict meta
    delta/<table>/batch=<b>/      live micro-batch: docs postings term_dict meta

A generation is durable once ``meta/_SUCCESS`` exists (a meta-less one is
a crashed promote, reclaimed by the next promote), a delta batch once its
meta row exists; metas are written after the tier's tables. A batch named
in a durable generation's meta is PROMOTED: read from there, never from
the live delta. ``_merge_commit.json`` is a merge's point of no return.

Meta rows are read and written with pyarrow on the driver, and every table
is opened with its schema — declared here, or for docs the one Spark
stored in the parquet footer (the caller picks docs column types) — so
opening an index schedules no Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field as dc_field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DELTA_DIR, GENS_DIR, META, SUCCESS = "delta", "gens", "meta", "_SUCCESS"
MERGE_MARKER = "_merge_commit.json"
BASE_TABLES = ("postings", "term_dict", "docs")  # merge restages


def _struct(**cols) -> StructType:
    return StructType([StructField(name, t) for name, t in cols.items()])


_S, _L, _I, _B = StringType(), LongType(), IntegerType(), BinaryType()
POSTINGS_SCHEMA = _struct(
    field=_S, term=_S, doc_base=_L, max_docid=_L, n=_I,
    # Pareto-optimal (tf, dl) impact pairs of the block's docs — no doc
    # has higher tf AND lower dl than a stored pair. The block score
    # bound is max over pairs of partial(tf, dl), far tighter than
    # partial(max_tf, min_dl), which pairs one doc's tf with ANOTHER
    # doc's dl (Lucene's impacts idea). Evaluated at query time because
    # partial() depends on avgdl. Typically 1-5 pairs.
    imp_tfs=ArrayType(_I), imp_dls=ArrayType(_I),
    cf=_L, docs_bin=_B, tfs_bin=_B, dls_bin=_B, pos_bin=_B,
)
_SCHEMAS = {
    "postings": POSTINGS_SCHEMA,
    "term_dict": _struct(field=_S, term=_S, df=_L, cf=_L),
    "tombstones": _struct(doc_id=_L, gen=_L),
}
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# meta rows; field_stats is JSON {field: {sum_len, n_docs_with_field}}
DELTA_META_SCHEMA = pa.schema(
    [("batch_id", pa.int64()), ("n_docs", pa.int64()),
     ("doc_base", pa.int64()), ("field_stats", pa.string())]
)
GEN_META_SCHEMA = pa.schema(  # batch_ids: JSON list of the sealed batches
    [("batch_ids", pa.string()), ("n_docs", pa.int64()), ("field_stats", pa.string())]
)


def _parquet_files(root: str) -> list[str]:
    """Data files under ``root``, sorted, skipping ``_``/``.`` entries
    (``_SUCCESS``, ``_temporary``) as Spark does."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(dirpath, f) for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def read_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Open an engine-written ``table`` with its schema: no inference job.
    Partition columns (``batch``, ``seg_chunk``) come from the dir names."""
    if table == "docs":
        meta = pq.read_schema(_parquet_files(path)[0]).metadata
        schema = StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    else:
        schema = _SCHEMAS[table]
    return spark.read.schema(schema).parquet(path)


def delta_dir(index_dir: str, table: str, batch_id: int) -> str:
    return os.path.join(index_dir, DELTA_DIR, table, f"batch={int(batch_id)}")


def tombstones_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    p = tombstones_dir(index_dir)
    if os.path.exists(os.path.join(p, SUCCESS)):
        return read_table(spark, p, "tombstones")
    return None


def _tombstone_files(index_dir: str) -> list[str]:
    p = tombstones_dir(index_dir)
    return _parquet_files(p) if os.path.exists(os.path.join(p, SUCCESS)) else []


def tombstone_ids(index_dir: str, doc_id: int | None = None) -> pa.Array:
    """The distinct tombstoned doc ids (only ``doc_id``, if given), read
    with pyarrow on the driver."""
    files = _tombstone_files(index_dir)
    if not files:
        return pa.array([], pa.int64())
    flt = None if doc_id is None else pads.field("doc_id") == int(doc_id)
    ids = pads.dataset(files, format="parquet").to_table(["doc_id"], filter=flt)
    return pc.unique(ids.column("doc_id"))


def append_tombstones(index_dir: str, doc_ids: list[int], gen: int) -> None:
    """Append tombstone generation ``gen`` for ``doc_ids``, written with
    pyarrow on the driver: a hidden temp file renamed into place, then
    ``_SUCCESS`` (as a Spark append leaves the directory)."""
    p = tombstones_dir(index_dir)
    os.makedirs(p, exist_ok=True)
    ids = [int(d) for d in doc_ids]
    tbl = pa.Table.from_pydict(
        {"doc_id": ids, "gen": [int(gen)] * len(ids)},
        schema=to_arrow_schema(_SCHEMAS["tombstones"]),
    )
    name = f"part-{int(gen):05d}-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(p, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(p, name))
    open(os.path.join(p, SUCCESS), "w").close()


def next_tombstone_gen(index_dir: str) -> int:
    """One past the highest tombstone ``gen``, taken from the parquet
    footers' column statistics (a row group without them is read); 0
    when nothing is tombstoned."""
    top = -1
    for path in _tombstone_files(index_dir):
        f = pq.ParquetFile(path)
        col = f.schema_arrow.get_field_index("gen")
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(col).statistics
            if st is None or not st.has_min_max:
                gens = f.read_row_group(rg, columns=["gen"]).column("gen")
                top = max(top, pc.max(gens).as_py())
            else:
                top = max(top, st.max)
    return top + 1


def sum_fields(*parts: dict) -> dict[str, dict[str, int]]:
    """Per-field ``{sum_len, n_docs_with_field}`` summed over dicts shaped
    like stats.json's ``fields`` (other keys, e.g. ``kind``, are kept from
    the first part naming the field)."""
    out: dict[str, dict] = {}
    for fields in parts:
        for f, fs in fields.items():
            agg = out.setdefault(f, {**fs, "sum_len": 0, "n_docs_with_field": 0})
            agg["sum_len"] += fs["sum_len"]
            agg["n_docs_with_field"] += fs["n_docs_with_field"]
    return out


def docs_fields(docs: DataFrame, field_policy: dict) -> tuple[int, dict]:
    """``(n_docs, fields)`` of a docs frame in one job: the row count and,
    per text or keyword field, the sum of ``len_<f>`` and the count of
    docs where it is > 0."""
    names = [f for f, k in field_policy.items() if k in ("text", "keyword")]
    aggs = [F.count("*").alias("n_docs")]
    for f in names:
        aggs.append(F.sum(F.col(f"len_{f}")).alias(f"sum_{f}"))
        aggs.append(F.sum((F.col(f"len_{f}") > 0).cast("long")).alias(f"cnt_{f}"))
    row = docs.agg(*aggs).collect()[0]
    return int(row["n_docs"]), {
        f: {"sum_len": int(row[f"sum_{f}"] or 0),
            "n_docs_with_field": int(row[f"cnt_{f}"] or 0)}
        for f in names
    }


def _read_rows(meta_dir: str, schema: pa.Schema) -> list[dict]:
    rows: list[dict] = []
    for path in _parquet_files(meta_dir):
        try:
            rows += pq.read_table(path, schema=schema).to_pylist()
        except FileNotFoundError:
            continue  # removed by a concurrent merge swap after the listing
    return rows


def _write_row(meta_dir: str, schema: pa.Schema, row: dict) -> None:
    """Replace ``meta_dir``'s contents with one row, renamed into place,
    then ``_SUCCESS`` (mode=overwrite, as Spark would write it)."""
    os.makedirs(meta_dir, exist_ok=True)
    tmp = os.path.join(meta_dir, "_part-00000.tmp")
    pq.write_table(pa.Table.from_pylist([row], schema=schema), tmp)
    for entry in os.listdir(meta_dir):
        p = os.path.join(meta_dir, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif p != tmp:
            os.remove(p)
    os.rename(tmp, os.path.join(meta_dir, "part-00000-c000.snappy.parquet"))
    open(os.path.join(meta_dir, SUCCESS), "w").close()


def delta_high_water(index_dir: str, below: int) -> int:
    """max(doc_base + n_docs) over the durable delta batches numbered
    below ``below`` (promoted ones included); 0 when there are none."""
    metas = _read_rows(os.path.join(index_dir, DELTA_DIR, META), DELTA_META_SCHEMA)
    return max(
        (m["doc_base"] + m["n_docs"] for m in metas if m["batch_id"] < below), default=0
    )


def write_delta_meta(index_dir: str, batch_id, n_docs, doc_base, fields) -> None:
    """Make a delta batch durable — after its tables are written."""
    row = {"batch_id": int(batch_id), "n_docs": int(n_docs),
           "doc_base": int(doc_base), "field_stats": json.dumps(fields)}
    _write_row(delta_dir(index_dir, META, batch_id), DELTA_META_SCHEMA, row)


def write_gen_meta(gen_dir: str, sealed: Tier) -> None:
    """Make a generation holding ``sealed``'s batches durable — after its
    tables are written."""
    row = {"batch_ids": json.dumps(sorted(sealed.batch_ids)),
           "n_docs": sealed.n_docs, "field_stats": json.dumps(sealed.fields)}
    _write_row(os.path.join(gen_dir, META), GEN_META_SCHEMA, row)


@dataclass(frozen=True)
class Tier:
    """One tier's tables under ``root``, its doc count and per-field
    length sums (zero for the base: those live in stats.json).
    ``batch_ids``: a generation's sealed batches, or the live delta's —
    whose tables hold every batch as a ``batch=<b>`` partition
    (``partitioned``), so reads keep only these."""

    root: str
    n_docs: int = 0
    fields: dict = dc_field(default_factory=dict)
    batch_ids: tuple[int, ...] = ()
    partitioned: bool = False

    def table_dirs(self, table: str) -> list[str]:
        path = os.path.join(self.root, table)
        if not self.partitioned:
            return [path]
        return [os.path.join(path, f"batch={b}") for b in self.batch_ids]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        df = read_table(spark, os.path.join(self.root, table), table)
        if self.partitioned:
            df = df.where(F.col("batch").isin(list(self.batch_ids))).drop("batch")
        return df


def _tier(root: str, metas: list[dict], batch_ids, partitioned=False) -> Tier:
    fields = sum_fields(*(json.loads(m["field_stats"]) for m in metas))
    n_docs = sum(m["n_docs"] for m in metas)
    return Tier(root, n_docs, fields, tuple(sorted(batch_ids)), partitioned)


def _gen_tier(gdir: str) -> Tier:
    metas = _read_rows(os.path.join(gdir, META), GEN_META_SCHEMA)
    return _tier(gdir, metas, {b for m in metas for b in json.loads(m["batch_ids"])})


def _durable_gens(index_dir: str) -> list[str]:
    """Generation dirs with ``meta/_SUCCESS``, by generation number."""
    root = os.path.join(index_dir, GENS_DIR)
    entries = os.listdir(root) if os.path.isdir(root) else []
    gens = [e for e in entries if e.startswith("gen=")]
    return [
        os.path.join(root, e)
        for e in sorted(gens, key=lambda e: int(e.split("=", 1)[1]))
        if os.path.exists(os.path.join(root, e, META, SUCCESS))
    ]


@dataclass(frozen=True)
class Catalog:
    """An index's durable tiers at one moment: the base, the sealed
    generations by number, and the live (unpromoted) delta batches."""

    index_dir: str
    gens: tuple[Tier, ...]
    live: Tier | None

    @property
    def upper(self) -> tuple[Tier, ...]:
        """Every tier above the base, oldest first."""
        return self.gens + ((self.live,) if self.live else ())

    @property
    def tiers(self) -> tuple[Tier, ...]:
        return (Tier(self.index_dir),) + self.upper

    @property
    def n_docs(self) -> int:
        """Docs above the base."""
        return sum(t.n_docs for t in self.upper)

    @property
    def batches(self) -> list[int]:
        """Every delta batch above the base (sealed and live)."""
        return sorted({b for t in self.upper for b in t.batch_ids})

    def field_totals(self, base: dict) -> dict[str, dict[str, int]]:
        """``base`` (stats.json's ``fields``) plus every tier's per-field
        length sums, over the base's fields."""
        total = sum_fields(base, *(t.fields for t in self.upper))
        return {f: total[f] for f in base}

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """One view over every tier's ``table``, base first, unioned by
        name per tier (docs column types are the caller's)."""
        out = None
        for t in self.tiers:
            df = t.read(spark, table)
            out = df if out is None else out.unionByName(df.select(out.columns))
        return out

    def claim_gen_dir(self) -> str:
        """Dir for the next generation, one past the highest durable one;
        a dir already there is a crashed promote's and is removed."""
        n = max((int(t.root.rsplit("=", 1)[1]) for t in self.gens), default=-1) + 1
        gdir = os.path.join(self.index_dir, GENS_DIR, f"gen={n}")
        shutil.rmtree(gdir, ignore_errors=True)
        return gdir


def read_catalog(index_dir: str) -> Catalog:
    """List the durable tiers from their meta rows, on the driver."""
    gens = tuple(_gen_tier(g) for g in _durable_gens(index_dir))
    promoted = {b for g in gens for b in g.batch_ids}
    metas = _read_rows(os.path.join(index_dir, DELTA_DIR, META), DELTA_META_SCHEMA)
    live = [m for m in metas if m["batch_id"] not in promoted]
    ids = {m["batch_id"] for m in live}
    droot = os.path.join(index_dir, DELTA_DIR)
    return Catalog(index_dir, gens, _tier(droot, live, ids, True) if live else None)


def write_merge_marker(index_dir: str, batch_ids: list[int]) -> None:
    """A merge's point of no return, naming the batches it absorbed."""
    marker = os.path.join(index_dir, MERGE_MARKER)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"merged_batch_ids": sorted(batch_ids)}, fh)
    os.rename(marker + ".tmp", marker)


def read_merge_marker(index_dir: str) -> set[int] | None:
    """The batches a committed merge absorbed; None if the marker is
    absent or unreadable."""
    try:
        with open(os.path.join(index_dir, MERGE_MARKER)) as fh:
            return set(json.load(fh).get("merged_batch_ids") or [])
    except (OSError, ValueError):
        return None


def drop_merged(index_dir: str, batch_ids: set[int] | None) -> None:
    """Delete the tiers a committed merge absorbed: the delta batches in
    ``batch_ids`` and each generation whose batches all are (``None``:
    every tier), plus meta-less (crashed-promote) generations. Batches
    appended after the merge's marker survive. Idempotent."""
    droot = os.path.join(index_dir, DELTA_DIR)
    if os.path.isdir(droot):
        for table in ("docs", "postings", "term_dict", META):  # meta last
            for b in batch_ids or ():
                shutil.rmtree(delta_dir(index_dir, table, b), ignore_errors=True)
        meta_root = os.path.join(droot, META)
        left = os.listdir(meta_root) if os.path.isdir(meta_root) else []
        if batch_ids is None or not any(e.startswith("batch=") for e in left):
            shutil.rmtree(droot)
    gen_root = os.path.join(index_dir, GENS_DIR)
    if os.path.isdir(gen_root):
        durable = set(_durable_gens(index_dir))
        for entry in os.listdir(gen_root):
            gdir = os.path.join(gen_root, entry)
            if gdir not in durable or batch_ids is None or (
                set(_gen_tier(gdir).batch_ids) <= batch_ids
            ):
                shutil.rmtree(gdir)
        if not os.listdir(gen_root):
            shutil.rmtree(gen_root)
