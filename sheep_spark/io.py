"""Edge-list sources/sinks matching the reference's on-disk formats.

- SNAP text (.net): whitespace-separated "X Y" per line
  (lib/readerwriter.h:78-102) → text reader.
- XS1 / Graph500 binary (.dat): packed little-endian records
  {uint32 tail, uint32 head, float32 weight} (lib/readerwriter.h:36-76)
  → ``binaryFile`` source + numpy frombuffer in an Arrow kernel. Used to
  load the reference's own test graph data/hep-th.dat.

Both return *raw directed* pairs; pass through graph.symmetrize for the
engine's canonical form.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

XS1_DTYPE = np.dtype([("tail", "<u4"), ("head", "<u4"), ("weight", "<f4")])


def read_snap(spark: SparkSession, path: str) -> DataFrame:
    """SNAP edge-list source tolerant of real-world whitespace: lines are
    split on ``\\s+`` (tabs, runs of spaces), '#' comments skipped. Fails
    loudly when a nonempty file yields zero parsed edges instead of
    silently returning an empty graph (ADVICE r1)."""
    raw = spark.read.text(path)
    lines = raw.select(F.trim(F.col("value")).alias("line")).where(
        (F.length("line") > 0) & ~F.col("line").startswith("#")
    )
    toks = F.split(F.col("line"), r"\s+")
    # try_cast: malformed tokens become NULL rows (filtered) instead of an
    # ANSI cast error mid-scan; the all-null case is caught loudly below
    df = lines.select(
        F.element_at(toks, 1).try_cast("long").alias("src"),
        F.element_at(toks, 2).try_cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if df.isEmpty() and not lines.isEmpty():
        raise ValueError(
            f"read_snap: {path} has data lines but none parsed as "
            "'<int><ws><int>' — wrong format or delimiter?"
        )
    return df


def read_xs1(spark: SparkSession, path: str) -> DataFrame:
    """XS1 binary scan. Each file lands as one Arrow row whose content is
    sliced zero-copy into (src, dst) columns; splittability at scale comes
    from sharded .dat files (the reference's partial-load -l n/k maps to
    one shard per task)."""
    raw = spark.read.format("binaryFile").load(path).select("content")

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for buf in b.column(0).to_pylist():
                rec = np.frombuffer(buf, dtype=XS1_DTYPE)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(rec["tail"].astype(np.int64)),
                        pa.array(rec["head"].astype(np.int64)),
                    ],
                    names=["src", "dst"],
                )

    return raw.mapInArrow(decode, "src long, dst long")


def write_xs1(edges: DataFrame, path: str) -> None:
    """Single-file XS1 sink (test-scale; the scale sink is the
    parquet/partitionBy path in partitioner.write_partitioned). Endpoints
    come back through one ``tree.collect_int64_columns`` (a null raises
    ValueError); an id outside the record's uint32 range [0, 2^32) raises
    ValueError instead of wrapping."""
    from .tree import collect_int64_columns

    src, dst = collect_int64_columns(edges, ("src", "dst"))
    for name, ids in (("src", src), ("dst", dst)):
        if len(ids) and (ids.min() < 0 or ids.max() >= 2**32):
            raise ValueError(
                f"column {name!r} has ids outside [0, 2^32); "
                "XS1 records store uint32 vertex ids"
            )
    rec = np.empty(len(src), dtype=XS1_DTYPE)
    rec["tail"] = src
    rec["head"] = dst
    rec["weight"] = 0.0
    with open(path, "wb") as f:
        f.write(rec.tobytes())
