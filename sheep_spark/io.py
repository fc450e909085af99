"""Edge-list sources/sinks matching the reference's on-disk formats.

- SNAP text (.net): whitespace-separated "X Y" per line
  (lib/readerwriter.h:78-102) → csv reader/writer.
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


def write_snap(edges: DataFrame, path: str) -> None:
    edges.select(
        F.concat_ws(" ", F.col("src").cast("string"), F.col("dst").cast("string")).alias("line")
    ).write.mode("overwrite").text(path)


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


def write_sequence_text(vertices: DataFrame, path: str) -> None:
    """Text sequence sink (writeTextSequence, sequence.h:153-157): one vid
    per line in pos(jnid) order. Single-file by contract — interop with
    the reference's readTextSequence, test scale; the scale sink is
    tree.save_sequence (parquet)."""
    vertices.select("vid", "pos").repartition(1).sortWithinPartitions("pos").select(
        F.col("vid").cast("string").alias("value")
    ).write.mode("overwrite").text(path)


def read_sequence_text(spark: SparkSession, path: str) -> DataFrame:
    """(pos, vid) from a text sequence file: line number == pos
    (readTextSequence, sequence.h:160-170)."""
    from .graph import attach_rank

    lines = spark.read.text(path).select(F.col("value").cast("long").alias("vid"))
    ranked = attach_rank(
        lines.withColumn("rid", F.monotonically_increasing_id()), ["rid"], out="pos"
    )
    return ranked.select("pos", "vid")


def write_partition_vector_text(vmeta: DataFrame, path: str) -> None:
    """Text partition-vector sink: one part id per line in pos(jnid)
    order — the file readPartition consumes (partition.h:116-123).
    Single-file interop writer; the scale sink is write_partitioned."""
    vmeta.select("pos", "part").repartition(1).sortWithinPartitions("pos").select(
        F.col("part").cast("string").alias("value")
    ).write.mode("overwrite").text(path)


def write_metis_adj(edges_sym: DataFrame, vertices: DataFrame, path: str) -> None:
    """METIS adjacency exporter (util/graph2adj.cpp:60-87): header
    "<V> <E> 010", then one line per vertex IN SEQUENCE ORDER listing
    its degree and its neighbors as 1-based sequence indices. Driver
    single-file writer (debug/interop scale, like the reference tool)."""
    from .graph import maybe_broadcast

    v = maybe_broadcast(vertices.select("vid", "pos"))
    adj = (
        edges_sym.join(v.withColumnRenamed("vid", "src").withColumnRenamed("pos", "ps"), "src")
        .join(v.withColumnRenamed("vid", "dst").withColumnRenamed("pos", "pd"), "dst")
        .groupBy("ps")
        .agg(F.sort_array(F.collect_list(F.col("pd") + 1)).alias("nbrs"))
        .orderBy("ps")
    )
    # METIS requires one line per vertex at exactly line pos+1: emit empty
    # lines for zero-degree vertices (ADVICE r2 — the edge join drops
    # them, which silently shifted every later line) and take the header
    # count from `vertices`, not from the join.
    nbrs_by_pos = {r["ps"]: r["nbrs"] for r in adj.collect()}
    n_vertices = vertices.count()
    n_edges = sum(len(nb) for nb in nbrs_by_pos.values()) // 2
    with open(path, "w") as f:
        f.write(f"{n_vertices} {n_edges} 010\n")
        for pos in range(n_vertices):
            nb = nbrs_by_pos.get(pos, [])
            f.write(" ".join([str(len(nb))] + [str(x) for x in nb]) + "\n")


def write_tree_dot(tree_df: DataFrame, path: str) -> None:
    """DOT exporter for the elimination tree (util/tree2dot.cpp:55-63):
    one "kid -> parent" edge per non-root, jnid descending."""
    rows = tree_df.select("jnid", "parent").orderBy(F.desc("jnid")).collect()
    with open(path, "w") as f:
        f.write("digraph {\n")
        for r in rows:
            line = f"\t{r['jnid']}"
            if r["parent"] is not None:
                line += f" -> {r['parent']}"
            f.write(line + "\n")
        f.write("}\n")


def read_partition_vector(spark: SparkSession, path: str) -> DataFrame:
    """Partition-vector file: one part id per line, jnid-indexed
    (lib/partition.h:116-123) → (pos, part)."""
    from .graph import attach_rank  # local import to avoid cycle

    lines = spark.read.text(path).select(F.col("value").cast("int").alias("part"))
    lines = lines.withColumn("_one", F.lit(1))
    ranked = attach_rank(lines.withColumn("rid", F.monotonically_increasing_id()), ["rid"], out="pos")
    return ranked.select("pos", "part")
