"""Byte-identical text extraction + href edge extraction from HTML pages.

input_hint contract: ``pages(url, warc_ts, html binary, text, lang)``
where ``text`` must equal our extraction of ``html`` byte-for-byte, per
url, forever. So the algorithm is *pinned*: pure functions of the bytes,
no environment-dependent parsing (no charset sniffing, no tz, no
locale), versioned as EXTRACTOR_VERSION. Changing them is a format break.

Spark side is Arrow-batched ``mapInPandas`` (vectorized ingress/egress,
no row-at-a-time Python UDFs — the regex work is the payload-bound
kernel itself, exactly what the Arrow batch boundary is for).
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

EXTRACTOR_VERSION = 1

_SCRIPT_RE = re.compile(rb"<(script|style)\b.*?</\1>", re.S | re.I)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")
_HREF_RE = re.compile(rb"""<a\s[^>]*?href\s*=\s*["']([^"'#]+)[^"']*["']""", re.I)

EDGES_RAW_SCHEMA = "src_url string, dst_url string"
TEXT_SCHEMA_SUFFIX = "extracted_text string"


def extract_text_bytes(html_bytes: bytes) -> str:
    """Pinned extraction: drop script/style/comments, strip tags, decode
    UTF-8 (replace), unescape entities, collapse whitespace."""
    b = _SCRIPT_RE.sub(b" ", html_bytes)
    b = _COMMENT_RE.sub(b" ", b)
    b = _TAG_RE.sub(b" ", b)
    s = b.decode("utf-8", errors="replace")
    s = _html.unescape(s)
    return _WS_RE.sub(" ", s).strip()


def normalize_url(url: str) -> str:
    """Pinned normalization: strip fragment, lowercase scheme+host, drop
    default ports, drop trailing slash (except bare origin)."""
    url = url.split("#", 1)[0].strip()
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/]+)(/.*)?$", url)
    if not m:
        return url
    scheme = m.group(1).lower()
    host = m.group(2).lower()
    if scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    if scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    path = m.group(3) or ""
    if path.endswith("/"):
        path = path[:-1]
    return f"{scheme}://{host}{path}"


def extract_hrefs(html_bytes: bytes) -> list[str]:
    """All <a href> targets, normalized, document order, dups kept
    (dedup is the graph layer's decision, defs.h:40-43)."""
    return [
        normalize_url(m.decode("utf-8", errors="replace"))
        for m in _HREF_RE.findall(html_bytes)
    ]


def with_extracted_text(pages: DataFrame, out_col: str = "extracted_text") -> DataFrame:
    """pages + extracted text column (the byte-identity check target)."""
    cols = pages.columns

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [extract_text_bytes(bytes(b)) for b in pdf["html"]]
            yield pdf

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields)
    return pages.mapInPandas(fn, f"{out_schema}, {out_col} string")


def href_edges(pages: DataFrame) -> DataFrame:
    """edges_raw(src_url, dst_url): one row per extracted link."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src, dst = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                u = normalize_url(url)
                for target in extract_hrefs(bytes(blob)):
                    src.append(u)
                    dst.append(target)
            yield pd.DataFrame({"src_url": src, "dst_url": dst})

    return pages.select("url", "html").mapInPandas(fn, EDGES_RAW_SCHEMA)


def mint_vertex_ids(edges_raw: DataFrame) -> DataFrame:
    """url → dense vid by url sort order (deterministic). At 10^12-doc
    scale swap for xxhash64(url) sparse ids (collision odds ~V²/2⁶⁴) to
    skip the global sort; dense ids keep the tree kernels array-indexed.

    Up to graph.DRIVER_RANK_MAX distinct urls the rank runs on the
    driver (the funnel rule of vertices_from_edges): one collect +
    python sort replaces attach_rank's range-repartition, per-partition
    count collect, window rank and eager checkpoint (~4 jobs). vids are
    IDENTICAL: python str comparison is code-point order, which equals
    Spark's byte-wise UTF-8 string order (UTF-8 is order-preserving)."""
    from pyspark.sql import functions as F

    from . import graph

    urls = (
        edges_raw.select(F.col("src_url").alias("url"))
        .unionAll(edges_raw.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    n = urls.count()
    if n > graph.DRIVER_RANK_MAX:
        return graph.attach_rank(urls, ["url"], out="vid").select("url", "vid")
    import numpy as np
    import pyarrow as pa

    from .tree import upload_columns

    vals = sorted(r["url"] for r in urls.collect())
    return upload_columns(
        edges_raw.sparkSession, {"url": vals, "vid": np.arange(n, dtype=np.int64)},
        pa.schema([("url", pa.string()), ("vid", pa.int64())]),
    )


def edges_from_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full extraction pipeline: pages → symmetrized edge table + url↔vid
    map. Self-links dropped; multi-links deduped (graph.symmetrize).

    Cache lifecycle: the intermediate href table is released in
    ``finally`` once the edge table is materialized (VERDICT r3 leak
    fix). The returned ``ids`` frame stays persisted and is CALLER-OWNED
    — unpersist it when done; the edge frame's storage is its own
    localCheckpoint lineage."""
    from pyspark.sql import functions as F

    from .graph import symmetrize

    raw = href_edges(pages).persist()
    try:
        # mint_vertex_ids → attach_rank materializes eagerly, so ids no
        # longer depend on raw once this returns
        ids = mint_vertex_ids(raw).persist()
        e = (
            raw.join(
                ids.withColumnRenamed("url", "src_url").withColumnRenamed("vid", "src"),
                "src_url",
            )
            .join(
                ids.withColumnRenamed("url", "dst_url").withColumnRenamed("vid", "dst"),
                "dst_url",
            )
            .select("src", "dst")
        )
        edges = symmetrize(e.select(F.col("src"), F.col("dst"))).localCheckpoint(eager=True)
        return edges, ids
    finally:
        raw.unpersist()
