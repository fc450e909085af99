#!/usr/bin/env python3
"""Capture the job plans of the bench's pages_extract_to_graph path
(extract.edges_from_pages over corpus.generate_pages) — the surface the
r6 mint_vertex_ids change (driver rank under a cap) altered.

    python capture_extract_plans.py <repo_root> <out_file>
"""
import io
import sys
from contextlib import redirect_stdout

REPO = sys.argv[1]
OUT = sys.argv[2]
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import DataFrame as BaseDataFrame

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        DataFrame = BaseDataFrame

    from sheep_spark.session import get_spark

    spark = get_spark("capture-extract", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    plans: list[str] = []
    orig_collect = DataFrame.collect
    orig_count = DataFrame.count
    orig_ckpt = DataFrame.localCheckpoint

    def fmt(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def log_collect(df, _orig=orig_collect):
        plans.append("== job: collect ==\n" + fmt(df))
        return _orig(df)

    def log_count(df, _orig=orig_count):
        plans.append("== job: count ==\n" + fmt(df))
        return _orig(df)

    def log_ckpt(df, eager=True, _orig=orig_ckpt):
        plans.append("== job: localCheckpoint ==\n" + fmt(df))
        return _orig(df, eager)

    DataFrame.collect = log_collect
    DataFrame.count = log_count
    DataFrame.localCheckpoint = log_ckpt
    try:
        from sheep_spark import corpus, extract

        pages = corpus.generate_pages(spark, 2000).persist()
        orig_count(pages)
        p_edges, _ids = extract.edges_from_pages(pages)
        n = orig_count(p_edges)
        plans.append("== returned edges DataFrame ==\n" + fmt(p_edges))
    finally:
        DataFrame.collect = orig_collect
        DataFrame.count = orig_count
        DataFrame.localCheckpoint = orig_ckpt
    with open(OUT, "w") as f:
        f.write(f"# pages_extract_to_graph (edges_from_pages, 2000 pages) (repo: {REPO})\n")
        f.write(f"# edge rows: {n}; plans logged at each job boundary\n\n")
        f.write("\n".join(plans))
    print(f"wrote {OUT} ({len(plans)} plans, {n} edge rows)")
    spark.stop()


if __name__ == "__main__":
    main()
