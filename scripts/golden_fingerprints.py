#!/usr/bin/env python3
"""(Re)compute the committed golden fingerprints for the five non-SQL
gate queries (``__spark_entry__.GOLDEN_FP``) at sf0.01.

The five underlying implementations are each pytest-verified against an
independent python port (tests/test_tree.py, test_partition.py,
test_evaluate.py); this script freezes their sf0.01 outputs into
constants the correctness gate can hash-match, turning the former
rows-only checks into self-checked ones (VERDICT r3 task 4).

Usage: python scripts/golden_fingerprints.py [sf_dir]
Prints a ready-to-paste GOLDEN_FP dict. Only re-run (and re-commit)
after an INTENTIONAL semantic change to tree build / FFD / fennel —
a changed fingerprint on unchanged semantics is a regression signal.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as entrymod
    from sheep_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("golden-fp", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    base = {
        "elim_tree": entrymod.q_elim_tree,
        "tree_facts": entrymod.q_tree_facts,
        "fennel_assign": entrymod.q_fennel_assign,
        "sheep_assign": entrymod.q_sheep_assign,
        "sheep_partition_metrics": entrymod.q_sheep_metrics,
        "tree_width_facts": entrymod.q_tree_width_facts,
    }
    print("GOLDEN_FP = {")
    for name, fn in base.items():
        fp = entrymod.fingerprint_df(spark, fn(spark, sf_dir)).collect()[0]["fp"]
        print(f'    "{name}": "{fp}",')
    print("}")
    spark.stop()


if __name__ == "__main__":
    main()
