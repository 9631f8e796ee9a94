"""CLI — drop-in equivalent of the reference's entry point.

Reference: ``node index.js <type> [path]`` with types freetrade / ii /
fidelity / bullionvault (`/root/reference/index.js:48-106`). Here:

    python -m cgtcalc_data_transformer_spark <type> <path> [--output data.txt]
                                             [--dedup] [--partitioned]

Same contract: parse the export, merge with the existing output file,
sort chronologically (stable: existing before new), rewrite, print
the count summary and a 5-line sample (`index.js:124-130`). ``--dedup``
enables the exact dedup the reference's comment intends but never
implements (`index.js:110`).

A single-file conversion is one Spark job: it reads both inputs,
parses, merges, sorts, writes and counts. The sample is read back
from the written file. ``--partitioned`` range-partitions the sort,
which adds a sampling job and a shuffle.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import Observation

from cgtcalc_data_transformer_spark import schemas
from cgtcalc_data_transformer_spark.operators import bullionvault, fidelity, freetrade, ii
from cgtcalc_data_transformer_spark.operators.pipeline import merge_sorted
from cgtcalc_data_transformer_spark.session import get_spark
from cgtcalc_data_transformer_spark.sources import (
    head_lines,
    read_eml_dir,
    read_existing_output,
    read_header_csv,
    read_preamble_csv,
    replace_output,
)

SOURCE_TYPES = ["freetrade", "ii", "fidelity", "bullionvault"]


def parse_source(spark, source_type: str, path: str):
    """<type, path> → DataFrame[line] (lazy)."""
    if source_type == "freetrade":
        return freetrade.lines(read_header_csv(spark, path, schemas.FREETRADE_RAW))
    if source_type == "ii":
        return ii.lines(read_header_csv(spark, path, schemas.II_RAW))
    if source_type == "fidelity":
        return fidelity.lines(read_preamble_csv(spark, path))
    if source_type == "bullionvault":
        return bullionvault.lines(read_eml_dir(spark, path))
    raise ValueError(f"Unknown source type: {source_type}. Supported: {SOURCE_TYPES}")


def run_pipeline(
    spark,
    source_type: str,
    path: str,
    output: str = "data.txt",
    dedup: bool = False,
    partitioned: bool = False,
) -> dict:
    """One CLI invocation's pipeline: parse → merge with existing
    output → chronological sort → rewrite. Mirrors the reference's
    main() body (`/root/reference/index.js:79-122`); factored out of
    ``main`` so tests can replay multi-invocation sequences against
    one SparkSession (each real CLI run owns its session).

    The write job also counts the rows written and the new ones
    (``merge_sorted``'s observation), and the sample is read from the
    written output, so nothing is computed twice: in single-file mode
    the whole conversion is that one job. The job is described by
    the source type and the layers it runs.
    """
    sc = spark.sparkContext
    prev_description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
        f"cgtcalc {source_type}: sources, parsers.{source_type}, "
        "pipeline.merge_sorted, sink.replace_output"
    )
    try:
        new_lines = parse_source(spark, source_type, path)
        existing = (
            read_existing_output(spark, output) if os.path.exists(output) else None
        )
        counts = Observation()
        merged = merge_sorted(
            existing, new_lines, dedup=dedup, partitioned=partitioned, observation=counts
        )
        replace_output(merged, output, partitioned=partitioned)
        return {**counts.get, "sample": head_lines(output, 5)}
    finally:
        sc.setJobDescription(prev_description)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="cgtcalc-data-transformer-spark",
        description="Convert broker exports to canonical cgtcalc transaction lines.",
    )
    ap.add_argument("source_type", choices=SOURCE_TYPES)
    ap.add_argument("path", help="CSV file (freetrade/ii/fidelity) or .eml directory (bullionvault)")
    ap.add_argument("--output", default="data.txt", help="output file (default: data.txt)")
    ap.add_argument("--dedup", action="store_true", help="exact line dedup on merge")
    ap.add_argument(
        "--partitioned",
        action="store_true",
        help="write one file per partition (scale mode) instead of a single data.txt",
    )
    args = ap.parse_args(argv)

    # arg/path validation, fail-fast like index.js:51-77
    if not os.path.exists(args.path):
        print(f"Error: path does not exist: {args.path}", file=sys.stderr)
        return 1
    if args.source_type == "bullionvault":
        if not os.path.isdir(args.path):
            print("Error: bullionvault expects a directory of .eml files", file=sys.stderr)
            return 1
        if not any(f.lower().endswith(".eml") for f in os.listdir(args.path)):
            print(f"Error: no .eml files in {args.path}", file=sys.stderr)
            return 1
    elif not os.path.isfile(args.path):
        print(f"Error: expected a file: {args.path}", file=sys.stderr)
        return 1

    spark = get_spark(app_name=f"cgtcalc-{args.source_type}")
    try:
        rep = run_pipeline(
            spark,
            args.source_type,
            args.path,
            output=args.output,
            dedup=args.dedup,
            partitioned=args.partitioned,
        )
        print(f"Parsed {rep['new']} new transaction(s) from {args.path}")
        print(f"Total transactions in {args.output}: {rep['total']}")
        print("First lines:")
        for line in rep["sample"]:
            print(f"  {line}")
        return 0
    except Exception as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
