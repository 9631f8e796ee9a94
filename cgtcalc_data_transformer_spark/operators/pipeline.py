"""Merge / chronological-sort pipeline.

The reference's end-of-run behavior (`/root/reference/index.js:108-122`):
read previous ``data.txt``, append the newly parsed lines (UNION ALL —
despite the "Set for exact deduplication" comment at `index.js:110`,
no dedup happens and re-runs double lines), sort ascending by the
date embedded in each line, rewrite the file. JS ``Array.sort`` is
stable, so equal-date lines keep insertion order: existing-file lines
before new ones, each in source order (`index.js:12-36,115,118`).

Spark's sort is not stable → we carry explicit tiebreakers:
``source_rank`` (0 = existing, 1 = new), the input file and a per-source
monotonic sequence. With the date they are unique per row, so every
sort on them yields the same order. Single-file mode (the CLI default)
sorts its one partition locally (``coalesce(1).sortWithinPartitions``):
one task, no exchange and no range-sampling job. Partitioned mode keeps
the range-partitioned ``orderBy``, so the part files are globally
ordered without a single-node bottleneck.

``dedup=True`` implements the intent the reference comments but never
ships: exact line-level dedup before the sort (in single-file mode
inside the same one partition, so the conversion stays one job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from cgtcalc_data_transformer_spark.functions.dates import date_key_from_ddmmyyyy
from cgtcalc_data_transformer_spark.functions.validation import require

_SORT_KEYS = ("_date_key", "source_rank", "src_file", "seq")


def _tag(df: DataFrame, rank: int) -> DataFrame:
    # Tiebreak must be listing-order independent: Spark bin-packs file
    # splits by SIZE, so monotonically_increasing_id alone follows an
    # arbitrary file order for multi-file sources (.eml directories).
    # Sorting on (file, in-file position) pins equal-date lines to
    # lexicographic file order then file position (ADVICE r1).
    # `_metadata.row_index` would be the deterministic position, but
    # Spark exposes it for Parquet only, not for the text and CSV
    # sources read here.
    return df.select(
        "line",
        F.lit(rank).alias("source_rank"),
        F.input_file_name().alias("src_file"),
        F.monotonically_increasing_id().alias("seq"),
    )


def merge_sorted(
    existing: DataFrame | None,
    new: DataFrame,
    dedup: bool = False,
    partitioned: bool = False,
    observation: Observation | None = None,
) -> DataFrame:
    """existing ∪ new lines, chronologically sorted, stably tied.

    Input DataFrames have a single ``line`` column. Output: a single
    ``line`` column, globally ordered by (date, source, sequence) —
    in one partition, or range-partitioned when ``partitioned``.

    ``observation``, when given, receives ``total`` (rows output) and
    ``new`` (rows of ``new``, counted before dedup) from whichever
    job computes the output, so counting costs no job of its own.
    """
    tagged_new = _tag(new, 1)
    if existing is not None:
        merged = _tag(existing, 0).unionByName(tagged_new)
    else:
        merged = tagged_new

    # source_rank is 1 exactly on new rows, so its sum counts them;
    # dedup sums it per line to keep that count from before the dedup.
    if dedup:
        # The `index.js:110` comment's stated intent: exact dedup.
        # Keep the earliest (existing-first) occurrence of each line.
        # Single-file output is one partition anyway; coalescing first
        # lets the groupBy run in it with no exchange, so no extra job.
        if not partitioned:
            merged = merged.coalesce(1)
        merged = (
            merged.groupBy("line")
            .agg(
                F.min(F.struct("source_rank", "src_file", "seq")).alias("first_seen"),
                F.sum("source_rank").alias("new_rows"),
            )
            .select(
                "line",
                F.col("first_seen.source_rank").alias("source_rank"),
                F.col("first_seen.src_file").alias("src_file"),
                F.col("first_seen.seq").alias("seq"),
                "new_rows",
            )
        )
    else:
        merged = merged.withColumn("new_rows", F.col("source_rank"))

    date_str = F.split(F.col("line"), " ").getItem(1)
    date_key = date_key_from_ddmmyyyy(date_str)
    date_key = require(
        date_key.isNotNull(),
        date_key,
        F.concat(F.lit("Invalid date in line: "), F.col("line")),
    )
    keyed = merged.withColumn("_date_key", date_key)
    if partitioned:
        out = keyed.orderBy(*_SORT_KEYS)
    else:
        out = keyed.coalesce(1).sortWithinPartitions(*_SORT_KEYS)
    if observation is not None:
        # Above the sort: the range sort's sampling job runs the plan
        # below it a second time, which would count every row twice.
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("total"),
            F.coalesce(F.sum("new_rows"), F.lit(0)).alias("new"),
        )
    return out.select("line")


def violations(existing: DataFrame | None, new: DataFrame) -> DataFrame:
    """Collect-violations debug mode (SURVEY.md §4.3): instead of
    aborting on the first malformed line like ``merge_sorted``, return
    EVERY line whose embedded date fails to parse, tagged with its
    source — run this when a fail-fast job died to see the full
    damage in one pass instead of fix-rerun-fix."""
    frames = [new.select("line", F.lit("new").alias("source"))]
    if existing is not None:
        frames.insert(0, existing.select("line", F.lit("existing").alias("source")))
    merged = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    date_str = F.split(F.col("line"), " ").getItem(1)
    return merged.filter(date_key_from_ddmmyyyy(date_str).isNull()).select(
        "source", "line"
    )


def report(df: DataFrame, new_count: int | None = None, sample: int = 5) -> dict:
    """Count + first-N sample, the reference's console summary
    (`/root/reference/index.js:124-130`) over a DataFrame: two jobs,
    a count and a limit. ``cli.run_pipeline`` takes the same summary
    from its write job and the written file instead."""
    total = df.count()
    head = [r["line"] for r in df.limit(sample).collect()]
    return {"total": total, "new": new_count, "sample": head}
