"""Canonical text-output source/sink (the ``data.txt`` contract).

The reference re-reads its whole output file on every run, merges,
re-sorts and rewrites it (`/root/reference/index.js:108-122`). The
Spark shape of that contract:

- read: ``spark.read.text`` + trim + drop-blank (S7)
- write: single text file with a trailing newline for byte-identical
  output (K1). ``coalesce(1)`` is an explicit small-output choice —
  at scale you would keep it partitioned (``partitioned=True``).
- replace: the rewrite goes to a temp directory beside the output and
  is renamed into place, so a failed run leaves the old output intact
  and the plan never overwrites the files it reads.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_existing_output(spark: SparkSession, path: str) -> DataFrame:
    """data.txt → DataFrame[line: string]; missing file → empty."""
    try:
        df = spark.read.text(path)
    except Exception:
        return spark.createDataFrame([], "line string")
    return (
        df.select(F.trim("value").alias("line"))
        .filter(F.length("line") > 0)
    )


def write_output(df: DataFrame, path: str, partitioned: bool = False) -> None:
    """Write DataFrame[line] as text.

    ``partitioned=False`` reproduces the reference's single
    ``data.txt`` (one part file); ``partitioned=True`` is the
    100 TB-scale mode (one file per partition, order preserved by
    the upstream range-partitioned sort).
    """
    out = df if partitioned else df.coalesce(1)
    out.write.mode("overwrite").text(path)


def replace_output(df: DataFrame, path: str, partitioned: bool = False) -> None:
    """Make ``write_output(df, …)``'s result the new contents of ``path``.

    The rows are written to a temp directory inside ``path``'s own
    directory (so on its filesystem), then renamed into place; the
    temp directory is removed whether or not the write succeeds, and a
    failed write leaves ``path`` untouched. A single file replaces a
    file atomically (``os.replace``). A partitioned snapshot, or any
    replacement of a directory, takes two renames: the old snapshot
    moves aside into the temp directory, the new one into ``path``,
    then the old one is deleted; ``path`` is briefly absent between
    the renames but its old contents are never lost.
    """
    parent = os.path.dirname(os.path.abspath(path))
    tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(path)}.", dir=parent)
    try:
        written = os.path.join(tmp, "new")
        write_output(df, written, partitioned=partitioned)
        if not partitioned:
            parts = glob.glob(os.path.join(written, "part-*"))
            if parts:
                written = parts[0]
            else:  # no rows
                written = os.path.join(tmp, "empty")
                open(written, "w").close()
        if os.path.isdir(path) or (partitioned and os.path.exists(path)):
            old = os.path.join(tmp, "old")
            os.replace(path, old)
            try:
                os.replace(written, path)
            except OSError:
                os.replace(old, path)
                raise
        else:
            os.replace(written, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def head_lines(path: str, n: int) -> list[str]:
    """The first ``n`` lines of a written output: the file itself, or
    a partitioned snapshot's part files in partition order."""
    files = sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.isdir(path) else [path]
    head: list[str] = []
    for name in files:
        with open(name, encoding="utf-8", newline="") as fh:
            for line in fh:
                if len(head) == n:
                    return head
                head.append(line[:-1] if line.endswith("\n") else line)
    return head
