"""``cli.run_pipeline`` in process: how many Spark jobs one conversion
runs, the summary it reports against what it wrote, and what a failed
or repeated run leaves on disk."""

from __future__ import annotations

import os

import pytest

from cgtcalc_data_transformer_spark import fixtures
from cgtcalc_data_transformer_spark.cli import run_pipeline
from cgtcalc_data_transformer_spark.sources import head_lines, read_eml_dir


@pytest.fixture()
def ii_csv(tmp_path):
    path = tmp_path / "ii.csv"
    path.write_text(fixtures.II_CSV)
    return str(path)


def _jobs(spark, group, fn):
    """Run ``fn`` in job group ``group``; return its result and the
    descriptions of the Spark jobs it started, from the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, None)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    descriptions = [store.job(j).description() for j in ids]
    return result, [d.get() if d.isDefined() else None for d in descriptions]


def _written(path):
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if n.startswith("part-"))
        return "".join(open(os.path.join(path, n)).read() for n in names).splitlines()
    return open(path).read().splitlines()


@pytest.mark.parametrize("dedup", [False, True])
def test_single_file_conversion_is_one_spark_job(spark, ii_csv, tmp_path, dedup):
    out = str(tmp_path / "data.txt")
    (tmp_path / "data.txt").write_text("BUY 02/01/2023 SEED 1 2.5 0\n")
    rep, descriptions = _jobs(
        spark, f"one-job-{dedup}", lambda: run_pipeline(spark, "ii", ii_csv, output=out, dedup=dedup)
    )
    assert len(descriptions) == 1, descriptions
    assert "ii" in descriptions[0] and "merge_sorted" in descriptions[0]
    assert _written(out) == ["BUY 02/01/2023 SEED 1 2.5 0", *fixtures.EXPECTED_II]
    assert rep == {"total": 3, "new": 2, "sample": _written(out)}


@pytest.mark.parametrize("dedup", [False, True])
def test_partitioned_rerun_reports_what_it_wrote(spark, ii_csv, tmp_path, dedup):
    out = str(tmp_path / "out")
    for run in (1, 2):  # the second run reads the output it replaces
        rep = run_pipeline(spark, "ii", ii_csv, output=out, dedup=dedup, partitioned=True)
        lines = _written(out)
        assert rep["new"] == len(fixtures.EXPECTED_II)
        assert rep["total"] == len(lines) == len(fixtures.EXPECTED_II) * (1 if dedup else run)
        assert rep["sample"] == lines[:5]
    assert sorted(set(lines)) == sorted(fixtures.EXPECTED_II)
    assert sorted(os.listdir(tmp_path)) == ["ii.csv", "out"]


def test_failed_write_keeps_output_and_leaves_no_temp_dir(spark, ii_csv, tmp_path):
    out = tmp_path / "data.txt"
    out.write_text("BUY 01/01/2024 A 1 1 0\nBUY 99/99/2024 B 1 1 0\n")
    before = out.read_bytes()
    with pytest.raises(Exception, match="Invalid date in line: BUY 99/99/2024 B 1 1 0"):
        run_pipeline(spark, "ii", ii_csv, output=str(out))
    assert out.read_bytes() == before
    assert sorted(os.listdir(tmp_path)) == ["data.txt", "ii.csv"]


def test_head_lines_reads_part_files_in_order(tmp_path):
    (tmp_path / "part-00001-x.txt").write_text("c\nd\n")
    (tmp_path / "part-00000-x.txt").write_text("a\nb\n")
    (tmp_path / "_SUCCESS").write_text("")
    assert head_lines(str(tmp_path), 3) == ["a", "b", "c"]
    assert head_lines(str(tmp_path / "part-00001-x.txt"), 5) == ["c", "d"]


@pytest.mark.parametrize(
    "names", [["m0.eml", "m1.EML", "note.txt"], ["m0.EML", "m1.EML"]]
)
def test_read_eml_dir_matches_extension_case_insensitively(spark, tmp_path, names):
    for i, name in enumerate(names):
        (tmp_path / name).write_text(fixtures.BULLIONVAULT_EMAILS[i % 2])
    got = sorted(os.path.basename(r.file_name) for r in read_eml_dir(spark, str(tmp_path)).collect())
    assert got == sorted(n for n in names if n.lower().endswith(".eml"))
