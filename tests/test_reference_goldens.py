"""Byte-exact parity against the reference's real golden fixtures.

The strongest parity evidence available: run the façade over the
reference's own test corpus (``tests/testdata/input/file01..08``)
and diff against the reference's own golden outputs:

- ``correct/word_count_correct.txt`` — 266 keys including the
  empty-key line ``\\t9`` (reference ``tests/test_integration_02.py:
  72-77`` compares order-insensitively; ``tests/test_worker_08.py:
  201`` pins the empty key);
- ``correct/grep_correct.txt`` — byte-exact single output file
  (reference ``tests/test_integration_01.py:73-77`` uses
  ``filecmp.cmp``);
- ``test_master_08/correct/job-0/grouper-output/reduce01|02`` — the
  group stage's round-robin-by-distinct-line partition files
  (reference ``tests/test_master_08.py:164-179``, byte-exact).

The reference executables (``wc_map.sh`` etc.) are invoked in place
as black boxes — nothing is copied; they are the contract being
tested. Each golden is also reproduced with this repo's rewritten
example executables, proving the rewrites match the reference's
observable mapper/reducer contracts on the reference's own corpus.
"""

from __future__ import annotations

import filecmp
import itertools
import os
import shutil

import pytest

from map_reduce_server_spark.mapreduce.job import (
    MapReduceJob,
    group_partition,
    run_job,
)

REF = "/root/reference/tests/testdata"
EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_server_spark",
    "mapreduce",
    "examples",
)

# The goldens are the reference project's own files, read in place;
# a checkout without that tree cannot run these tests, and the
# fixtures cannot be recreated here without copying them.
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason=f"reference golden tree {REF} is not present",
)


@pytest.fixture(scope="module")
def ref_input(tmp_path_factory):
    """Copy of the reference input corpus (read-only source dir)."""
    dest = tmp_path_factory.mktemp("golden") / "input"
    shutil.copytree(f"{REF}/input", dest)
    return str(dest)


def _output_lines(paths: list[str]) -> list[str]:
    return sorted(
        itertools.chain.from_iterable(open(p).readlines() for p in paths)
    )


def _golden_wordcount_lines() -> list[str]:
    return sorted(open(f"{REF}/correct/word_count_correct.txt").readlines())


def test_wordcount_golden_reference_executables(spark, ref_input, tmp_path):
    """Façade + the reference's own wc executables == reference golden
    (order-insensitive compare per reference test_integration_02)."""
    job = MapReduceJob(
        input_directory=ref_input,
        output_directory=str(tmp_path / "out"),
        mapper_executable=f"bash {REF}/exec/wc_map.sh",
        reducer_executable=f"bash {REF}/exec/wc_reduce.sh",
        num_mappers=2,
        num_reducers=1,
    )
    actual = _output_lines(run_job(spark, job))
    correct = _golden_wordcount_lines()
    assert "\t9\n" in correct  # empty string is a legal key (SURVEY §1.2)
    assert actual == correct


def test_wordcount_golden_rewritten_executables(spark, ref_input, tmp_path):
    """This repo's rewritten wc_map.py/wc_reduce.py reproduce the same
    golden — the rewrites match the reference mapper/reducer contract."""
    job = MapReduceJob(
        input_directory=ref_input,
        output_directory=str(tmp_path / "out"),
        mapper_executable=f"python3 {EXAMPLES}/wc_map.py",
        reducer_executable=f"python3 {EXAMPLES}/wc_reduce.py",
        num_mappers=2,
        num_reducers=1,
    )
    assert _output_lines(run_job(spark, job)) == _golden_wordcount_lines()


def test_grep_golden_reference_executables(spark, ref_input, tmp_path):
    """Façade + the reference's grep executables == byte-exact golden
    (filecmp, per reference test_integration_01)."""
    job = MapReduceJob(
        input_directory=ref_input,
        output_directory=str(tmp_path / "out"),
        mapper_executable=f"python3 {REF}/exec/grep_map.py",
        reducer_executable=f"python3 {REF}/exec/grep_reduce.py",
        num_mappers=2,
        num_reducers=1,
    )
    paths = run_job(spark, job)
    assert len(paths) == 1
    assert filecmp.cmp(f"{REF}/correct/grep_correct.txt", paths[0], shallow=False)


def test_grep_golden_rewritten_executables(spark, ref_input, tmp_path):
    """Rewritten grep examples with the reference's default query
    ('product') reproduce the byte-exact golden."""
    job = MapReduceJob(
        input_directory=ref_input,
        output_directory=str(tmp_path / "out"),
        mapper_executable=f"python3 {EXAMPLES}/grep_map.py product",
        reducer_executable=f"python3 {EXAMPLES}/grep_reduce.py",
        num_mappers=2,
        num_reducers=1,
    )
    paths = run_job(spark, job)
    assert len(paths) == 1
    assert filecmp.cmp(f"{REF}/correct/grep_correct.txt", paths[0], shallow=False)


def test_group_partition_golden(spark):
    """The group stage reproduces the reference's golden partition
    files byte-exactly: distinct lines dealt round-robin in global
    sorted order, duplicates kept with their line, partitions sorted.
    """
    mo = f"{REF}/test_master_08/intermediate/job-0/mapper-output"
    lines: list[str] = []
    for fname in sorted(os.listdir(mo)):
        with open(os.path.join(mo, fname)) as fh:
            lines.extend(line.rstrip("\n") for line in fh)
    rdd = spark.sparkContext.parallelize(lines, 4)
    parts = group_partition(rdd, 2).glom().collect()
    assert len(parts) == 2
    for i, name in enumerate(["reduce01", "reduce02"]):
        golden = f"{REF}/test_master_08/correct/job-0/grouper-output/{name}"
        with open(golden) as fh:
            correct = [line.rstrip("\n") for line in fh]
        assert parts[i] == correct, f"partition {i} != {name}"
