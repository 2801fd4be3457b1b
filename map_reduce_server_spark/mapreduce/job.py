"""The reference's observable contract, on Spark.

Reference pipeline (``master/__main__.py:220-467``):

1. list + sort input files, deal file i to map task ``i % num_mappers``
   (``master/__main__.py:288-297``);
2. stream each file through the mapper executable, stdin→stdout
   (``worker/__main__.py:105-131``);
3. sort all mapped lines lexicographically **by whole line**
   (``worker/__main__.py:141`` + master k-way merge
   ``master/__main__.py:236-249``);
4. walk the merged stream, incrementing a dense rank whenever the
   line changes, and deal each line to reducer
   ``rank % num_reducers`` (``master/__main__.py:249-256``) — so all
   copies of a line land together and distinct lines round-robin in
   sorted order;
5. stream each reducer partition (sorted) through the reducer
   executable; copy outputs to ``outputfile{NN}``
   (``master/__main__.py:448-467``).

Spark mapping: the map stage distributes the FILE LIST, not the file
bytes — each map task opens its dealt files and streams the raw
bytes through one mapper subprocess per file, exactly as a reference
worker does (and with the same shared-filesystem assumption the
reference's master/worker split makes). (3)+(4) are one
``repartitionAndSortWithinPartitions`` with a partitioner keyed by
the dense rank of the line — computed distributedly via
``sortBy().zipWithIndex()`` over the distinct lines (two narrow
passes; no driver-side data). Spark's scheduler/shuffle/retries
subsume the reference's entire control plane (SURVEY.md §2.C).

Scale note: shipping paths instead of contents means the job's input
bytes are read exactly once, inside the mapper task that consumes
them — there is NO pre-mapper shuffle of the corpus (an earlier
revision scanned the directory into an RDD and shuffled every input
line to its mapper task; at 100 TB that is a 100 TB shuffle for zero
semantic effect). The trade-off is Hadoop data locality — irrelevant
here because the façade's contract is the reference's: a POSIX
directory listing (``os.listdir``) on a filesystem every worker can
open, not an HDFS-aware scan.
"""

from __future__ import annotations

import itertools
import os
import shlex
from dataclasses import dataclass

from pyspark.sql import SparkSession

from map_reduce_server_spark.io.sinks import write_numbered_text

# The map, group and reduce closures below run on Python workers that
# may not have this repo on sys.path (a session started from another
# cwd) — ship this module's functions by value (see
# functions.register_by_value).
from map_reduce_server_spark.functions import (  # noqa: E402
    register_by_value as _rbv,
)

_rbv(__name__)
del _rbv  # a lingering ref would pickle the functions pkg by reference


@dataclass(frozen=True)
class MapReduceJob:
    """Mirror of the reference's job message (``submit.py:59-67``)."""

    input_directory: str
    output_directory: str
    mapper_executable: str
    reducer_executable: str
    num_mappers: int = 4
    num_reducers: int = 2


def run_jobs(spark: SparkSession, jobs: list[MapReduceJob]) -> list[list[str]]:
    """FIFO multi-job queue parity (reference holds queued jobs and
    runs one at a time: ``master/__main__.py:209-218``, verified by
    its ``tests/test_master_04.py``). On Spark this is a sequential
    driver loop — each job's stages still run fully parallel inside
    the cluster; use Spark FAIR scheduler pools if concurrent jobs
    are ever wanted.
    """
    return [run_job(spark, job) for job in jobs]


def _list_input_files(input_dir: str) -> list[str]:
    """Sorted file list, as the reference's master builds it
    (``master/__main__.py:288-289``). Hidden (``_``/``.``-prefixed)
    files, 0-byte files, and names containing Hadoop-hostile
    characters (``,``, glob metacharacters) are all listed — the map
    stage opens paths with plain ``open()``, so none of Hadoop's
    path-resolution quirks apply."""
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if os.path.isfile(os.path.join(input_dir, f))
    )


def round_robin_file_assignment(
    files: list[str], num_mappers: int
) -> list[list[str]]:
    """The reference's file→map-task dealing (``master/__main__.py:
    288-297``, asserted literally by its ``tests/test_master_02.py:
    137-159``): sorted file *i* goes to task ``i % num_mappers``, so
    task *m* holds files ``m, m+num_mappers, …``. The map stage
    groups files into tasks with this dealing, which also bounds the
    number of concurrent mapper processes to ``num_mappers``.
    """
    tasks: list[list[str]] = [[] for _ in range(num_mappers)]
    for i, f in enumerate(sorted(files)):
        tasks[i % num_mappers].append(f)
    return tasks


def _check_exit(cmd: list[str], returncode: int) -> None:
    """Non-zero mapper/reducer exit fails the task (and Spark's retry
    takes over) instead of silently truncating output — the analog of
    the reference's task reassignment (``master/__main__.py:128-146``)
    with correctness on top. Message format mirrors ``RDD.pipe``'s
    ``checkCode`` so callers can match either."""
    if returncode != 0:
        raise RuntimeError(
            f"Pipe function `{cmd}' exited with status {returncode}"
        )


def _mapped_lines(
    spark: SparkSession, files: list[str], mapper: str, num_mappers: int
):
    """Map stage: distribute the sorted file list (NOT the file
    bytes) to ``num_mappers`` tasks by the reference's dealing, then
    inside each task stream every dealt file's RAW bytes through one
    mapper subprocess per file.

    Parity points this plan gets exactly right (reference
    ``worker/__main__.py:105-131``):

    - the mapper's stdin IS the file — no trailing-newline
      fabrication, no CR/LF normalization, no UTF-8 re-encode of the
      input (a file whose last line has no terminator, a CRLF file,
      or a binary-ish file all reach the mapper byte-for-byte);
    - the subprocess inherits the executor's full environment, as the
      reference workers inherit theirs (``RDD.pipe`` would launch
      with an EMPTY environment — a bare executable name then
      resolves against ``os.defpath`` only, and mappers reading
      ``LANG``/``HOME`` behave differently);
    - one subprocess per FILE, concurrency bounded by
      ``num_mappers``, file order within a task = dealing order.

    Driver cost is O(1) plan objects at any file count; each task
    carries only its path list. Mapper OUTPUT lines stay raw
    ``bytes`` — the group stage sorts/compares them directly, which
    IS the reference's whole-line byte sort, so an identity mapper
    over non-UTF-8 input (``cat`` on a binary file) flows through
    map/sort/group/reduce exactly as the reference's byte-oriented
    pipeline does; text decoding happens only at the final sink.

    A listed file that cannot be opened fails the task loudly — the
    scan-skips-a-file failure mode of input-format-based ingestion
    cannot occur, because there is no input format.
    """
    sc = spark.sparkContext
    cmd = shlex.split(mapper)
    tasks = [t for t in round_robin_file_assignment(files, num_mappers) if t]

    def run_task(paths_iter):
        import subprocess

        for paths in paths_iter:
            for path in paths:
                with open(path, "rb") as fh, subprocess.Popen(
                    cmd, stdin=fh, stdout=subprocess.PIPE
                ) as proc:
                    assert proc.stdout is not None
                    for line in proc.stdout:
                        yield line.rstrip(b"\n")
                _check_exit(cmd, proc.returncode)

    # numSlices == len(tasks) puts exactly one task's path list in
    # each partition (parallelize slices the list evenly).
    return sc.parallelize(tasks, len(tasks)).mapPartitions(run_task)


def _pipe_partition(cmd: list[str]):
    """Stream a partition through one subprocess — ``RDD.pipe``
    semantics (feeder thread, line-per-element, non-zero exit fails
    the task) but with the executor's environment inherited, matching
    the reference's workers (``RDD.pipe`` passes ``env={}``).
    Elements in and out are raw ``bytes`` lines (str input is
    accepted and UTF-8 encoded), so a binary-emitting consumer is
    processed, not crashed on.

    A consumer that exits before draining stdin (``head`` as reducer)
    closes the pipe early; the feeder swallows the resulting
    ``BrokenPipeError`` exactly as ``RDD.pipe``'s feeder thread does,
    and the exit-code check still governs success.
    """

    def run(it):
        import subprocess
        import threading

        with subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE
        ) as proc:
            assert proc.stdin is not None and proc.stdout is not None
            feed_error: list[BaseException] = []

            def feed():
                # stdin must close on EVERY exit path: a feeder that
                # dies without closing leaves the consumer waiting
                # for EOF and the task hangs instead of failing.
                # Non-pipe errors (the upstream iterator raising, an
                # unexpected OSError) are rethrown after join, as
                # RDD.pipe's feeder does.
                try:
                    for x in it:
                        # bytes from the map/group pipeline pass
                        # through raw; str (direct callers, tests)
                        # is encoded — byte-identical for UTF-8.
                        proc.stdin.write(
                            x if isinstance(x, bytes) else x.encode("utf-8")
                        )
                        proc.stdin.write(b"\n")
                except (BrokenPipeError, ValueError):
                    # consumer exited early / closed its end
                    pass
                except BaseException as exc:  # noqa: BLE001
                    feed_error.append(exc)
                finally:
                    try:
                        proc.stdin.close()
                    except (BrokenPipeError, ValueError):
                        pass

            t = threading.Thread(target=feed, daemon=True)
            t.start()
            for line in proc.stdout:
                yield line.rstrip(b"\n")
            t.join()
            if feed_error:
                raise feed_error[0]
        _check_exit(cmd, proc.returncode)

    return run


def group_partition(mapped, num_reducers: int):
    """The reference's group stage (``master/__main__.py:249-256``) as
    a distributed plan: dense-rank the distinct lines in global
    sorted order, send every line to partition ``rank % R``, sorted
    within partitions.

    Shuffle economics: the line multiset is first collapsed to
    (line, count) with ``reduceByKey`` — a map-side combine, so the
    shuffle carries each distinct line once, not every duplicate
    (the reference ships every line twice over TCP). Ranking then
    runs on the collapsed set (sortByKey + zipWithIndex, both
    cluster-side), and duplicates are re-expanded only AFTER the
    final partition-local sort. No driver data path anywhere, unlike
    the reference's master-side merge+partition walk.
    """
    counts = mapped.map(lambda line: (line, 1)).reduceByKey(
        lambda a, b: a + b
    )
    ranked = counts.sortByKey().zipWithIndex()  # ((line, count), rank)
    by_rank = ranked.map(
        lambda it: ((it[1] % num_reducers, it[0][0]), it[0][1])
    )
    return (
        by_rank.repartitionAndSortWithinPartitions(
            numPartitions=num_reducers, partitionFunc=lambda key: key[0]
        )
        # ((partition, line), count) sorted by line → expand duplicates
        # LAZILY: a heavy-hitter line must stream out of the iterator,
        # not materialize count references in one list
        .flatMap(lambda kv: itertools.repeat(kv[0][1], kv[1]))
    )


def run_job(spark: SparkSession, job: MapReduceJob) -> list[str]:
    """Execute a MapReduce job; returns the output file paths.

    Semantics parity notes:
    - per-FILE mapper granularity: the mapper executable sees exactly
      one file's RAW bytes on stdin (reference contract
      ``worker/__main__.py:109-117``);
    - grouping key is the ENTIRE line (quirk §8.2 of SURVEY.md):
      ``a\\t1`` and ``a\\t2`` are different groups;
    - reducer partition of a distinct line = dense rank in global
      sorted order mod num_reducers, and lines within a partition
      arrive sorted;
    - mapper and reducer subprocesses inherit the executor
      environment, as the reference's workers do.

    Files are dealt to ``num_mappers`` tasks by sorted rank mod M
    (reference ``master/__main__.py:288-297``) with one mapper
    subprocess per file; hidden (``_``/``.``-prefixed) and 0-byte
    files are processed like any other, exactly as the reference's
    ``os.listdir``-driven master does (an empty file still spawns a
    mapper — ``wc -l`` must print its ``0``).
    """
    if job.num_mappers < 1 or job.num_reducers < 1:
        # fail at the driver with a clear message — a 0 would
        # otherwise surface as a ZeroDivisionError inside an
        # executor lambda during the group stage
        raise ValueError(
            "num_mappers and num_reducers must be >= 1, got "
            f"{job.num_mappers}/{job.num_reducers}"
        )
    files = _list_input_files(job.input_directory)
    if not files:
        raise ValueError(f"no input files in {job.input_directory}")

    mapped = _mapped_lines(
        spark, files, job.mapper_executable, job.num_mappers
    )
    grouped = group_partition(mapped, job.num_reducers)

    # --- reduce stage: pipe each sorted partition through the reducer.
    reduced = grouped.mapPartitions(
        _pipe_partition(shlex.split(job.reducer_executable))
    )

    # --- finalize: outputfileNN naming (master/__main__.py:456-463).
    # Explicit schema: toDF would need to infer from data and raises
    # on a job whose total output is empty — the reference writes
    # (empty) outputfileNN files instead.
    #
    # The pipeline above is byte-faithful end-to-end; the TEXT SINK
    # is the one UTF-8 boundary (Spark's text writer stores strings).
    # A reducer that emits non-UTF-8 bytes fails HERE with a named
    # error instead of a bare UnicodeDecodeError inside a task — the
    # reference copies raw reducer files so it has no such boundary;
    # a binary-output job needs a binary sink, not silent mangling.
    # capture the string, not the job: its class would ship by value
    reducer = job.reducer_executable

    def _to_text_row(line: bytes):
        try:
            return (line.decode("utf-8"),)
        except UnicodeDecodeError as exc:
            raise ValueError(
                f"reducer `{reducer}' emitted a "
                f"non-UTF-8 output line ({line[:40]!r}...); the text "
                f"sink stores UTF-8 text — route binary output to a "
                f"binary sink instead"
            ) from exc

    out_df = spark.createDataFrame(
        reduced.map(_to_text_row), "value string"
    )
    # reducer count passed explicitly: trailing EMPTY reducers must
    # still emit their outputfileNN (reference copies every reducer's
    # file), and the sink must not re-execute the plan to count them
    return write_numbered_text(
        out_df, job.output_directory, n_parts=job.num_reducers
    )
