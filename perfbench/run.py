#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 8 --trace 0

Run it from the repository root (as ``bench.py`` and the test suite
are run): Spark's Python workers import the package from the working
directory, and the benchmark does not patch that path for them.

The run makes its inputs, sets up the program (session, registry,
staging hooks), runs one cold pass and then timed passes until
``--seconds`` have elapsed (at least ``MIN_TIMED_PASSES``). A pass
runs every op of the workload once, in an order drawn from the seed. An op is one registered query (the query function call,
then a noop-sink write of the DataFrame it returns) or one MapReduce
job (``mapreduce.job.run_job``). The last timed pass checks every
output. After each op the blocks it pinned are released, as
``verify.verify_all`` does.

The last stdout line is a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer ones, from timed passes
that alternate between a traced and an untraced Spark session (the
traced one has an event log and a py4j counter). The line before it
holds per-op detail; the full span record of a
traced run is written to ``.perfbench_out/``. See README.md in this
directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

import inputs
import tracing as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (registered queries, MapReduce jobs, table scale factor, corpus lines)
WORKLOADS: dict[str, tuple[list[str], list[str], float, int]] = {
    "relational": (
        [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q18_large_orders",
            "q_window_running",
            "q_asof_join",
            "q_copurchase_triangles",
        ],
        [], 0.002, 0,
    ),
    "mapreduce": ([], ["wordcount", "grep"], 0.0, 40_000),
}
# The tables are fixed inputs, like the project's test data; the run's
# seed draws the op order and the MapReduce corpus.
TABLE_SEED = 42
# Timed passes run until --seconds have passed, and never fewer than
# these, so pass_s is a median of at least three. The JIT keeps speeding
# passes up for minutes; the median drops the first, slowest timed pass
# where an untimed warm-up pass would cost one more pass per run.
# relational gets five: its op latencies (0.3-1.2 s, six queries) need
# 30 samples for op_p50_s and op_tail_s to repeat across runs.
MIN_TIMED_PASSES = {"relational": 5, "mapreduce": 3}
NUM_MAPPERS = NUM_REDUCERS = 4
CPUS = min(4, len(os.sched_getaffinity(0)))
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "op_p50_s": "s", "op_tail_s": "s", "ok_ratio": "ratio",
}

# Per-layer metrics summed over one traced pass, and the run-level ones.
PASS_LAYERS = {
    "build_s": "s", "build.driver_s": "s", "build.job_s": "s",
    "build.jobs": "count", "build.py4j_calls": "count",
    "exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.stages_skipped": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.sched_delay_s": "s", "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.failed_tasks": "count",
    "stagecut.pinned_rdds": "count",
    "mr.jobs": "count", "mr.stages": "count", "mr.map_task_s": "s",
    "mr.shuffle_task_s": "s", "mr.write_task_s": "s", "mr.map_shuffle_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", **PASS_LAYERS,
    "driver.rss_hwm_mb": "MB", "trace.overhead_ratio": "ratio",
}


@dataclass
class OpRecord:
    name: str
    start: float
    build_end: float
    end: float
    ok: bool = True
    error: str = ""
    pinned: int = 0
    py4j_calls: int = 0
    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # traced only

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class PassRecord:
    no: int
    kind: str  # cold | timed
    traced: bool
    seconds: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


class Bench:
    """Runs one workload's ops against the program and records them."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.queries, self.jobs, self.sf, self.corpus_size = WORKLOADS[workload]
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.rng = random.Random(seed)
        self.passes: list[PassRecord] = []
        self.counter = None
        self.spark = None

    # -- inputs (not timed) ---------------------------------------------

    def make_inputs(self) -> None:
        if self.queries:
            self.sf_dir = inputs.write_star_schema(
                os.path.join(self.work, "tables"), TABLE_SEED, self.sf
            )
        if self.jobs:
            files, term = inputs.corpus_lines(self.seed, self.corpus_size)
            self.corpus = inputs.write_corpus(os.path.join(self.work, "corpus"), files)
            self.grep_term = term
            mapped = {
                "wordcount": inputs.wordcount_mapped(files),
                "grep": inputs.grep_mapped(files, term),
            }
            # per job: mapper output bytes, expected lines per output file
            self.expected = {
                kind: (sum((len(line) + 1) * n for line, n in mapped[kind].items()),
                       inputs.expected_outputs(mapped[kind], kind, NUM_REDUCERS))
                for kind in self.jobs
            }

    # -- program set-up (timed as setup_s) ------------------------------

    def spark_conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.event_dir = os.path.join(self.work, f"events{len(self.passes)}")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": self.event_dir,
            })
        return conf

    def set_up(self) -> dict[str, float]:
        t0 = time.perf_counter()
        from map_reduce_server_spark import get_spark, registry

        self.get_spark = get_spark
        t1 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=CPUS,
                               extra_conf=self.spark_conf(False))
        t2 = time.perf_counter()
        registry.load_all()
        t3 = time.perf_counter()
        for name in self.queries:
            hook = registry.PREPARE.get(name)
            if hook is not None:
                hook(self.spark, self.sf_dir)
        t4 = time.perf_counter()
        self.registry = registry
        return {"setup_s": t4 - t0, "session.start_s": t2 - t1,
                "registry.load_s": t3 - t2}

    def restart(self, traced: bool) -> None:
        """New SparkContext in the same JVM, with or without tracing."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_spark(app_name="perfbench", cpus=CPUS,
                                    extra_conf=self.spark_conf(traced))
        if traced and self.counter is None:
            self.counter = tr.Py4jCounter(self.spark.sparkContext._gateway._gateway_client)

    # -- ops ------------------------------------------------------------

    def op_names(self) -> list[str]:
        return self.queries + [f"mr_{kind}" for kind in self.jobs]

    def run_op(self, name: str, check: bool) -> tuple[OpRecord, float]:
        """Run one op; returns its record and the seconds spent checking."""
        from map_reduce_server_spark import verify

        spark = self.spark
        baseline = verify.snapshot_block_ids(spark)
        calls0 = self.counter.calls if self.counter else 0
        start = time.time()
        build_end = start
        checked = 0.0
        rec = OpRecord(name, start, start, start)
        try:
            if name.startswith("mr_"):
                self.run_mapreduce(name[3:])
                rec.end = time.time()
                if check:
                    c0 = time.perf_counter()
                    rec.error = self.check_mapreduce(name[3:])
                    checked = time.perf_counter() - c0
            else:
                if self.counter:
                    self.counter.active = True
                try:
                    df = self.registry.QUERIES[name](spark, self.sf_dir)
                finally:
                    if self.counter:
                        self.counter.active = False
                build_end = time.time()
                df.write.format("noop").mode("overwrite").save()
                rec.end = time.time()
                if check:
                    c0 = time.perf_counter()
                    ok, msg = verify.compare(df, self.registry.ORACLE[name], self.sf_dir)
                    rec.error = "" if ok else msg[:300]
                    checked = time.perf_counter() - c0
        except Exception as exc:  # an op failure is recorded, not fatal
            if rec.end == start:
                rec.end = time.time()
            rec.error = _reason(exc)
        rec.build_end = build_end
        rec.ok = not rec.error
        rec.py4j_calls = (self.counter.calls - calls0) if self.counter else 0
        rec.pinned = len(verify.snapshot_block_ids(spark) - baseline)
        verify.release_session_blocks(spark, baseline)
        return rec, checked

    def run_mapreduce(self, kind: str) -> None:
        from map_reduce_server_spark.mapreduce import job as mr

        examples = os.path.join(os.path.dirname(mr.__file__), "examples")
        prefix = "wc" if kind == "wordcount" else "grep"
        mapper = f"python3 {shlex.quote(os.path.join(examples, prefix + '_map.py'))}"
        if kind == "grep":
            mapper += f" {shlex.quote(self.grep_term)}"
        mr.run_job(self.spark, mr.MapReduceJob(
            input_directory=self.corpus,
            output_directory=self.mr_out(kind),
            mapper_executable=mapper,
            reducer_executable=f"python3 {shlex.quote(os.path.join(examples, prefix + '_reduce.py'))}",
            num_mappers=NUM_MAPPERS,
            num_reducers=NUM_REDUCERS,
        ))

    def mr_out(self, kind: str) -> str:
        return os.path.join(self.work, "mr_out", kind)

    def check_mapreduce(self, kind: str) -> str:
        """'' when the job's output files hold exactly the expected lines,
        each distinct line in file ``rank % R``; else what differs."""
        from collections import Counter

        out = self.mr_out(kind)
        names = sorted(os.listdir(out))
        want = [f"outputfile{r + 1:02d}" for r in range(NUM_REDUCERS)]
        if names != want:
            return f"output files {names}, expected {want}"
        for r, fname in enumerate(want):
            with open(os.path.join(out, fname)) as fh:
                got = Counter(line.rstrip("\n") for line in fh)
            exp = self.expected[kind][1][r]
            if got != exp:
                extra = list((got - exp).elements())[:3]
                missing = list((exp - got).elements())[:3]
                return f"{fname}: unexpected {extra!r}, missing {missing!r}"
        return ""

    # -- passes ---------------------------------------------------------

    def run_pass(self, kind: str, traced: bool, check: bool) -> PassRecord:
        names = self.op_names()
        self.rng.shuffle(names)
        rec = PassRecord(len(self.passes), kind, traced)
        t0 = time.perf_counter()
        checking = 0.0
        for name in names:
            op, checked = self.run_op(name, check)
            rec.ops.append(op)
            checking += checked
        rec.seconds = time.perf_counter() - t0 - checking
        self.passes.append(rec)
        return rec

    def run(self) -> None:
        self.run_pass("cold", False, False)
        start = time.perf_counter()
        timed: list[PassRecord] = []
        while True:
            traced = self.trace and len(timed) % 2 == 1
            if self.trace:
                self.restart(traced)
            # the pass expected to cross the deadline is the last one
            final = len(timed) + 1 >= MIN_TIMED_PASSES[self.workload] + self.trace and (
                time.perf_counter() - start + timed[-1].seconds >= self.seconds)
            rec = self.run_pass("timed", traced, final)
            if traced:
                self.collect_layers(rec)
            timed.append(rec)
            if final:
                return

    # -- per-layer figures ------------------------------------------------

    def collect_layers(self, rec: PassRecord) -> None:
        """Attribute the traced session's Spark jobs to the pass's op
        spans and sum the per-layer figures over the pass."""
        self.spark.stop()  # closes the event log
        self.spark = None
        (log,) = os.listdir(self.event_dir)
        jobs, stages = tr.read_event_log(os.path.join(self.event_dir, log))
        L = dict.fromkeys(PASS_LAYERS, 0.0)
        map_shuffle_bytes = mapped_bytes = 0
        for op in rec.ops:
            build_jobs, _, _ = tr.attribute(jobs, stages, op.start, op.build_end)
            exec_jobs, exec_stages, skipped = tr.attribute(jobs, stages, op.build_end, op.end)
            op_jobs, op_stages, _ = tr.attribute(jobs, stages, op.start, op.end)
            op.jobs = [(j.job_id, j.start, j.end) for j in op_jobs]
            driver_s = tr.self_time(op.start, op.build_end, [(j.start, j.end) for j in build_jobs])
            L["build_s"] += op.build_end - op.start
            L["build.driver_s"] += driver_s
            L["build.job_s"] += op.build_end - op.start - driver_s
            L["build.jobs"] += len(build_jobs)
            L["build.py4j_calls"] += op.py4j_calls
            L["exec_s"] += op.end - op.build_end
            L["exec.jobs"] += len(exec_jobs)
            L["exec.stages"] += len(exec_stages)
            L["exec.tasks"] += sum(s.tasks for s in exec_stages)
            L["exec.stages_skipped"] += skipped
            L["spark.task_run_s"] += sum(s.run_s for s in op_stages)
            L["spark.task_cpu_s"] += sum(s.cpu_s for s in op_stages)
            L["spark.gc_s"] += sum(s.gc_s for s in op_stages)
            L["spark.sched_delay_s"] += sum(s.sched_delay_s for s in op_stages)
            L["spark.shuffle_write_mb"] += sum(s.shuffle_write_bytes for s in op_stages) / 1e6
            L["spark.shuffle_read_mb"] += sum(s.shuffle_read_bytes for s in op_stages) / 1e6
            L["spark.spill_mb"] += sum(s.spill_bytes for s in op_stages) / 1e6
            L["spark.failed_tasks"] += sum(s.failed_tasks for s in op_stages)
            L["stagecut.pinned_rdds"] += op.pinned
            if op.name.startswith("mr_"):
                # map stages have no parent, write stages write output
                maps = [s for s in op_stages if not s.parents]
                writes = [s for s in op_stages if s.parents and s.output_bytes]
                L["mr.jobs"] += len(op_jobs)
                L["mr.stages"] += len(op_stages)
                L["mr.map_task_s"] += sum(s.run_s for s in maps)
                L["mr.write_task_s"] += sum(s.run_s for s in writes)
                L["mr.shuffle_task_s"] += sum(
                    s.run_s for s in op_stages if s not in maps and s not in writes)
                map_shuffle_bytes += sum(s.shuffle_write_bytes for s in maps)
                mapped_bytes += self.expected[op.name[3:]][0]
        L["spark.core_busy_ratio"] = L["spark.task_run_s"] / (
            sum(op.wall for op in rec.ops) * CPUS)
        L["mr.map_shuffle_ratio"] = map_shuffle_bytes / mapped_bytes if mapped_bytes else 0.0
        rec.layers = L

    # -- results ------------------------------------------------------------

    def failures(self) -> list[dict]:
        return [{"op": op.name, "pass": p.no, "error": op.error}
                for p in self.passes for op in p.ops if not op.ok]

    def end_to_end(self, setup: dict[str, float]) -> tuple[dict, dict]:
        timed = [p for p in self.passes if p.kind == "timed"]
        walls = [op.wall for p in timed for op in p.ops]
        tail_s, pct, n = tr.tail(walls)
        attempted = sum(len(p.ops) for p in self.passes)
        values = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": self.passes[0].seconds,
            "pass_s": statistics.median(p.seconds for p in timed),
            "op_p50_s": statistics.median(walls),
            "op_tail_s": tail_s,
            "ok_ratio": 1 - len(self.failures()) / attempted,
        }
        return values, {"op_tail_percentile": pct, "op_samples": n}

    def per_layer(self, setup: dict[str, float]) -> dict:
        timed = [p for p in self.passes if p.kind == "timed"]
        traced = [p for p in timed if p.traced]
        plain = [p for p in timed if not p.traced]
        values = {k: statistics.median(p.layers[k] for p in traced) for k in PASS_LAYERS}
        values["session.start_s"] = setup["session.start_s"]
        values["registry.load_s"] = setup["registry.load_s"]
        values["driver.rss_hwm_mb"] = self.rss_hwm_mb()
        values["trace.overhead_ratio"] = (
            statistics.median(p.seconds for p in traced)
            / statistics.median(p.seconds for p in plain)
        )
        return values

    def rss_hwm_mb(self) -> float:
        """Driver JVM peak resident set plus the Python driver's."""
        from pyspark import SparkContext

        pid = SparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def write_spans(self) -> str:
        """The run's spans, for offline reading: passes, and ops with
        their build/exec split and (traced passes) their Spark jobs."""
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json")
        spans = []
        for p in self.passes:
            spans.append({"span": "pass", "id": p.no, "kind": p.kind,
                          "traced": p.traced, "seconds": p.seconds, "layers": p.layers})
            for op in p.ops:
                spans.append({"span": "op", "pass": p.no, "name": op.name,
                              "start": op.start, "build_end": op.build_end,
                              "end": op.end, "ok": op.ok, "error": op.error,
                              "pinned_rdds": op.pinned, "py4j_calls": op.py4j_calls,
                              "jobs": op.jobs})
        with open(path, "w") as fh:
            json.dump(spans, fh)
        return path

    def shut_down(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def _reason(exc: Exception) -> str:
    """The Python error inside ``exc``, else ``exc`` itself: a worker's
    exception reaches the driver wrapped in a long Java stack trace."""
    lines = [line.strip() for line in str(exc).splitlines()]
    python = [line for line in lines if re.match(r"\w+(Error|Exception): ", line)]
    return (python[-1] if python else repr(exc))[:300]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything the run writes (inputs, Spark scratch, temp files of
    # the program and its workers) lives under one directory of the
    # checkout, removed at the end.
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(1, ROOT)  # the driver imports the package from the checkout

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.make_inputs()
        setup = bench.set_up()
        bench.run()
        if args.trace:
            values = bench.per_layer(setup)
            units = PER_LAYER
            extra = {"spans": os.path.relpath(bench.write_spans(), ROOT)}
        else:
            values, extra = bench.end_to_end(setup)
            units = END_TO_END
    finally:
        bench.shut_down()
        shutil.rmtree(work, ignore_errors=True)
    failures = bench.failures()
    attempted = sum(len(p.ops) for p in bench.passes)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "failures": failures,
        "passes": [{"kind": p.kind, "traced": p.traced, "seconds": round(p.seconds, 4),
                    "ops": {op.name: round(op.wall, 4) for op in p.ops}}
                   for p in bench.passes],
        **extra,
    }))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
