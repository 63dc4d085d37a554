#!/usr/bin/env python3
"""Committed-output extraction benchmark.

    python3 perfbench/run.py --workload mixed_small --seed 1 --seconds 20 \
        --trace 0

Generates the workload's turns table from ``--seed``, runs
``ExtractionJob.run`` (durable partitioned write plus lineage commit)
on a warm ``local[nproc]`` session, checks every committed turn against
the generator's golden outcome, and prints one JSON line last:
``--trace 0`` gives the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ledger. See perfbench/README.md for what each metric
means and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_BUCKETS = 64  # scripts/submit_job.py defaults
SALT = 4
RUN_TAG = "perfbench-traced-run"  # Spark job tag of the traced job.run
KERNEL_SAMPLE = {"mixed_small": 400, "flate_distinct": 60}
DEADLINE_S = 165  # a run has 180 s; leave time to stop what is left
WORK_ENV = "PERFBENCH_WORK"  # the run's scratch directory, set by run.py
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def took(span: dict) -> float:
    return span["end"] - span["start"]


def _configure_env(work: str, event_dir: str | None) -> None:
    """Make the package importable by Python workers from any working
    directory and keep every Spark/JVM file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. The Python workers
    it leaves are ended by the supervising process (``supervise.py``)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.layers: dict[str, float] = {}
        self.n_dirs = 0

    # ----------------------------------------------------------- set-up

    def setup(self) -> float:
        """Session up and one worker per core has imported the kernel;
        returns seconds since the supervising process started, less
        stolen CPU time as in ``end_to_end``."""
        from perfbench.host import cpu_ticks, process_age_s
        from perfbench.spark_layers import warm_workers
        from pdf_parser_spark.session import get_spark

        cpu0 = cpu_ticks()
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.nproc)
        self.layers["setup.session_s"] = time.perf_counter() - t
        warm_workers(self.spark, self.nproc)
        age = process_age_s(os.getppid())
        busy, steal = (b - a for a, b in zip(cpu0, cpu_ticks()))
        log(f"set up in {age:.2f}s since process start, "
            f"{steal / max(1, busy + steal):.3f} of CPU demand stolen")
        return age * busy / max(1, busy + steal)

    def make_corpus(self) -> None:
        from perfbench import corpus as cp

        t = time.perf_counter()
        self.corpus = cp.generate(self.args.workload, self.args.seed)
        path = os.path.join(self.work, "turns")
        cp.write_corpus(self.corpus, path, n_files=self.nproc * 2)
        self.turns = self.spark.read.parquet(path)
        self.layers["setup.corpus_s"] = time.perf_counter() - t
        print(f"corpus: workload={self.args.workload} seed={self.args.seed}"
              f" sha256={self.corpus.content_hash()}"
              f" turns={len(self.corpus.conv_ids)}"
              f" bytes={self.corpus.n_bytes}", flush=True)

    def new_job(self):
        from pdf_parser_spark.pipeline.job import ExtractionJob

        self.n_dirs += 1
        d = os.path.join(self.work, f"job{self.n_dirs}")
        return ExtractionJob(self.spark, os.path.join(d, "out"),
                             os.path.join(d, "lineage"),
                             n_buckets=N_BUCKETS, salt=SALT)

    def drop(self, job) -> None:
        shutil.rmtree(os.path.dirname(job.output_dir), ignore_errors=True)

    def wrong(self, *jobs) -> int:
        """Golden gate on the jobs' committed output (untimed): wrong
        turns summed over the jobs."""
        from perfbench.gate import wrong_turns
        from perfbench.spark_layers import committed_rows

        return sum(wrong_turns(rows, self.corpus.goldens)
                   for rows in committed_rows(jobs))

    def warm_up(self) -> None:
        """A first job.run on a quarter of the conversations loads and
        compiles the plan's code in the JVM and workers; the first job on
        a fresh session runs about twice as long as later ones."""
        from pyspark.sql import functions as F

        log("warm-up job.run")
        quarter = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0
        job = self.new_job()
        job.run(self.turns.filter(quarter))
        self.drop(job)

    def timed_run(self, job) -> tuple[dict, float]:
        t = time.perf_counter()
        m = job.run(self.turns)
        return m, time.perf_counter() - t

    # ------------------------------------------------------- end to end

    def end_to_end(self) -> tuple[dict, int, int]:
        from pyspark import SparkContext

        from perfbench.host import WorkerRssSampler, cpu_ticks

        self.warm_up()
        log("timed job.run")
        jvm_pid = SparkContext._gateway.proc.pid
        reps, jobs = [], []
        # a fixed count, so the code's speed never changes how warm the
        # timed runs are; a job.run takes 4-8 s on 4 CPUs
        while len(reps) < max(1, round(self.args.seconds / 6)):
            job = self.new_job()
            cpu0 = cpu_ticks()
            with WorkerRssSampler(jvm_pid) as rss:
                m, dt = self.timed_run(job)
            busy, steal = (b - a for a, b in zip(cpu0, cpu_ticks()))
            # CPU time the hypervisor withheld from the host is taken
            # out of the wall time in proportion to the demand it left
            # unserved: other tenants' load is not the program's speed
            reps.append({"s": dt, "adj_s": dt * busy / max(1, busy + steal),
                         "turns": m["turns"], "bytes": m["bytes"],
                         "rss_kb": rss.peak_kb,
                         "steal": steal / max(1, busy + steal)})
            jobs.append(job)
        # the timed runs go back to back; their outputs are checked after
        failed = self.wrong(*jobs)
        for job in jobs:
            self.drop(job)
        # throughput over the whole timed window: the session warms
        # through the runs the same way every time, while the host's
        # speed wanders within seconds, which a longer window averages
        timed_s = sum(r["adj_s"] for r in reps)
        metrics = {
            "turns_per_s": sum(r["turns"] for r in reps) / timed_s,
            "mb_per_s": sum(r["bytes"] for r in reps) / 1e6 / timed_s,
            "worker_peak_rss_mb": max(r["rss_kb"] for r in reps) / 1024,
        }
        attempted = len(self.corpus.goldens) * len(reps)
        wall_tps = (sum(r["turns"] for r in reps)
                    / sum(r["s"] for r in reps))
        print(f"runs: {len(reps)} timed job.run; wall s="
              + ",".join(f"{r['s']:.3f}" for r in reps)
              + "; stolen share of CPU demand="
              + ",".join(f"{r['steal']:.3f}" for r in reps)
              + f"; wall turns_per_s={wall_tps:.4f}"
              f"; failed_turn_share={failed / attempted} "
              f"({failed}/{attempted})", flush=True)
        return metrics, attempted, failed

    # ---------------------------------------------------------- ledger

    def ledger(self, tracer) -> tuple[dict, int, int]:
        """Per-layer seconds and counts, each layer timed around a call
        into its public function. Returns (metrics, attempted, failed)."""
        from pyspark.sql import functions as F

        from perfbench import spark_layers as sl
        from perfbench.kernel_phases import kernel_ledger
        from pdf_parser_spark.operators.extraction import extract_turns

        spark, turns, span = self.spark, self.turns, tracer.span
        out = dict(self.layers)
        self.warm_up()
        log("ledger")
        took_s: dict[str, list[float]] = {}
        failed = 0
        with span("workload"):
            # two rounds, the fastest of each kept, so JIT warming between
            # them does not leak into the prefix differences
            for rnd in range(2):
                with span("scan") as sc:
                    sl.noop(turns)
                with span("extraction.boundary") as bd:
                    sl.noop(sl.boundary(turns))
                with span("extraction.extract_turns") as ex:
                    sl.noop(extract_turns(turns))

                # cumulative prefixes of job.run's plan, each forced to a
                # sink, then job.run itself between two untraced runs
                job = self.new_job()
                salted, extracted = sl.job_prefixes(job, turns, "prefix")
                prefix_dir = os.path.join(self.work, "prefix")
                with span("job.prefix.bucket_shuffle") as p1:
                    sl.noop(salted)
                with span("job.prefix.extract") as p2:
                    sl.noop(extracted)
                with span("job.prefix.write") as p3:
                    (extracted.write.mode("append")
                     .partitionBy("run_id", "bucket").parquet(prefix_dir))
                shutil.rmtree(prefix_dir)
                untraced = []
                if rnd:  # untraced job.runs around the traced one
                    ref = self.new_job()
                    untraced.append(self.timed_run(ref)[1])
                    self.drop(ref)
                    # the event log's task metrics cover one run
                    spark.sparkContext.addJobTag(RUN_TAG)
                try:
                    with span("job.run") as run:
                        job.run(turns)
                finally:
                    spark.sparkContext.removeJobTag(RUN_TAG)
                if rnd:
                    ref = self.new_job()
                    untraced.append(self.timed_run(ref)[1])
                    self.drop(ref)
                    # same turns, so the turns/s ratio is the time ratio;
                    # the mean of the runs before and after cancels the
                    # session's warming between them
                    overhead = 1.0 - statistics.mean(untraced) / took(run)
                for name, sp in (("scan", sc), ("boundary", bd),
                                 ("extract", ex), ("p1", p1), ("p2", p2),
                                 ("p3", p3), ("run", run)):
                    took_s.setdefault(name, []).append(took(sp))
                failed += self.wrong(job)
                if not rnd:
                    self.drop(job)

            with span("job.completed_buckets") as cb:
                sl.noop(job.completed_buckets())
            with span("job.read_output") as ro:
                sl.noop(job.read_output())
            best = {n: min(v) for n, v in took_s.items()}
            files, size = sl.dir_stats(job.output_dir)
            out.update({
                "scan.s": best["scan"],
                "extraction.boundary_s": best["boundary"],
                "extraction.extract_turns_s": best["extract"],
                "job.bucket_shuffle_s": best["p1"],
                "job.extract_s": best["p2"] - best["p1"],
                "job.write_s": best["p3"] - best["p2"],
                "job.commit_s": best["run"] - best["p3"],
                "job.run_s": best["run"],
                "job.completed_buckets_s": took(cb),
                "job.read_output_s": took(ro),
                "job.output_files": files,
                "job.output_mb": size / 1e6,
                "job.lineage_rows": spark.read.parquet(
                    job.lineage_dir).count(),
                "trace.overhead": overhead,
            })
            self.drop(job)

            # resume: a committed run covers the even buckets; the timed
            # run extracts the rest
            job = self.new_job()
            even = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)) % 2 == 0
            job.run(turns.filter(even))
            with span("resume.completed_buckets") as cb:
                sl.noop(job.completed_buckets())
            with span("resume.run") as run:
                job.run(turns)
            out["resume.completed_buckets_s"] = took(cb)
            out["resume.run_s"] = took(run)
            failed += self.wrong(job)
            self.drop(job)

            # the kernel alone, in this process, on one core
            rng = random.Random(f"kernel:{self.args.seed}")
            docs = rng.sample(self.corpus.payloads,
                              min(KERNEL_SAMPLE[self.args.workload],
                                  len(self.corpus.payloads)))
            with span("kernel"):
                kern, mismatches = kernel_ledger(docs)
            out.update(kern)
            failed += mismatches
        attempted = 3 * len(self.corpus.goldens) + len(docs)
        return out, attempted, failed


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    spec = _load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark",
                                       "__init__.py")):
        print(f"perfbench: no pdf_parser_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.environ[WORK_ENV]
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    _configure_env(work, event_dir)

    import platform

    import pyarrow
    import pyspark

    from perfbench.host import busyloop_ceiling
    from perfbench.trace import Tracer

    bench = Bench(args, work)
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        setup_s = bench.setup()
        bench.make_corpus()
        host = {"nproc": bench.nproc, "master": f"local[{bench.nproc}]",
                "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "python": platform.python_version(),
                "ceiling_mops_before": busyloop_ceiling(bench.nproc)}
        if args.trace:
            metrics, attempted, failed = bench.ledger(tracer)
        else:
            metrics, attempted, failed = bench.end_to_end()
            metrics["setup_s"] = setup_s
        host["ceiling_mops_after"] = busyloop_ceiling(bench.nproc)
        print("host: " + json.dumps(host), flush=True)
        if args.trace:
            from perfbench.spark_layers import task_metrics

            _stop_spark(bench.spark)
            bench.spark = None
            metrics.update(task_metrics(event_dir, RUN_TAG))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"trace-{tracer.trace_id}.json"),
                {"host": host, "metrics": metrics})
    finally:
        if bench.spark is not None:
            _stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")

    declared = spec["per_layer" if args.trace else "end_to_end"]
    mismatch = {d["name"] for d in declared} ^ set(metrics)
    if mismatch:
        print(f"perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(mismatch)}", file=sys.stderr)
        return 3
    for d in declared:
        print(f"{d['name']} = {metrics[d['name']]:.6g} {d['unit']}")
    # 0 at a correct commit, so it has no relative spread and is not in
    # BENCHMARK.json; the result line carries it as failed / attempted
    print(f"failed_turn_share = {failed / attempted:.6g} share")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {d["name"]: {"value": metrics[d["name"]],
                                "unit": d["unit"]} for d in declared},
    }))
    return 0


if __name__ == "__main__":
    if os.environ.get(WORK_ENV):
        sys.exit(main())
    sys.path.insert(0, ROOT)
    from perfbench.supervise import supervise

    # the run itself is a child process; this one stops whatever it
    # leaves behind, gives up before the 180-s limit of one run and
    # removes the run's files however it ended
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        rc = supervise([sys.executable, os.path.abspath(__file__),
                        *sys.argv[1:]], {WORK_ENV: work},
                       deadline_s=DEADLINE_S, grace_s=5)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)
