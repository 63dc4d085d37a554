"""Composed end-to-end scale rehearsal at sandbox max (~1-2 GB of PDF
bytes, ~10x the scaling-protocol corpus), with a REAL mid-run kill.

Production shape, in order (VERDICT r4 task 4):

  extract (ExtractionJob: salted buckets + lineage, killed -9 mid-run
  and resumed)  ->  line_dedup  ->  PII redact  ->  quality + langid
  ->  decontaminate (n-gram vs a held-out benchmark)  ->
  deterministic_sample  ->  pack_chunks

What it proves beyond the pytest suite (which runs the same operators
at toy scale):

  * the kill+resume contract at GB scale: the parent launches the
    extraction phase as a separate OS process, SIGKILLs the whole
    process group after the first bucket-wave commits lineage, reruns
    it, and asserts the committed output is HASH-IDENTICAL to an
    uninterrupted single-pass run in a separate directory;
  * memory behavior: a sampler thread tracks peak RSS of every
    pyspark.daemon/worker python during each phase;
  * stage shape: rows + actual partition counts per curation stage.

Usage:
  python scripts/scale_rehearsal.py [--convs 400000] [--cpus 32]
  python scripts/scale_rehearsal.py --smoke        # ~30s sanity run
  (child mode is internal: --child-extract <out> <lineage> <corpus>)

A full run writes scripts/rehearsal_result.json, the tracked record
(prose summary in SCALE.md); a --smoke run writes
<workdir>/rehearsal_result.json and leaves that record alone.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 64
WAVES = 4


# ------------------------------------------------------- RSS sampling

class RssSampler(threading.Thread):
    """Peak RSS (kB) of executor-side python processes (pyspark
    daemon/worker), sampled from /proc every 0.3s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_single_kb = 0
        self.peak_total_kb = 0
        self._stop = threading.Event()

    @staticmethod
    def _worker_pids():
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                yield pid

    def run(self):
        while not self._stop.is_set():
            total = 0
            for pid in self._worker_pids():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        for ln in f:
                            if ln.startswith("VmRSS:"):
                                kb = int(ln.split()[1])
                                total += kb
                                self.peak_single_kb = max(
                                    self.peak_single_kb, kb)
                                break
                except OSError:
                    continue
            self.peak_total_kb = max(self.peak_total_kb, total)
            time.sleep(0.3)

    def stop(self) -> dict:
        self._stop.set()
        return {"peak_worker_rss_mb": round(self.peak_single_kb / 1024, 1),
                "peak_workers_total_rss_mb":
                    round(self.peak_total_kb / 1024, 1)}


# ------------------------------------------------------- child: extract

def child_extract(out_dir: str, lineage_dir: str, corpus_dir: str,
                  cpus: int) -> None:
    """Extraction phase in bucket waves so a kill lands BETWEEN
    lineage commits (partial progress must survive)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline.job import ExtractionJob
    from pdf_parser_spark.session import get_spark

    spark = get_spark("rehearsal-extract", cpus=cpus,
                      shuffle_partitions=cpus)
    sampler = RssSampler()   # extraction is the python-worker phase
    sampler.start()
    turns = spark.read.parquet(corpus_dir)
    job = ExtractionJob(spark, out_dir, lineage_dir,
                        n_buckets=N_BUCKETS, salt=2, partitions=cpus * 2)
    per_wave = N_BUCKETS // WAVES
    for w in range(WAVES):
        lo, hi = w * per_wave, (w + 1) * per_wave
        wave = turns.withColumn(
            "_b", F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS))) \
            .filter((F.col("_b") >= lo) & (F.col("_b") < hi)).drop("_b")
        m = job.run(wave)
        print(f"WAVE {w} DONE {m}", flush=True)
    print("RSS_CHILD " + json.dumps(sampler.stop()), flush=True)
    print("ALL WAVES DONE", flush=True)


# ---------------------------------------------------------- the phases

def _stage(df, name: str, results: dict):
    """Execute a stage once; record wall, rows, actual partitions.

    ``sec`` includes recomputing the upstream stages the plan is built
    on (no stage's input is cached), so it is not the stage's own
    time."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    parts = (df.groupBy(F.spark_partition_id().alias("p")).count()
             .agg(F.count(F.lit(1)).alias("n_parts"),
                  F.coalesce(F.sum("count"), F.lit(0)).alias("n_rows"))
             .first())
    sec = round(time.perf_counter() - t0, 2)
    results["stages"][name] = {"sec": sec, "rows": int(parts["n_rows"]),
                               "partitions": int(parts["n_parts"])}
    print(f"STAGE {name}: {sec}s rows={parts['n_rows']} "
          f"parts={parts['n_parts']}", flush=True)


def _output_hash(spark, out_dir: str, lineage_dir: str):
    """Order-insensitive content hash over COMMITTED rows (sum of
    row-level xxhash64 as decimal — overflow-free, distributed)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline.job import ExtractionJob

    job = ExtractionJob(spark, out_dir, lineage_dir,
                        n_buckets=N_BUCKETS, salt=2)
    out = job.read_output()
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("conv_id", "turn_idx", "text",
                         F.coalesce("parse_error", F.lit("")))
              .cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), str(r["h"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=400_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, same code path")
    ap.add_argument("--workdir", default="/tmp/rehearsal")
    ap.add_argument("--child-extract", nargs=3, metavar=("OUT", "LIN", "CORPUS"))
    args = ap.parse_args()

    if args.child_extract:
        child_extract(*args.child_extract, cpus=args.cpus)
        return

    if args.smoke:
        args.convs = 4_000

    import shutil

    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.curation import (
        deterministic_sample, ngram_contamination,
    )
    from pdf_parser_spark.operators.dedup import line_dedup
    from pdf_parser_spark.operators.packing import pack_chunks
    from pdf_parser_spark.operators.pii import redact_pii
    from pdf_parser_spark.operators.textstats import (
        with_lang_id, with_quality,
    )
    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.sources.turns import synthetic_turns

    wd = args.workdir
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    corpus = f"{wd}/corpus"
    out_a, lin_a = f"{wd}/a/out", f"{wd}/a/lineage"      # killed+resumed
    out_b, lin_b = f"{wd}/b/out", f"{wd}/b/lineage"      # uninterrupted

    results: dict = {"convs": args.convs, "cpus": args.cpus,
                     "stages": {}, "phases": {}}
    spark = get_spark("rehearsal", cpus=args.cpus,
                      shuffle_partitions=args.cpus)

    # ---------------------------------------------------------- corpus
    t0 = time.perf_counter()
    synthetic_turns(spark, args.convs, broken_every=50,
                    partitions=args.cpus * 2) \
        .write.mode("overwrite").parquet(corpus)
    turns = spark.read.parquet(corpus)
    stat = turns.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.octet_length("text")).alias("b")).first()
    results["phases"]["generate"] = {
        "sec": round(time.perf_counter() - t0, 1),
        "turns": int(stat["n"]),
        "pdf_gb": round(stat["b"] / 1e9, 3)}
    print("CORPUS:", results["phases"]["generate"], flush=True)

    # --------------------------------------- extract A: kill mid-run
    env = dict(os.environ, PYTHONPATH=REPO)
    argv = [sys.executable, os.path.abspath(__file__),
            "--cpus", str(args.cpus),
            "--child-extract", out_a, lin_a, corpus]
    t0 = time.perf_counter()
    child = subprocess.Popen(argv, env=env, start_new_session=True,
                             stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True)
    killed = False
    waves_before_kill = 0
    for line in child.stdout:
        if line.startswith("WAVE") and "DONE" in line:
            waves_before_kill += 1
            if waves_before_kill == 1:
                # first lineage commit is durable — kill the whole
                # process group mid-wave-2 (hard crash, no cleanup)
                time.sleep(2.0)
                os.killpg(os.getpgid(child.pid), signal.SIGKILL)
                killed = True
                break
    child.wait()
    assert killed, "child finished before the kill fired"

    # the kill must have landed MID-RUN: some buckets committed, some
    # not — otherwise the resume below verifies nothing. Read the
    # actual lineage state instead of trusting the wave counter (the
    # race review: a fast child could finish during the 2s sleep).
    committed = (spark.read.parquet(lin_a)
                 .select("bucket").distinct().count())
    assert 0 < committed < N_BUCKETS, (
        f"kill landed outside the window: {committed}/{N_BUCKETS} "
        f"buckets committed — rehearsal verified nothing")
    print(f"KILLED with {committed}/{N_BUCKETS} buckets committed",
          flush=True)

    # resume: fresh process, same dirs — lineage anti-join skips the
    # committed buckets, reprocesses the killed wave + the rest
    r = subprocess.run(argv, env=env, capture_output=True, text=True)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "ALL WAVES DONE" in r.stdout
    resumed_turns = sum(
        int(ln.split("'turns': ")[1].split(",")[0])
        for ln in r.stdout.splitlines()
        if ln.startswith("WAVE") and "'turns': " in ln)
    assert resumed_turns > 0, "resume reprocessed nothing"
    results["phases"]["extract_killed_plus_resume"] = {
        "sec": round(time.perf_counter() - t0, 1),
        "buckets_committed_before_kill": committed,
        "resumed_turns": resumed_turns}
    for ln in r.stdout.splitlines():
        if ln.startswith("RSS_CHILD "):
            results["phases"]["extract_rss"] = json.loads(ln[10:])

    # ------------------------------------ extract B: uninterrupted
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--cpus", str(args.cpus),
         "--child-extract", out_b, lin_b, corpus],
        env=env, capture_output=True, text=True)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    results["phases"]["extract_uninterrupted"] = {
        "sec": round(time.perf_counter() - t0, 1)}

    # --------------------------------------------- equality at scale
    n_a, h_a = _output_hash(spark, out_a, lin_a)
    n_b, h_b = _output_hash(spark, out_b, lin_b)
    assert n_a == n_b and h_a == h_b, (n_a, n_b, h_a, h_b)
    results["phases"]["resume_equality"] = {
        "rows": n_a, "content_hash_match": True}
    print(f"RESUME == UNINTERRUPTED: {n_a} rows, hash {h_a}", flush=True)

    # -------------------------------------------- curation pipeline
    sampler = RssSampler()
    sampler.start()
    from pdf_parser_spark.pipeline.job import ExtractionJob

    # Each extracted doc gets ONE unique content line prepended: the
    # fixture corpus holds only ~16 distinct texts duplicated across
    # every conversation, which line_dedup CORRECTLY classifies as
    # 100% boilerplate (measured: it emptied every doc). Real corpora
    # mix unique content with boilerplate; the unique line models the
    # content, the duplicated fixture lines model the boilerplate the
    # dedup is supposed to strip.
    docs = (ExtractionJob(spark, out_a, lin_a, n_buckets=N_BUCKETS)
            .read_output()
            .filter(F.col("parse_error").isNull())
            .withColumn("_did", F.concat_ws("#", "conv_id",
                                            F.col("turn_idx")))
            .select(F.col("_did").alias("doc_id"),
                    "bucket",
                    # the id interleaves EVERY OTHER word so every
                    # 5-gram of the line contains it — no k-gram is
                    # shared between two docs' unique lines
                    F.concat(
                        F.expr("""concat_ws(' ',
                            'wa', _did, 'wb', _did, 'wc',
                            _did, 'wd', _did, 'we', _did)"""),
                        F.lit("\n"), "text").alias("text")))

    t_all = time.perf_counter()
    ld = line_dedup(docs).join(docs.select("doc_id", "bucket"), "doc_id") \
        .select("doc_id", "bucket",
                F.col("text_clean").alias("text"))
    _stage(ld, "line_dedup", results)

    red = redact_pii(ld).drop("text") \
        .withColumnRenamed("text_redacted", "text")
    _stage(red, "pii_redact", results)

    q = with_lang_id(with_quality(red))
    _stage(q, "quality_langid", results)

    # benchmark = the unique content lines of a deterministic ~1/199
    # doc slice (stands in for a real eval set; broadcast side, as in
    # production) — exactly that slice must be removed downstream.
    bench = (docs.filter(F.crc32("doc_id") % 199 == 0)
             .select(F.split("text", "\\n").getItem(0).alias("text")))
    contam = ngram_contamination(q, bench)
    clean = q.join(contam, "doc_id", "left_anti")
    _stage(clean, "decontaminate", results)
    assert 0 < results["stages"]["decontaminate"]["rows"] \
        < results["stages"]["quality_langid"]["rows"]

    sampled = deterministic_sample(
        clean.withColumn("source", F.lit("main")), {"main": 0.5})
    _stage(sampled, "deterministic_sample", results)

    packed = pack_chunks(sampled, budget=2048, order_col="doc_id",
                         part_col="bucket", tokens_col="n_tokens")
    _stage(packed, "pack_chunks", results)

    results["phases"]["curation_total_sec"] = round(
        time.perf_counter() - t_all, 1)
    results["rss"] = sampler.stop()
    print("RSS:", results["rss"], flush=True)

    path = os.path.join(wd if args.smoke else os.path.join(REPO, "scripts"),
                        "rehearsal_result.json")
    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print("WROTE", path, flush=True)
    print(json.dumps(results), flush=True)


if __name__ == "__main__":
    main()
