"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line (guaranteed to
fit the driver's 2000-char stdout tail capture):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "extract": {"turns": N, "mb": M, "turns_per_sec": ..., ...}}
Raw per-query samples, busy-loop host-ceiling probes, and the
dedup-lever measurement are written to BENCH_DETAIL.json alongside.

Query results are forced with a noop-format write (full plan executes,
nothing is collected to the driver). The extraction benchmark runs the
flagship kernel, ``extract_turns`` (``mapInArrow``), over a
deterministic synthetic transcript corpus (SPARK_GRAFT_BENCH_CONVS
conversations, default 20000).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family that matters at scale. The
# exact-pairwise variants (dd02, ann01 brute force) are correctness
# oracles, not scale paths — the bench runs the LSH variants alongside
# the brute-force ANN baseline for comparison.
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q05_top_orders_per_customer",
    "q11_events_hourly",
    "dd01_exact_dedup",
    "dd03_minhash_lsh",
    "dd04_simhash",
    "dd05_embedding_cosine",
    "dd06_embedding_srp",
    "tx02_quality",
    "tx03_langid",
    "tx04_fingerprint",
    "ann01_cosine_topk",
    "ann02_lsh_topk",
    "ann03_ivf_topk",
    "q23_session_window",
    "cp01_curation_pipeline",
    "mm01_decode_meta",
    "mm02_frame_sample",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def busyloop_ceiling(nproc: int = 4, dur: float = 1.2) -> float:
    """Pure-python busy-loop aggregate rate (M ops/s) across ``nproc``
    processes — a software-independent probe of how fast THIS host is
    right now. Recorded before and after the suite so a judged round
    can separate host-contention windows (microVM steal drifts 2-3x
    over minutes) from software regressions."""
    import multiprocessing as mp

    def work(q):
        import time as _t
        n = 0
        end = _t.perf_counter() + dur
        while _t.perf_counter() < end:
            for _ in range(10_000):
                n += 1
        q.put(n)

    q = mp.Queue()
    procs = [mp.Process(target=work, args=(q,)) for _ in range(nproc)]
    for p in procs:
        p.start()
    try:
        tot = sum(q.get(timeout=dur * 10 + 30) for _ in procs)
    except Exception:
        for p in procs:
            p.terminate()
        return -1.0  # probe failure must never fail the bench
    for p in procs:
        p.join()
    return round(tot / dur / 1e6, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))

    from pdf_parser_spark.queries import (
        QUERIES, dd03_minhash_lsh, dd04_simhash, dd05_embedding_cosine,
    )
    from pdf_parser_spark.session import get_spark

    # dd05 left the 50-entry driver registry in round 3 (pytest-oracled
    # twin of dd06) but stays in the bench as the brute-force baseline;
    # dd03/dd04 (xxhash64 scale paths) left it in round 4 (dd07/dd09,
    # the same pipelines on the md5 family, hold the oracled slots) and
    # stay benchmarked here
    catalog = dict(QUERIES)
    catalog["dd05_embedding_cosine"] = dd05_embedding_cosine
    catalog["dd03_minhash_lsh"] = dd03_minhash_lsh
    catalog["dd04_simhash"] = dd04_simhash

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)

    # spin up the python-worker pool once so the first pandas/arrow
    # query isn't charged ~10s of 32x interpreter+import startup
    import pandas as _pd

    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: (pdf for pdf in it), "id long") \
        .write.mode("overwrite").format("noop").save()

    ceiling_before = busyloop_ceiling()

    # three back-to-back samples per query plus one time-separated
    # sample from a second full sweep, min kept. Back-to-back triples
    # make a host-slow window visible in that query's recorded spread
    # (instead of silently inflating one whole suite pass) — but they
    # also all fit INSIDE one bad window (measured: a post-scaling-run
    # window taxed dd03's triple 9.1/7.0/13.0 s vs 2.8 s warm minutes
    # later), so the fourth sample, a full sweep away in time, bounds
    # that failure mode too.
    times: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = catalog[name]
        samples = []
        for _pass in range(3):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        passes[name] = samples
    for name in HEADLINE:
        fn = catalog[name]
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        passes[name].append(round(time.perf_counter() - t0, 3))
        times[name] = min(passes[name])

    # extraction throughput (flagship kernel) — production shape: read
    # a materialized turns table, extract; one warm-up run discarded
    import tempfile

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.extraction import extract_turns
    from pdf_parser_spark.sources.turns import synthetic_turns

    # input materialized into cpus*2 splits; extraction reads them
    # directly — no repartition (a forced shuffle of the PDF payloads
    # measured 2x the extraction itself; production tables arrive in
    # thousands of splits, and salting stays opt-in for skew)
    data_dir = tempfile.mkdtemp(prefix="bench-turns-") + "/turns"
    synthetic_turns(spark, n_convs, partitions=cpus * 2) \
        .write.mode("overwrite").parquet(data_dir)
    turns = spark.read.parquet(data_dir)
    force(extract_turns(turns))  # warm-up
    ext_samples = []
    m = {}
    for i in range(3):
        obs = Observation(f"bench{i}")
        ext = extract_turns(turns).observe(
            obs, F.count(F.lit(1)).alias("turns"),
            F.sum("bytes").alias("bytes"))
        t0 = time.perf_counter()
        force(ext)
        ext_samples.append(round(time.perf_counter() - t0, 3))
        m = dict(obs.get)
    ext_sec = min(ext_samples)
    times["pdf_extract"] = ext_sec
    passes["pdf_extract"] = ext_samples
    extract = {
        "turns": int(m["turns"]),
        "mb": round(m["bytes"] / 1e6, 2),
        "sec": ext_sec,
        "turns_per_sec": round(m["turns"] / ext_sec, 1),
        "mb_per_sec": round(m["bytes"] / 1e6 / ext_sec, 2),
        "n_convs": n_convs,
        "cpus": cpus,
    }

    # dedup lever: extract_turns_dedup pays one digest shuffle +
    # join-back to run the kernel once per DISTINCT payload (real
    # transcript corpora are 2-10x duplicated). Two corpora expose the
    # measured CROSSOVER: the lever trades kernel cost per PARSED byte
    # against shuffle cost per FILE byte, so it pays on realistic
    # payloads (multi-page Flate docs, ~3.4 MB/s/core kernel) and does
    # NOT on light single-page toys (~5.5 MB/s/core, where one shuffle
    # pass costs as much as the saved kernel work at 1-second stage
    # scale).
    from pdf_parser_spark.operators.extraction import extract_turns_dedup

    dup_factor = 5

    def measure_lever(tag: str, fixture: str, distinct_docs: int) -> dict:
        def gen_lever(batches):
            import pdf_parser_spark.fixtures as fx
            gen = getattr(fx, fixture)
            cache: dict[int, str] = {}
            for pdf_in in batches:
                conv_ids, texts = [], []
                for r in pdf_in["id"]:
                    r = int(r)
                    pid = r // dup_factor
                    if pid not in cache:
                        cache[pid] = gen(pid)[0].decode("latin-1")
                    conv_ids.append(f"{tag}-{r:08d}")
                    texts.append(cache[pid])
                yield _pd.DataFrame({"conv_id": conv_ids,
                                     "turn_idx": 0, "text": texts})

        lever_rows = distinct_docs * dup_factor
        lever_dir = tempfile.mkdtemp(prefix=f"bench-lever-{tag}-") + "/turns"
        (spark.range(lever_rows).repartition(cpus * 2)
         .mapInPandas(gen_lever, "conv_id string, turn_idx int, text string")
         .write.mode("overwrite").parquet(lever_dir))
        lever = spark.read.parquet(lever_dir)
        force(extract_turns(lever))  # warm-up
        # min of 3 per side, alternating which side runs first so a
        # host-speed drift does not favour one side (min-of-2 in a fixed
        # order swung the speedup 1.56x-3.05x across runs)
        sides = [(extract_turns, []), (extract_turns_dedup, [])]
        for k in range(3):
            for fn, samples in (sides if k % 2 == 0 else sides[::-1]):
                t0 = time.perf_counter()
                force(fn(lever))
                samples.append(round(time.perf_counter() - t0, 3))
        direct_s, dedup_s = sides[0][1], sides[1][1]
        return {
            "fixture": fixture,
            "rows": lever_rows,
            "distinct_payloads": distinct_docs,
            "dup_factor": dup_factor,
            "direct_sec": min(direct_s),
            "dedup_sec": min(dedup_s),
            "direct_samples": direct_s,
            "dedup_samples": dedup_s,
            "speedup": round(min(direct_s) / min(dedup_s), 2),
        }

    dedup_lever = {
        "light": measure_lever("ll", "pdf_seeded_text",
                               max(200, n_convs // 2)),
        "realistic": measure_lever("lf", "pdf_seeded_flate",
                                   max(100, n_convs // 5)),
    }

    ceiling_after = busyloop_ceiling()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    headline = {
        "metric": "headline_queries_plus_pdf_extract_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extract": extract,
    }
    # raw samples, host-speed probes, and the dedup-lever measurement
    # go to a SIDE FILE: the driver captures only the last 2000 chars
    # of stdout, and round 4's inflated single line overflowed that
    # window (BENCH_r04.json recorded "parsed": null). The final stdout
    # line must stay compact; everything else lives in
    # BENCH_DETAIL.json next to this script.
    detail = dict(headline)
    detail.update({
        "dedup_lever": dedup_lever,
        "ceiling_mops": {"before": ceiling_before,
                         "after": ceiling_after},
        "passes": passes,
    })
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    line = json.dumps(headline, separators=(",", ":"))
    # hard guard: the headline line must fit the driver's tail capture
    if len(line) > 1800:
        headline.pop("extract", None)
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
