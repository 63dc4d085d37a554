"""Tests for the training-data-pipeline operators (dedup, textstats,
similarity, multimodal) — small inline frames with hand-computed
expectations, plus registry consistency for the driver contract."""

from __future__ import annotations

import math

import numpy as np
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog sat too", "en"),
        (1, "the cat sat on the mat and the dog sat too", "en"),   # exact dup
        (2, "the cat sat on the mat and the dog slept too", "en"),  # near dup
        (3, "der hund und die katze und das haus und der baum", "de"),
        (4, "completely different words entirely unrelated content here", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ------------------------------------------------------------------ dedup

def test_exact_dedup_keeps_min_id(spark, docs):
    from pdf_parser_spark.operators.dedup import exact_dedup
    out = {r["doc_id"]: r["dup_count"]
           for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0,1 collapse to min id 0
    assert 1 not in out
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_shingles_bigrams(spark, docs):
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.dedup import shingles
    sh = (docs.filter("doc_id = 0")
          .select(shingles(F.col("text"), 2).alias("sh"))
          .head()["sh"])
    assert "the cat" in sh and "cat sat" in sh
    # distinct: "the" appears 3x but each bigram is unique once
    assert len(sh) == len(set(sh))


def test_minhash_lsh_finds_near_dups(spark, docs):
    from pdf_parser_spark.operators.dedup import minhash_dedup_pairs
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in minhash_dedup_pairs(docs, k=2, threshold=0.5)
             .collect()}
    assert pairs[(0, 1)] == 1.0         # exact dup -> jaccard 1
    assert (0, 2) in pairs or (1, 2) in pairs   # near dup caught
    assert all(a < b for a, b in pairs)
    assert not any({a, b} == {3, 4} for a, b in pairs)


def test_simhash_identical_and_distant(spark, docs):
    from pdf_parser_spark.operators.dedup import simhash, simhash_candidates
    sim = simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[0] == vals[1]           # identical text, identical hash
    cands = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_candidates(sim, bands=4,
                                         max_hamming=3).collect()}
    assert cands.get((0, 1)) == 0


def test_simhash_banding_finds_prefix_flips(spark):
    """Regression vs the old single 8-bit-prefix block: a pair whose
    only differing bits are INSIDE the top byte was silently missed.
    Banded tables must find it."""
    from pdf_parser_spark.operators.dedup import simhash_candidates

    base = 0x123456789ABCDEF0
    top_flips = base ^ (0b111 << 61)       # 3 flips, all in top byte
    low_flips = base ^ 0b1011              # 3 flips, all in low band
    far = base ^ ((1 << 63) | (1 << 40) | (1 << 20) | (1 << 5))  # h=4
    sim = spark.createDataFrame(
        [(0, _as_long(base)), (1, _as_long(top_flips)),
         (2, _as_long(low_flips)), (3, _as_long(far))],
        "doc_id long, simhash long")
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_candidates(sim, bands=4,
                                       max_hamming=3).collect()}
    assert got[(0, 1)] == 3               # inside old prefix: now found
    assert got[(0, 2)] == 3
    assert (0, 3) not in got              # hamming 4 > max: excluded


def _as_long(v: int) -> int:
    """Interpret a 64-bit pattern as a signed Java long."""
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_banding_equals_exact(spark):
    """The banded candidate set must EQUAL the quadratic all-pairs
    Hamming join (guaranteed recall via pigeonhole + exact verify)."""
    import random

    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.dedup import simhash_candidates

    rng = random.Random(42)
    rows = []
    fid = 0
    for _ in range(40):
        base = rng.getrandbits(64)
        rows.append((fid, _as_long(base))); fid += 1
        # a few close neighbours at distances 1..5
        for h in (1, 2, 3, 4, 5):
            flipped = base
            for bit in rng.sample(range(64), h):
                flipped ^= (1 << bit)
            rows.append((fid, _as_long(flipped))); fid += 1
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")

    banded = {(r["a"], r["b"], r["hamming"])
              for r in simhash_candidates(sim, bands=4,
                                          max_hamming=3).collect()}
    a, b = sim.alias("a"), sim.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    exact = {(r["a"], r["b"], r["hamming"]) for r in
             a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
              .withColumn("hamming", F.bit_count(xor))
              .filter("hamming <= 3")
              .select(F.col("a.doc_id").alias("a"),
                      F.col("b.doc_id").alias("b"), "hamming").collect()}
    assert banded == exact
    assert len(exact) > 0


def test_simhash_md5_banding_equals_quadratic(spark):
    """dd09's banded pipeline (``simhash`` + ``simhash_candidates`` on
    the md5 family, 32 bits, no bucket guard) must EQUAL the quadratic
    all-pairs Hamming join over '0'/'1' string fingerprints built here
    independently of the core. The DuckDB oracle (ORACLE_DD09)
    re-checks the same identity cross-engine; this pins it Spark-side
    on a corpus with real duplicate masses."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.dedup import (
        MD5, simhash, simhash_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError):   # 32 hex digits -> at most 32 bits
        simhash(docs, family=MD5)
    sim = simhash(docs, bits=32, family=MD5)
    banded = {(r["a"], r["b"], r["hamming"])
              for r in simhash_candidates(sim, max_bucket=None,
                                          bits=32).collect()}

    # quadratic reference: '0'/'1' string fingerprints, all-pairs join
    from pdf_parser_spark.operators.dedup import _normalize
    votes = lambda w: F.transform(  # noqa: E731
        F.slice(F.split(F.md5(w), ""), 1, 32),
        lambda c: F.when(c >= F.lit("8"), F.lit(1)).otherwise(F.lit(-1)))
    counters = F.aggregate(
        F.split(F.trim(_normalize(F.col("text"))), " "),
        F.array_repeat(F.lit(0), 32),
        lambda acc, w: F.zip_with(acc, votes(w), lambda a, b: a + b))
    fp = docs.select(
        "doc_id",
        F.array_join(F.transform(counters,
                                 lambda c: F.when(c > 0, F.lit("1"))
                                 .otherwise(F.lit("0"))), "").alias("f"))
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.aggregate(
        F.zip_with(F.split(F.col("a.f"), ""), F.split(F.col("b.f"), ""),
                   lambda x, y: F.when(x != y, F.lit(1))
                   .otherwise(F.lit(0))),
        F.lit(0), lambda acc, x: acc + x).cast("long")
    exact = {(r["a"], r["b"], r["hamming"]) for r in
             a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
              .withColumn("hamming", ham)
              .filter("hamming <= 3")
              .select(F.col("a.doc_id").alias("a"),
                      F.col("b.doc_id").alias("b"), "hamming").collect()}
    assert banded == exact
    assert len(exact) > 0


def test_embedding_cosine_pairs(spark):
    from pdf_parser_spark.operators.dedup import embedding_cosine_pairs
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0], 0),     # ~parallel to 0
        (2, [0.0, 1.0, 0.0], 0),      # orthogonal
        (3, [1.0, 0.0, 0.0], 1),      # parallel to 0 but other block
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    assert (0, 3) not in pairs          # blocked by label


def test_embedding_srp_recall(spark):
    """SRP-LSH near-dup (the scale path) must recover >=90% of planted
    true near-dups (cos >= 0.99) found by the exact quadratic join,
    with zero false positives (exact cosine verify on candidates)."""
    import numpy as np

    from pdf_parser_spark.operators.dedup import (
        embedding_cosine_pairs, embedding_srp_pairs,
    )

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _ in range(60):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v], 0)); vid += 1
        # planted near-dup: tiny perturbation -> cosine ~0.999
        d = v + rng.standard_normal(64) * 0.008
        d /= np.linalg.norm(d)
        rows.append((vid, [float(x) for x in d], 0)); vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")

    exact = {(r["a"], r["b"]) for r in embedding_cosine_pairs(
        emb, block_col=None, threshold=0.99).collect()}
    srp = {(r["a"], r["b"]) for r in embedding_srp_pairs(
        emb, block_col=None, threshold=0.99,
        n_planes=8, probe_hamming=1).collect()}
    assert len(exact) >= 60               # all planted pairs qualify
    assert srp <= exact                   # no false positives
    recall = len(srp & exact) / len(exact)
    assert recall >= 0.90, f"recall {recall:.3f}"


# --------------------------------------------------------------- textstats

def test_token_counts(spark, docs):
    from pdf_parser_spark.operators.textstats import with_token_counts
    r = with_token_counts(docs).filter("doc_id = 0").head()
    assert r["n_tokens"] == 11
    assert r["n_bpe_units"] == 11       # pure words, no punctuation
    assert r["n_bytes"] == len("the cat sat on the mat and the dog sat too")


def test_quality_bounds_and_stopwords(spark, docs):
    from pdf_parser_spark.operators.textstats import with_quality
    rows = {r["doc_id"]: r for r in with_quality(docs).collect()}
    for r in rows.values():
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
    # doc 0 is stopword-heavy english; doc 3 has no english stopwords
    assert rows[0]["stopword_ratio"] > rows[3]["stopword_ratio"]


def test_langid(spark, docs):
    from pdf_parser_spark.operators.textstats import with_lang_id
    rows = {r["doc_id"]: r for r in with_lang_id(docs).collect()}
    assert rows[0]["pred_lang"] == "en"
    assert rows[3]["pred_lang"] == "de"


def test_fingerprint_deterministic_and_discriminative(spark, docs):
    from pdf_parser_spark.operators.textstats import with_fingerprint
    a = {r["doc_id"]: r["fingerprint"]
         for r in with_fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"]
         for r in with_fingerprint(docs).collect()}
    assert a == b
    assert a[0] == a[1]
    assert a[0] != a[4]
    from pdf_parser_spark.operators.textstats import FINGERPRINT_MOD
    assert all(0 <= v < FINGERPRINT_MOD for v in a.values())


# -------------------------------------------------------------- similarity

@pytest.fixture(scope="module")
def emb64(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 2))
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    return df, vecs


def test_cosine_topk_matches_numpy(spark, emb64):
    from pdf_parser_spark.operators.similarity import cosine_topk
    df, vecs = emb64
    out = cosine_topk(df, [0], k=3)
    got = [(r["cand_id"], r["rank"]) for r in
           out.orderBy("rank").collect()]
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    sims[0] = -np.inf                   # self excluded
    expect = list(np.argsort(-sims)[:3])
    assert [c for c, _ in got] == [int(e) for e in expect]
    assert [r for _, r in got] == [1, 2, 3]


def test_lsh_topk_recall(spark, emb64):
    """Multi-probe SRP-LSH must recover a decent fraction of the exact
    top-k (deterministic seeded hyperplanes -> stable assertion)."""
    from pdf_parser_spark.operators.similarity import (
        cosine_topk, lsh_cosine_topk,
    )
    df, _ = emb64
    probes = [0, 1, 2]
    exact = {(r["probe_id"], r["cand_id"])
             for r in cosine_topk(df, probes, k=3).collect()}
    approx = {(r["probe_id"], r["cand_id"])
              for r in lsh_cosine_topk(df, probes, k=3, n_planes=4,
                                       dim=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5
    # every approx hit must carry the exact cosine (rerank is exact)
    assert all(r["rank"] <= 3 for r in
               lsh_cosine_topk(df, probes, k=3, n_planes=4,
                               dim=8).collect())


# -------------------------------------------------------------- multimodal

def test_decode_meta_fake_codec(spark, docs):
    from pdf_parser_spark.operators.multimodal import as_media, decode_meta
    media = as_media(docs)
    rows = {r["doc_id"]: r for r in decode_meta(media).collect()}
    text0 = "the cat sat on the mat and the dog sat too"
    payload = text0.encode("utf-8")
    r = rows[0]
    assert r["n_bytes"] == len(payload)
    assert r["width"] == 1 + len(payload) % 640
    assert r["height"] == 1 + (len(payload) * 31) % 480
    assert r["byte_sum"] == sum(payload) % 65536
    assert r["decoder"] == "fake"       # no PIL in this container
    assert r["modality"] == "image"


def test_frame_sample_offsets(spark, docs):
    from pdf_parser_spark.operators.multimodal import as_media, frame_sample
    media = as_media(docs)
    rows = frame_sample(media, stride=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    text0 = "the cat sat on the mat and the dog sat too"
    n = len(text0.encode("utf-8"))
    frames = sorted(r["frame_idx"] for r in by_doc[0])
    assert frames == list(range(math.floor((n - 1) / 16) + 1))
    assert all(r["byte_offset"] == r["frame_idx"] * 16 for r in by_doc[0])


# ---------------------------------------------------------------- registry

def test_registry_consistency():
    import __spark_entry__ as e
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    # the round-2 driver snapshot recorded exactly the first 50
    # registry entries — the registry is pinned to that budget so every
    # entry (including the extraction parity gates) lands in
    # CORRECTNESS_r{N}.json
    assert len(qs) == 50
    # EVERY registry entry is oracled (no driver row may read
    # err:no_oracle): dd03/dd04 (xxhash64 family) live on in bench.py
    # + pytest, and dd07/dd09 run their pipelines on the md5 family
    assert set(qs) == set(oracles)


def test_cheap_queries_run_at_sf0001(spark):
    from pdf_parser_spark.queries import QUERIES
    sf = "/root/testdata/sf0.001"
    for name in ["q01_pricing_summary", "cu01_contamination",
                 "dd01_exact_dedup", "tx01_token_counts",
                 "mm02_frame_sample"]:
        assert QUERIES[name](spark, sf).count() > 0, name


def test_hll_sketch_within_error(spark):
    """HLL++ sketch (approx_count_distinct) vs exact, on the documents
    corpus — the 'sketch' member of the dedup/cardinality family. No
    DuckDB oracle (different HLL implementations); bounded-error check
    instead."""
    from pyspark.sql import functions as F
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = d.agg(
        F.countDistinct("text").alias("exact"),
        F.approx_count_distinct("text", 0.02).alias("approx")).head()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_ivf_recall_on_clustered_data(spark):
    """IVF ANN: on clustered data (the workload IVF exists for), the
    n_probe cell search must recover >=90% of the exact top-k pairs.
    Assignment continuity: near-identical vectors share an argmax cell."""
    import numpy as np

    from pdf_parser_spark.operators.similarity import (
        cosine_topk, ivf_cosine_topk,
    )

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for _ in range(12):                      # 12 tight clusters
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for _ in range(10):
            v = center + rng.standard_normal(64) * 0.02
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v])); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = [0, 10, 20, 30, 40]

    exact = {(r["probe_id"], r["cand_id"]) for r in
             cosine_topk(emb, probes, k=5).collect()}
    ivf = {(r["probe_id"], r["cand_id"]) for r in
           ivf_cosine_topk(emb, probes, k=5, n_centroids=16,
                           n_probe=4).collect()}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_duplicate_components_known_graph(spark):
    """Chain a-b-c plus separate pair d-e plus a long chain that needs
    multiple propagation rounds: every node maps to its component's
    min id."""
    from pdf_parser_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11),
         # 8-node chain 20-21-...-27 (diameter 7: exercises iteration)
         *[(20 + i, 21 + i) for i in range(7)]],
        "a long, b long")
    got = {r["doc_id"]: r["component"]
           for r in duplicate_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   **{20 + i: 20 for i in range(8)}}


def test_duplicate_components_string_ids(spark):
    """Regression: string doc ids must converge correctly (the sum
    witness is hash-based for non-numeric label types)."""
    from pdf_parser_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "a string, b string")
    got = {r["doc_id"]: r["component"]
           for r in duplicate_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x"}


def test_dd05_matches_duckdb_oracle(spark):
    """Cell-exact DuckDB oracle checks at sf0.001, every column, doubles
    rounded to 6 places: dd05 left the 50-entry driver registry in
    round 3 (dd06 is the oracled scale path) but remains the exact
    quadratic twin that pins embedding-cosine semantics; dd07/dd09 run
    the MinHash/SimHash scale pipelines on the md5 family, so this
    makes their oracle checks tier-1 too."""
    import duckdb

    from pdf_parser_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    mismatched = []
    for name, oracle in [("dd05_embedding_cosine", Q.ORACLE_DD05),
                         ("dd07_minhash_md5", Q.ORACLE_DD07),
                         ("dd09_simhash_md5", Q.ORACLE_DD09)]:
        got = getattr(Q, name)(spark, sf).toPandas()
        want = con.sql(oracle).df()
        assert sorted(got.columns) == sorted(want.columns), name
        cols = sorted(got.columns)
        got = got[cols].round(6).sort_values(cols).reset_index(drop=True)
        want = want[cols].round(6).sort_values(cols).reset_index(drop=True)
        assert len(got) > 0, name
        if not (len(got) == len(want)
                and (got.values == want.values).all()):
            mismatched.append(name)
    assert mismatched == []


def test_md5_oracle_guard_pins(spark):
    """On the oracle data the giant-bucket guard cannot change dd07
    (no MinHash bucket reaches the default cap), while dd09 needs its
    max_bucket=None (a SimHash table key exceeds the cap)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.dedup import (
        MD5, oversized_buckets, shingles, signatures_from_shingles,
        simhash, simhash_oversized_buckets,
    )
    from pdf_parser_spark.queries import NGRAM_K

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sh = docs.select("doc_id",
                         shingles(F.col("text"), NGRAM_K).alias("sh"))
        sigs = signatures_from_shingles(sh, num_perm=16, family=MD5)
        assert oversized_buckets(sigs, bands=4, rows_per_band=4,
                                 family=MD5).count() == 0, sf
        sim = simhash(docs, bits=32, family=MD5)
        assert simhash_oversized_buckets(sim, bands=4, max_hamming=3,
                                         bits=32).count() > 0, sf


def test_lsh_giant_bucket_guard(spark):
    """A degenerate identical-text mass must not blow up the in-bucket
    pair expansion: with the cap it completes and drops the mass (the
    accounting view reports it); pairs in healthy buckets survive."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_dedup_pairs, oversized_buckets,
        shingles, signatures_from_shingles,
    )

    mass = [(i, "identical boilerplate doc body repeated everywhere")
            for i in range(500)]
    pair = [(1000, "the quick brown fox jumps over the lazy dog today"),
            (1001, "the quick brown fox jumps over the lazy dog now")]
    docs = spark.createDataFrame(mass + pair, "doc_id long, text string")

    got = minhash_dedup_pairs(docs, k=2, threshold=0.5,
                              max_bucket=16).collect()
    ids = {r["a"] for r in got} | {r["b"] for r in got}
    assert (1000, 1001) in {(r["a"], r["b"]) for r in got}
    assert not any(i < 500 for i in ids)   # mass dropped, no blowup

    sh = docs.select("doc_id", shingles(F.col("text"), 2).alias("sh"))
    sigs = signatures_from_shingles(sh)
    over = oversized_buckets(sigs, max_bucket=16).collect()
    assert len(over) == 16                 # every band: one 500-bucket
    assert all(r["n"] == 500 for r in over)

    # cap disabled -> the mass pairs quadratically (sanity on a small n)
    small = spark.createDataFrame(mass[:30], "doc_id long, text string")
    ssigs = signatures_from_shingles(
        small.select("doc_id", shingles(F.col("text"), 2).alias("sh")))
    n_pairs = lsh_candidate_pairs(ssigs, max_bucket=None).count()
    assert n_pairs == 30 * 29 // 2
    assert lsh_candidate_pairs(ssigs, max_bucket=16).count() == 0


def test_simhash_giant_bucket_guard(spark):
    from pdf_parser_spark.operators.dedup import simhash_candidates

    mass_v = 0x123456789ABCDEF0
    pv = 0x0FEDCBA987654321
    sim = spark.createDataFrame(
        [(i, mass_v) for i in range(100)]
        + [(200, pv), (201, pv ^ 1)],   # hamming 1 pair, own buckets
        "doc_id long, simhash long")
    got = {(r["a"], r["b"])
           for r in simhash_candidates(sim, max_bucket=16).collect()}
    assert got == {(200, 201)}
    assert simhash_candidates(sim, max_bucket=None).count() == \
        100 * 99 // 2 + 1

    # accounting face: the dropped mass is observable under the SAME
    # permuted-table keys (defaults: bands=4, max_hamming=3 -> 4
    # single-band tables, so the 100-doc mass is one bucket per table)
    from pdf_parser_spark.operators.dedup import simhash_oversized_buckets
    over = simhash_oversized_buckets(sim, max_bucket=16).collect()
    assert len(over) == 4
    assert all(r["n"] == 100 for r in over)
    assert {r["tbl"] for r in over} == {0, 1, 2, 3}
    # the healthy hamming-1 pair (bucket size 2) is never reported
    assert simhash_oversized_buckets(sim, max_bucket=1).count() > 4


def test_duplicate_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir engages reliable checkpoint() (fault-tolerant
    lineage truncation for cluster runs) and yields identical results."""
    import os

    from pdf_parser_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), *[(20 + i, 21 + i) for i in range(7)]],
        "a long, b long")
    ckdir = str(tmp_path / "ck")
    got = {r["doc_id"]: r["component"]
           for r in duplicate_components(pairs,
                                         checkpoint_dir=ckdir).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   **{20 + i: 20 for i in range(8)}}
    assert os.listdir(ckdir)               # RDDs actually materialized


def test_duplicate_components_fractional_ids(spark):
    """Fractional double ids: the decimal-cast sum witness would round
    (2.4+1.6 == 2.0+2.0) and could exit before convergence; doubles
    must route through the hash witness and still converge."""
    from pdf_parser_spark.operators.dedup import duplicate_components

    # chain where a propagation round swaps fractional mass:
    # 2.4-1.6 pair and 2.0-2.0... use distinct values with equal sums
    pairs = spark.createDataFrame(
        [(2.4, 1.6), (1.6, 0.9), (7.5, 8.5)], "a double, b double")
    got = {round(r["doc_id"], 1): round(r["component"], 1)
           for r in duplicate_components(pairs).collect()}
    assert got == {2.4: 0.9, 1.6: 0.9, 0.9: 0.9, 7.5: 7.5, 8.5: 7.5}


def test_decode_meta_real_jpeg_path(spark, docs):
    """doc_id % 5 == 0 rows carry real JPEG fixture payloads and must
    be decoded by the in-repo T.81 codec (decoder='jpegdec'), with
    width/height/channels from the actual SOF — not the fake stub."""
    from pdf_parser_spark.operators.multimodal import (
        JPEG_SPECS, as_media, decode_meta, jpeg_fixture, with_jpeg_payloads,
    )

    media = with_jpeg_payloads(as_media(docs))
    got = {r["doc_id"]: r for r in decode_meta(media).collect()}
    w0, h0 = JPEG_SPECS[0]
    assert got[0]["decoder"] == "jpegdec"
    assert (got[0]["width"], got[0]["height"]) == (w0, h0)
    assert got[0]["channels"] == 1
    assert got[0]["n_bytes"] == len(jpeg_fixture(0))
    for i in (1, 2, 3, 4):                  # non-multiples keep the stub
        assert got[i]["decoder"] == "fake"
        assert got[i]["channels"] == 3


def test_repetition_signals_hand_case(spark):
    from pdf_parser_spark.operators.textstats import with_repetition

    rows = [
        (0, "a b\na b\nc d"),          # 3 lines, 1 dup line
        (1, "x y x y x y"),            # bigram 'x y' dominates
        (2, ""),                       # empty: all zeros
        (3, "unique words only here"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_repetition(d).collect()}
    assert got[0]["dup_line_frac"] == round(1 / 3, 6)
    # 'a b a b c d': 6 words, 4 distinct -> 2/6
    assert got[0]["dup_word_frac"] == round(2 / 6, 6)
    # doc1 bigrams: x y, y x, x y, y x, x y -> top 'x y' = 3/5
    assert got[1]["top_bigram_frac"] == 0.6
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.0
    assert got[3]["dup_word_frac"] == 0.0


def test_repetition_matches_duckdb_oracle(spark):
    """Cell-exact DuckDB oracle for the repetition signals over the
    sf0.001 documents corpus (pytest-side oracle — the driver registry
    is capped at 50 entries)."""
    import duckdb

    from pdf_parser_spark.operators.textstats import with_repetition

    sf = "/root/testdata/sf0.001"
    got = (with_repetition(
        spark.read.parquet(f"{sf}/documents.parquet"))
        .select("doc_id", "dup_line_frac", "dup_word_frac",
                "top_bigram_frac")
        .toPandas().sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{sf}/documents.parquet'")
    want = con.sql(r"""
WITH t AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                          'g')), ' ') AS w
  FROM documents),
b AS (
  SELECT doc_id, lines, w,
         CASE WHEN len(w) > 1
              THEN list_transform(range(0, len(w) - 1),
                   i -> array_to_string(w[i+1:i+2], ' '))
              ELSE [] END AS bg
  FROM t)
SELECT doc_id,
  CASE WHEN len(lines) > 0
       THEN ROUND((len(lines) - len(list_distinct(lines)))::DOUBLE
                  / len(lines), 6) ELSE 0.0 END AS dup_line_frac,
  CASE WHEN len(w) > 0
       THEN ROUND((len(w) - len(list_distinct(w)))::DOUBLE
                  / len(w), 6) ELSE 0.0 END AS dup_word_frac,
  CASE WHEN len(bg) > 0
       THEN ROUND(list_max(list_transform(list_distinct(bg),
                  d -> len(list_filter(bg, x -> x = d))))::DOUBLE
                  / len(bg), 6) ELSE 0.0 END AS top_bigram_frac
FROM b ORDER BY doc_id
""").df().reset_index(drop=True)
    assert len(got) == len(want) > 0
    for col in ["dup_line_frac", "dup_word_frac", "top_bigram_frac"]:
        assert (got[col].values == want[col].values).all(), col


def test_registry_parity_gates_inside_any_prefix_cap():
    """The round-2 driver snapshot silently truncated the registry at
    50 entries. Guard the round-3 design: the registry holds exactly
    50 entries AND every extraction parity gate sits in the first 31,
    so even a tighter future cap (or a timeout partway through) still
    records the flagship gates."""
    import __spark_entry__ as e

    names = list(e.queries())
    assert len(names) == 50
    first31 = set(names[:31])
    for gate in ("ex02_golden_match", "ex04_conversation_rollup",
                 "ex06_jpeg_sink", "ex08_per_turn_golden",
                 "ex09_html_per_turn_golden"):
        assert gate in first31, gate


@pytest.mark.parametrize("kernel", [
    "synthetic_turns", "golden_turns", "html_turns", "html_golden",
    "decode_meta", "sha256_udf", "weighted_quality_udaf"])
def test_pandas_kernels_drop_zip_import_finders(spark, kernel,
                                                cached_zip_finder,
                                                capture_kernel):
    """Like the extraction kernels, every generator, the media decode
    and the pandas UDFs leave no zip import finder cached once they
    have run, so the next task on their worker does not re-read
    ``pyspark.zip`` in its setup."""
    import pandas as pd
    import pyarrow as pa

    from pdf_parser_spark.functions import udfs
    from pdf_parser_spark.operators.multimodal import (
        decode_meta, jpeg_fixture,
    )
    from pdf_parser_spark.sources import html_turns, turns

    ids = iter([pa.RecordBatch.from_pydict({"id": [0, 1]})])
    if kernel in ("synthetic_turns", "golden_turns"):
        out = list(getattr(turns, kernel)(capture_kernel, 2)(ids))
        assert out[0].num_rows == turns.n_turns_for(0) + turns.n_turns_for(1)
    elif kernel in ("html_turns", "html_golden"):
        out = list(getattr(html_turns, kernel)(capture_kernel, 2)(ids))
        assert out[0].num_rows == 4
    elif kernel == "decode_meta":
        media = iter([pa.RecordBatch.from_pydict({
            "doc_id": [0], "modality": ["image"],
            "payload": [jpeg_fixture(0)]})])
        out = list(decode_meta(capture_kernel)(media))
        assert out[0].column("decoder").to_pylist() == ["jpegdec"]
    elif kernel == "sha256_udf":
        assert len(udfs.sha256_udf.func(pd.Series(["a"]))[0]) == 64
    else:
        assert udfs.weighted_quality_udaf.func(
            pd.Series([1000, 3000]), pd.Series([1, 1])) == 2.0
    cached_zip_finder()
