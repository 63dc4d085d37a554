"""Deduplication operators over a document corpus.

Large-scale training-data dedup, Spark-first — everything below is
composed from built-in JVM-side expressions (no Python UDFs in any hot
path), so the plans whole-stage-codegen and scale by partitioning:

- exact dedup:        hash-groupBy on a content digest (one shuffle on
                      the digest; map-side partial agg applies)
- minhash + LSH:      shingle -> 64 hash perms -> band buckets ->
                      groupBy (band, bucket) + in-bucket pair
                      expansion; bands keep the buckets tiny.
- simhash:            64-bit sign-sum of token hashes, computed with
                      aggregate/transform (codegen), grouped by
                      Manku permuted band-table keys for candidates
- n-gram jaccard:     exact pairwise similarity on LSH candidates only
- embedding cosine:   near-dup by cosine >= threshold on LSH-candidate
                      or block-joined pairs

All functions return DataFrames and are deterministic (no RNG). The
MinHash and SimHash pipelines take their hashes from a ``LaneHash``
family: ``XXHASH64`` for scale, ``MD5`` so DuckDB oracles can replicate
the same pipelines cell-for-cell.

Literature: MinHash resemblance sketches (Broder, "On the resemblance
and containment of documents", SEQUENCES 1997); LSH banding (Indyk &
Motwani 1998; Leskovec/Rajaraman/Ullman, MMDS ch. 3); SimHash
(Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002; Manku/Jain/Das Sarma, "Detecting
near-duplicates for web crawling", WWW 2007).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------ exact dedup

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.
    One shuffle on the digest; partial aggregation is map-side."""
    return (docs
            .withColumn("_digest", F.md5(F.col(text_col)))
            .groupBy("_digest")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .drop("_digest"))


# --------------------------------------------------------------- shingles

def _normalize(text: Column) -> Column:
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-shingles as an array<string> (distinct), built from
    JVM-side split + transform + slice — no Python."""
    words = F.split(F.trim(_normalize(text)), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(n >= k,
               F.transform(idx, lambda i: F.concat_ws(
                   " ", F.slice(words, i + 1, k))))
        .otherwise(F.array(F.concat_ws(" ", words))))


# ------------------------------------------------------------ hash family

@dataclass(frozen=True)
class LaneHash:
    """Every hash the MinHash and SimHash pipelines compute, so one
    pipeline runs both the xxhash64 scale family and the md5 family
    DuckDB can replicate. ``lane(s, i)`` is MinHash lane i of shingle
    s, and ``top`` a literal above every lane value (the fold's start);
    ``band_key`` hashes a band's joined lane values; ``token(w)`` is
    the SimHash token hash and ``votes(h, masks)`` its +1/-1 vote per
    fingerprint bit (masks[i] = 1 << i), for at most ``bits`` bits."""
    lane: Callable[[Column, Column], Column]
    top: int | str
    band_key: Callable[[Column], Column]
    token: Callable[[Column], Column]
    votes: Callable[[Column, Column], Column]
    bits: int


# The scale family; no DuckDB analogue.
XXHASH64 = LaneHash(
    lane=lambda s, i: F.xxhash64(s, i),
    top=0x7FFFFFFFFFFFFFFF,
    band_key=F.xxhash64,
    token=lambda w: F.xxhash64(w),
    votes=lambda h, masks: F.transform(masks, lambda m: F.when(
        h.bitwiseAND(m) != 0, 1).otherwise(-1)),
    bits=64)

# md5(i || ':' || s) hex lanes, minimised lexicographically ('g' sorts
# above every hex digit); token bit i = (hex digit i of md5(w) >= '8').
# Slower than xxhash64; it lets dd07/dd09 check the scale pipelines
# cell-for-cell against DuckDB.
MD5 = LaneHash(
    lane=lambda s, i: F.md5(F.concat(i.cast("string"), F.lit(":"), s)),
    top="g",
    band_key=F.md5,
    token=lambda w: F.md5(w),
    votes=lambda h, masks: F.transform(masks, lambda m, i: F.when(
        F.substr(h, i + 1, F.lit(1)) >= "8", 1).otherwise(-1)),
    bits=32)


# ------------------------------------------------------------ minhash/LSH

def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 64,
                       k: int = 5) -> DataFrame:
    """num_perm minhash values per doc: min over shingles of
    xxhash64(shingle, seed_i). All codegen'd array expressions."""
    sh = docs.select(F.col(id_col),
                     shingles(F.col(text_col), k).alias("sh"))
    return signatures_from_shingles(sh, id_col, num_perm)


def signatures_from_shingles(sh: DataFrame, id_col: str = "doc_id",
                             num_perm: int = 64,
                             family: LaneHash = XXHASH64) -> DataFrame:
    """Signatures from a pre-shingled (id, sh array<string>) frame.

    ONE aggregate pass: fold over shingles, keeping the element-wise
    minimum of each shingle's num_perm hash lanes
    (``family.lane(shingle, lane)``). A num_perm-column projection of
    array_min(transform(...)) lanes blows Spark's codegen method-size
    limit into interpreted evaluation (~10x slower measured); this
    compact single expression stays codegen'd. Same work, same values
    (lane seeds hash identically as literals or sequence elements).
    """
    lanes_of = lambda s: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: family.lane(s, i))
    sig = F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(family.top), num_perm),
        lambda acc, s: F.zip_with(acc, lanes_of(s),
                                  lambda a, h: F.least(a, h)),
    )
    return sh.select(F.col(id_col), sig.alias("signature"))


# Giant-bucket guard default: in-bucket pair expansion materializes
# O(n^2) structs per bucket before the explode, so a degenerate bucket
# (millions of boilerplate docs whose signatures collide in every
# band — the kind of mass a real 100 TB crawl always has) would build
# a multi-GB array in one aggregation row and OOM the executor. 256
# members -> <=32k pairs per bucket: bounded buffers, and far above
# what LSH banding produces on a near-dup-sparse corpus (run
# exact_dedup upstream; identical docs never need LSH).
MAX_BUCKET_DEFAULT = 256


def _bucket_pairs(keyed: DataFrame, keys: list[str], member: Column,
                  max_bucket: int | None) -> DataFrame:
    """Group ``keyed`` by ``keys`` and expand every bucket into its
    member pairs: one row per pair, ``p`` = struct(a, b) with a < b in
    the sorted member order. Buckets over ``max_bucket`` members are
    dropped before the quadratic expansion (``None`` keeps all)."""
    n = F.size(F.col("ms"))
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.slice(F.col("ms"), i + 2, n),
            lambda x: F.struct(
                F.element_at(F.col("ms"), (i + 1).cast("int")).alias("a"),
                x.alias("b")))))
    grouped = (keyed.groupBy(*keys)
               .agg(F.array_sort(F.collect_list(member)).alias("ms"))
               .filter(F.size("ms") > 1))
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ms") <= max_bucket)
    return grouped.select(F.explode(pairs).alias("p"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 16, rows_per_band: int = 4,
                        max_bucket: int | None = MAX_BUCKET_DEFAULT,
                        family: LaneHash = XXHASH64) -> DataFrame:
    """Band the signature, bucket the ids, expand in-bucket pairs.
    Returns distinct candidate (a, b) pairs with a < b.

    Shape: groupBy (band, bucket) + pair expansion, NOT a self-join —
    a self-join of the banded frame evaluates the whole shingle→
    signature pipeline TWICE (one per join side; measured ~40% of
    dd03's runtime), while the groupBy computes it once and shuffles
    only slim (band, bucket, id) rows on a uniformly-hash-distributed
    key. In-bucket pair expansion is quadratic per bucket by design —
    the LSH banding parameters exist precisely to keep buckets tiny.

    ``max_bucket`` is the giant-bucket guard: buckets with more than
    ``max_bucket`` members are DROPPED before pair expansion (pass
    ``None`` to disable). A bucket that large means the signature has
    no discriminating power for those docs (identical/boilerplate
    mass) — candidate pairs from it would be mostly true duplicates
    that exact dedup upstream should already have collapsed, and
    expanding it quadratically is exactly the executor-OOM shape.
    Dropped-bucket accounting: ``oversized_buckets`` returns the
    (band, bucket, n) rows the guard removed — log/alert on it in a
    production pipeline run.

    Honesty note on bounds: the guard eliminates the QUADRATIC
    expansion (the certain OOM); the linear collect_list buffer for an
    oversized bucket still forms before the size filter (~16 B/id —
    tens of MB even for a million-doc degenerate bucket, spillable by
    the sort-based aggregate fallback). Avoiding even that would cost
    a count+join pre-pass (an extra shuffle) on every healthy run;
    the linear buffer is the cheaper risk.
    """
    banded = _banded(signatures, id_col, bands, rows_per_band, family)
    return (_bucket_pairs(banded, ["band", "bucket"], F.col(id_col),
                          max_bucket)
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .distinct())


def _banded(signatures: DataFrame, id_col: str, bands: int,
            rows_per_band: int, family: LaneHash) -> DataFrame:
    return signatures.select(
        id_col,
        F.posexplode(F.array(*[
            family.band_key(F.concat_ws(
                ",", *[F.element_at("signature", b * rows_per_band + r + 1)
                       .cast("string") for r in range(rows_per_band)]))
            for b in range(bands)
        ])).alias("band", "bucket"))


def oversized_buckets(signatures: DataFrame, id_col: str = "doc_id",
                      bands: int = 16, rows_per_band: int = 4,
                      max_bucket: int = MAX_BUCKET_DEFAULT,
                      family: LaneHash = XXHASH64) -> DataFrame:
    """Accounting face of the giant-bucket guard: the (band, bucket,
    n) groups ``lsh_candidate_pairs`` drops at the same parameters.
    Count/aggregate is a cheap slim-row groupBy (no collect_list)."""
    return (_banded(signatures, id_col, bands, rows_per_band, family)
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket))


def minhash_dedup_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_perm: int = 64,
                        k: int = 5, bands: int = 16,
                        threshold: float = 0.7,
                        max_bucket: int | None = MAX_BUCKET_DEFAULT,
                        family: LaneHash = XXHASH64) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    jaccard verification on candidates only.

    The shingle frame is shared by signatures (num_perm hash lanes
    over the materialized array) and the verification join.
    Deliberately NOT cached: repeated invocations would each leak a
    cached copy, and with the two-phase projection re-shingling costs a
    fraction of a second — cheaper than cache-memory churn.
    """
    rows_per_band = num_perm // bands
    sh = docs.select(F.col(id_col),
                     shingles(F.col(text_col), k).alias("sh"))
    sigs = signatures_from_shingles(sh, id_col, num_perm, family)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band,
                                max_bucket, family)
    # verify join does ONE pass over sh (melt the pair to two keyed
    # rows, join, fold back) — joining sh once per side would scan and
    # re-shingle the whole corpus twice
    melted = cands.select(
        "a", "b", F.explode(F.array("a", "b")).alias(id_col))
    j = melted.join(sh, id_col)
    paired = (j.groupBy("a", "b").agg(
        F.max_by("sh", (F.col(id_col) == F.col("a")).cast("int"))
        .alias("sh_a"),
        F.max_by("sh", (F.col(id_col) == F.col("b")).cast("int"))
        .alias("sh_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (paired.withColumn(
                "jaccard",
                F.when(union > 0, inter / union).otherwise(0.0))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


# ----------------------------------------------------------------- simhash

def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 64,
            family: LaneHash = XXHASH64) -> DataFrame:
    """``bits``-bit SimHash over word tokens, as a long: per bit, sign
    of the sum of the tokens' ``family.votes``. Pure aggregate/transform
    expressions (codegen)."""
    if bits > family.bits:
        raise ValueError(f"this family gives at most {family.bits} bits")
    # Compact two-aggregate formulation: the parallel bit-sums in one
    # counters array (a 64-column projection of separate aggregates
    # blows the codegen method-size limit into interpreted eval), then
    # sign bits OR'd by a fold over the lane indices. Literal mask
    # array: bit i = 1<<i; bit 63 is the sign bit, -(2^63) as a long.
    zero = F.lit(0).cast("long")
    masks = F.array(*[
        F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
        for i in range(bits)
    ])
    hashed = docs.select(
        F.col(id_col),
        F.transform(F.split(F.trim(_normalize(F.col(text_col))), " "),
                    family.token).alias("hashes"),
        masks.alias("masks"))
    counters = F.aggregate(
        F.col("hashes"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, family.votes(h, F.col("masks")), lambda a, b: a + b),
    )
    counted = hashed.select(F.col(id_col), F.col("masks"),
                            counters.alias("counters"))
    fingerprint = F.aggregate(
        F.zip_with(F.col("counters"), F.col("masks"),
                   lambda c, m: F.when(c > 0, m).otherwise(zero)),
        zero, lambda acc, b: acc.bitwiseOR(b))
    return counted.select(F.col(id_col), fingerprint.alias("simhash"))


def _simhash_tabbed(sim: DataFrame, id_col: str, bands: int,
                    max_hamming: int, bits: int) -> DataFrame:
    """(id, simhash, tbl, key) rows of the Manku permuted band tables —
    shared by candidate generation and the oversized-bucket accounting
    so both see EXACTLY the same keys."""
    from itertools import combinations

    if not 1 <= max_hamming <= bands - 1:
        raise ValueError("need 1 <= max_hamming <= bands - 1 "
                         "(recall guarantee is pigeonhole over bands)")
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    width = bits // bands
    t = bands - max_hamming
    combos = list(combinations(range(bands), t))
    if len(combos) > 64:
        raise ValueError(
            f"C({bands},{t})={len(combos)} tables — raise bands only "
            "with a smaller max_hamming (row inflation = table count)")

    def band_val(i: int) -> Column:  # width <= bits / 2: no overflow
        return (F.shiftrightunsigned("simhash", i * width)
                .bitwiseAND(F.lit((1 << width) - 1)))

    keys = [F.xxhash64(F.lit(ci), *[band_val(i) for i in combo])
            for ci, combo in enumerate(combos)]
    return sim.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*keys)).alias("tbl", "key"))


def simhash_oversized_buckets(sim: DataFrame, id_col: str = "doc_id",
                              bands: int = 4, max_hamming: int = 3,
                              max_bucket: int = MAX_BUCKET_DEFAULT,
                              bits: int = 64) -> DataFrame:
    """Accounting face of ``simhash_candidates``' giant-bucket guard
    (the ``oversized_buckets`` analogue for the Manku permuted tables):
    the (tbl, key, n) groups dropped at the same parameters, so dropped
    fingerprint masses are observable/alertable in production instead
    of silently weakening the exact-recall guarantee. Cheap slim-row
    groupBy count — no collect_list."""
    return (_simhash_tabbed(sim, id_col, bands, max_hamming, bits)
            .groupBy("tbl", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket))


def simhash_candidates(sim: DataFrame, id_col: str = "doc_id",
                       bands: int = 4, max_hamming: int = 3,
                       max_bucket: int | None = MAX_BUCKET_DEFAULT,
                       bits: int = 64) -> DataFrame:
    """Hamming-neighbour pairs via Manku-style permuted band tables
    (Manku/Jain/Das Sarma, WWW 2007) with EXACT results: every pair at
    Hamming distance <= max_hamming is returned, no false positives.

    The ``bits``-bit fingerprint is split into ``bands`` equal
    bit-bands. A pair at distance h <= max_hamming has at most h dirty
    bands, so at least ``bands - max_hamming`` bands are identical —
    every combination of t = bands - max_hamming bands becomes one
    table's key, and some table's key is guaranteed clean for the pair
    (pigeonhole). Candidates are verified with bit_count(xor), making
    the blocked result IDENTICAL to the quadratic all-pairs join.

    Scale: C(bands, t) tables x one row each = bounded row inflation
    of slim (tbl, key, id, simhash) rows; the groupBy shuffles on
    (table, key), whose values are xxhash64-uniform — no hot blocks,
    never quadratic in the corpus. A self-join would evaluate the
    fingerprint pipeline once PER SIDE; here the (id, simhash) structs
    ride into the bucket, so the Hamming verify needs no join back.

    ``max_bucket`` is the same giant-bucket guard as
    ``lsh_candidate_pairs``: a table key shared by more than
    ``max_bucket`` docs (a degenerate identical-fingerprint mass) is
    dropped before the quadratic in-bucket pair expansion; pass
    ``None`` to disable. NOTE: with the guard on, the
    "identical to the quadratic join" recall guarantee holds for all
    pairs outside dropped buckets — exact-dedup the corpus upstream
    so identical-text masses never reach fingerprinting, and use
    ``simhash_oversized_buckets`` (same table keys by construction)
    to observe/alert on whatever the guard drops.
    """
    tabbed = _simhash_tabbed(sim, id_col, bands, max_hamming, bits)
    member = F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
    xor = F.col("p.a.s").bitwiseXOR(F.col("p.b.s"))
    return (_bucket_pairs(tabbed, ["tbl", "key"], member, max_bucket)
            .withColumn("hamming", F.bit_count(xor))
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("p.a.i").alias("a"),
                    F.col("p.b.i").alias("b"), "hamming")
            .distinct())

# --------------------------------------------------- embedding near-dup

def embedding_cosine_pairs(emb: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           block_col: str | None = "label",
                           threshold: float = 0.95) -> DataFrame:
    """Near-dup by cosine similarity. Blocking column bounds the join
    (at scale: replace with LSH buckets over random hyperplanes); the
    dot/norms are F.aggregate/F.zip_with — JVM-side, no UDF."""
    # norms precomputed per VECTOR (N folds), not per pair (N^2):
    # same fold order as computing them inside the join, so the cosine
    # values are bit-identical — only the plan changes
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    v = emb.select(F.col(id_col), F.col(vec_col).alias("v"),
                   norm.alias("nrm"),
                   *( [F.col(block_col)] if block_col else [] ))
    a = v.alias("a")
    b = v.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (a.join(b, cond)
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select(F.col(f"a.{id_col}").alias("a"),
                    F.col(f"b.{id_col}").alias("b"), "cosine"))


def embedding_srp_pairs(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        block_col: str | None = "label",
                        threshold: float = 0.95,
                        n_planes: int = 8, dim: int = 64,
                        probe_hamming: int = 1) -> DataFrame:
    """Scale path for embedding near-dup: sign-random-projection LSH
    buckets bound the pair join; exact cosine verifies candidates.

    Each vector hashes to an ``n_planes``-bit SRP bucket (deterministic
    seeded hyperplanes inlined as literals — pure codegen, shared with
    ``similarity.lsh_cosine_topk``). Side A explodes to its bucket
    plus every bucket within Hamming ``probe_hamming`` (multi-probe);
    side B keeps its single bucket; the equi-join on (block?, bucket)
    shuffles uniform int keys — never quadratic in the corpus, unlike
    the label-blocked ``embedding_cosine_pairs`` where one hot label
    is O(n_label^2).

    Recall is probabilistic (a pair at angle θ disagrees per plane
    w.p. θ/π; multi-probe covers signature Hamming <= probe_hamming):
    ~0.95+ for true near-dups (cos >= 0.99) at the defaults. The
    pytest gate ``test_embedding_srp_recall`` measures it against the
    exact join; cell-exactness of the candidate *scores* is preserved
    (same fold order), so a DuckDB oracle replicating the bucketing
    matches bit-for-bit.
    """
    from itertools import combinations

    from .similarity import hyperplanes, srp_bucket

    if probe_hamming not in (0, 1, 2):
        raise ValueError("probe_hamming must be 0, 1 or 2")
    planes = hyperplanes(dim, n_planes)
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j)
                  for i, j in combinations(range(n_planes), 2)]

    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    base = emb.select(
        F.col(id_col), F.col(vec_col).alias("v"), norm.alias("nrm"),
        *([F.col(block_col)] if block_col else []),
        srp_bucket(F.col(vec_col), planes).alias("bucket"))
    a = base.select(
        id_col, "v", "nrm", *([block_col] if block_col else []),
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                            for m in masks])).alias("jbucket")).alias("a")
    b = base.withColumnRenamed("bucket", "jbucket").alias("b")
    cond = ((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.jbucket") == F.col("b.jbucket")))
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (a.join(b, cond)
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select(F.col(f"a.{id_col}").alias("a"),
                    F.col(f"b.{id_col}").alias("b"), "cosine")
            .distinct())


# ------------------------------------------------- duplicate components

def duplicate_components(pairs: DataFrame, max_iter: int = 20,
                         checkpoint_dir: str | None = None
                         ) -> DataFrame:
    """Connected components over near-dup pairs (a, b): every doc in a
    component maps to the component's MIN doc id — the canonical
    'keep one representative per duplicate cluster' step after any
    pair-producing dedup operator.

    Distributed min-label propagation: each iteration joins labels
    across edges and keeps the elementwise minimum; converges in
    O(component diameter) rounds (duplicate clusters are near-cliques,
    so 1-3 in practice; ``max_iter`` bounds adversarial chains). Each
    round is one shuffle join + one aggregation — no driver-side graph.
    Returns (doc_id, component) for every endpoint of a pair;
    singletons (docs with no pair) are their own components by
    definition and are omitted.

    ``checkpoint_dir``: where to truncate lineage between rounds.
    When set (an HDFS/object-store path on a real cluster), reliable
    ``checkpoint()`` is used — iteration state survives executor loss,
    which is the correct choice for a long-running 100 TB job. When
    None (default, local/test mode), ``localCheckpoint`` keeps state
    in executor memory: faster, but a lost executor mid-iteration
    fails the job. Hygiene: the caller's previously-configured
    checkpoint dir is restored on exit; if the context had NO dir
    configured, this function's dir stays set afterwards — Spark
    offers no way to unset a checkpoint dir (SparkContext
    .setCheckpointDir only overwrites), so callers who care should
    set a session-owned scratch dir up front. session.py enables
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` so files of
    superseded rounds are removed once their frames are unreferenced
    (without it, ~max_iter full copies of the labels frame would sit
    in the directory for the life of the app).
    """
    spark = pairs.sparkSession
    restore_dir = None
    if checkpoint_dir is not None:
        sc = spark.sparkContext
        prev = sc._jsc.sc().getCheckpointDir()
        restore_dir = prev.get() if prev.isDefined() else None
        sc.setCheckpointDir(checkpoint_dir)

        def ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    try:
        return _propagate_components(pairs, max_iter, ckpt)
    finally:
        if checkpoint_dir is not None and restore_dir is not None:
            spark.sparkContext.setCheckpointDir(restore_dir)


def _propagate_components(pairs: DataFrame, max_iter: int,
                          ckpt) -> DataFrame:
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst"))).distinct()
    # both sides of every per-round join: truncate lineage once, or
    # round k re-executes rounds 1..k-1 (exponential plan growth)
    edges = ckpt(edges)
    labels = ckpt(edges.select(F.col("src").alias("id")).distinct()
                  .withColumn("label", F.col("id")))
    # labels only ever DECREASE under min-propagation, so an unchanged
    # aggregate over them is a convergence witness — one cheap agg per
    # round instead of a full old-vs-new join. For INTEGRAL ids the
    # sum works directly; for any other id type (string doc ids, and
    # float/double/decimal-with-scale, whose cast to decimal(38,0)
    # rounds — a label change like 2.4->1.6 could leave the rounded
    # sum unchanged and exit early), sum a hash of the labels: a round
    # that changes any label changes the hash sum (collision odds are
    # 2^-64 per round; max_iter still bounds the loop regardless).
    id_type = dict(labels.dtypes)["label"]
    integral = id_type in ("tinyint", "smallint", "int", "bigint")

    def witness(frame: DataFrame):
        col = F.col("label") if integral else F.xxhash64("label")
        # decimal(38,0) sum: a long sum of 2^63-scale hashes overflows
        # under ANSI mode
        return frame.agg(F.sum(col.cast("decimal(38,0)"))).head()[0]

    prev_sum = witness(labels)
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .groupBy("src").agg(F.min("label").alias("nlabel")))
        labels = ckpt(
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(F.col("id"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nlabel"), F.col("label")))
                    .alias("label")))
        cur_sum = witness(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component"))


# ------------------------------------------------------ line-level dedup

def common_lines(docs: DataFrame, min_docs: int = 2,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Lines (``\\n``-separated) that occur in at least ``min_docs``
    DISTINCT documents: ``(line, n_docs)``. This is the boilerplate
    census behind MassiveText's "repeated-line" filter (Rae et al.
    2021, table A1) and RefinedWeb's line-wise dedup (Penedo et al.
    2023 §3.3): nav chrome, cookie banners, and license footers show
    up as identical lines across many pages. Blank / whitespace-only
    lines (``^\\s*$`` — spaces, tabs, CR/FF; NOT exotic Unicode
    spaces, by design identical to the RE2 oracle's ``\\s``) are
    EXCLUDED from the census: '' occurs in >= min_docs documents in
    any real corpus (every paragraph break), and the cited filters
    target repeated *content*, not paragraph structure.

    Plan: posexplode -> groupBy(line) with map-side partial
    countDistinct. One shuffle on the line text — near-uniform keys
    (boilerplate lines are the hot keys, but their *groups* reduce to
    a count, so skew only taxes the combiner, not a join buffer).
    """
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_line"))
    return (lines.filter(~F.col("_line").rlike(r"^\s*$"))
            .groupBy("_line")
            .agg(F.countDistinct(id_col).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select(F.col("_line").alias("line"), "n_docs"))


def line_dedup(docs: DataFrame, min_docs: int = 2,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Strip every line that occurs in ``min_docs``+ distinct
    documents, preserving the relative order of surviving lines:
    ``(id_col, text_clean, n_lines, n_removed)``. Documents whose
    lines are ALL boilerplate survive with ``text_clean = ''`` (the
    caller decides whether to drop empties — the row count must stay
    stable for lineage accounting). Blank / whitespace-only lines are
    never counted as boilerplate and never removed (see
    :func:`common_lines`) — paragraph structure survives.

    Plan: the exploded lines are shuffled twice — once aggregated
    into the census, once against it for the left_anti join (the two
    exchange subtrees differ, so they are not reusable; AQE instead
    broadcasts the census side when it is small, the common case
    since it holds only above-threshold boilerplate lines) — then one
    groupBy(id) reassembles in posexplode order via array_sort on
    (pos, line) structs. No Python, no driver state;
    the reassembly group is one document's lines, so memory per key
    is bounded by document size exactly like the extraction kernel's
    per-row bound.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("_pos", "_line"))
    census = (lines.filter(~F.col("_line").rlike(r"^\s*$"))
              .groupBy("_line")
              .agg(F.countDistinct(id_col).alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_line"))
    kept = lines.join(census, "_line", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("_pos", "_line"))),
                            lambda s: s["_line"]),
                        "\n").alias("text_clean"),
                    F.count(F.lit(1)).alias("_kept")))
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"))
    return (base.join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("text_clean"), F.lit(""))
                    .alias("text_clean"),
                    F.col("n_lines"),
                    (F.col("n_lines") - F.coalesce(F.col("_kept"),
                                                   F.lit(0)))
                    .alias("n_removed")))
