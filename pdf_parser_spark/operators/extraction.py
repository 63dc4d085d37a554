"""The extraction operator: PDF-bytes-in-turn-rows -> extracted text.

This is the Spark face of the kernel (SURVEY.md §2.6 "UDF surface"):
ONE ``mapInArrow`` kernel processes whole Arrow record batches — zero
per-row Python<->JVM crossings (north_rule). The kernel never raises:
malformed documents produce ``parse_error`` rows (the reference
instead panics, src/lib.rs:68).

Why mapInArrow and not mapInPandas: the output carries a
``spans array<struct>`` column; going through pandas means per-row
Python tuples -> object arrays -> Arrow struct conversion, which
measured ~6x slower than the whole parse itself. ``pa.array`` builds
each row's nested spans straight from the kernel's span tuples, typed
by the schema, and the batch's rows are concatenated in C.

Scale design (100 TB / 10^12 turns):
- the operator is embarrassingly parallel per turn; no shuffle is
  *required* — ``extract_turns`` runs on whatever partitioning it is
  handed. Skew salting is ``ExtractionJob.run``'s (bucket, salt)
  repartition, which splits long conversations across tasks (safe:
  turns are independent)
- column pruning: only (conv_id, turn_idx, text) cross the Arrow
  boundary; everything else stays JVM-side and is re-joined by the
  caller if needed
- Arrow batch size is capped in session.py because rows are PDF-fat
- duplicates within a batch: each batch runs the kernel once per
  distinct payload (``_distinct_payloads``, exact string equality) and
  hands that result to every row that carries it. It is always on and
  keeps nothing past the batch, so it covers only payloads that repeat
  within one batch; ``extract_turns_dedup`` covers duplicates spread
  across the whole corpus, for the price of a digest shuffle and a join
- a Python task's fixed setup cost was mostly zip import finders
  re-reading ``pyspark.zip`` (78-154 ms a task, paid once per wave of
  ``ExtractionJob.run``'s kernel tasks); ``map_batches``, the
  package's one batch boundary, drops them when a task has drained
  its batches (``drop_zip_finders``), so the next task's setup pays
  ~0.1 ms
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("page", T.IntegerType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("font", T.StringType()),
    T.StructField("s", T.StringType()),
]))

# FIXTURES.md §2 output schema
EXTRACT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_objects", T.IntegerType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("parse_error", T.StringType()),
])

_SPANS_ARROW = to_arrow_schema(EXTRACT_SCHEMA).field("spans").type


def drop_zip_finders() -> None:
    """Forget the cached zip import finders of this process.

    A reused pyspark worker calls ``importlib.invalidate_caches()``
    before every task, and on CPython 3.11 each cached
    ``zipimporter`` re-reads its archive's whole central directory
    there. Workers import pyspark from ``pyspark.zip`` (and the package
    from a ``--py-files`` zip), so one task's setup paid ~16 such reads,
    78-154 ms, before the kernel ran. The finder cache is only a cache:
    the next import through a zip path builds a new finder from
    ``zipimport``'s cached directory. ``map_batches`` calls this once a
    task has drained its batches, and so do the pandas UDFs in
    ``functions/udfs.py``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def map_batches(df: DataFrame,
                fn: Callable[[pa.RecordBatch], Sequence],
                schema: T.StructType) -> DataFrame:
    """The package's one Python batch boundary: ``df.mapInArrow`` with
    ``fn`` called once per input Arrow batch.

    ``fn(batch)`` returns the output columns in ``schema`` order, each
    a list or a pyarrow array. Each column is typed from
    ``to_arrow_schema(schema)``: a list is built as that type, an array
    is cast to it. A task drops its zip import finders once it has
    drained its batches (``drop_zip_finders``)."""
    arrow = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]
               ) -> Iterator[pa.RecordBatch]:
        try:
            for batch in batches:
                yield pa.RecordBatch.from_arrays(
                    [col.cast(field.type) if isinstance(col, pa.Array)
                     else pa.array(col, field.type)
                     for col, field in zip(fn(batch), arrow, strict=True)],
                    schema=arrow)
        finally:
            drop_zip_finders()

    kernel.__name__ = fn.__name__  # names the plan's MapInArrow node
    return df.mapInArrow(kernel, schema=schema)


def _distinct_payloads(batch: pa.RecordBatch) -> tuple[list, list[int]]:
    """The batch's distinct ``text`` values in first-seen order, and
    for each row the index of its value in that list. Rows match by
    exact string equality (a dict keyed by the ``str`` itself), so a
    hash collision can never give a row another payload's result. The
    list holds the ``str`` objects of ``to_pylist()``; nothing outlives
    the batch."""
    index: dict = {}
    rows = [index.setdefault(raw, len(index))
            for raw in batch.column("text").to_pylist()]
    return list(index), rows


def _payload_bytes(raw: str | None) -> bytes:
    """A row's PDF bytes. The ``text`` column carries them as a latin-1
    string; NULL or non-latin-1 text yields ``b""``."""
    try:
        return raw.encode("latin-1") if raw is not None else b""
    except UnicodeEncodeError:
        return b""


def _extract_columns(batch: pa.RecordBatch) -> list:
    """Text kernel: one ``extract_text`` result per distinct payload of
    the batch, each handed to every row that carries it; a payload's
    span tuples become its ``spans`` list."""
    from pdf_parser_spark.kernel.extract import extract_text

    texts, rows = _distinct_payloads(batch)
    results = []
    for raw in texts:
        data = _payload_bytes(raw)
        res = extract_text(data) if data else {
            "text": "", "spans": [], "n_pages": 0, "n_objects": 0,
            "bytes": 0, "parse_error": "EmptyOrNonLatin1Payload"}
        # a one-row Arrow list at once, so the payload's TextSpans are
        # freed: the cyclic GC never untracks a tuple subclass, and a
        # batch of them alive cost ~8% more kernel CPU on flate_distinct
        res["spans"] = pa.array([res["spans"]], _SPANS_ARROW)
        results.append(res)
    columns = {k: [results[i][k] for i in rows]
               for k in EXTRACT_SCHEMA.names[2:]}
    columns["spans"] = pa.chunked_array(columns["spans"],
                                        _SPANS_ARROW).combine_chunks()
    return [batch.column("conv_id"), batch.column("turn_idx"),
            *columns.values()]


IMAGE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("colorspace", T.StringType()),
    T.StructField("format", T.StringType()),
    T.StructField("data", T.BinaryType()),
])


def _image_columns(batch: pa.RecordBatch) -> list:
    """UDTF-shaped kernel: one input turn row → 0..N image rows (the
    reference's PDF::extract_image surface, src/lib.rs:60-72; order
    made deterministic by object number, SURVEY §2.7.4)."""
    from pdf_parser_spark.kernel.extract import extract_text

    texts, rows = _distinct_payloads(batch)
    images = [extract_text(data, with_images=True)["images"]
              if (data := _payload_bytes(raw)) else [] for raw in texts]
    out = []
    for cid, t, i in zip(batch.column("conv_id").to_pylist(),
                         batch.column("turn_idx").to_pylist(), rows):
        out += [(cid, t, img) for img in images[i]]
    return [[cid for cid, _t, _img in out], [t for _cid, t, _img in out]] \
        + [[img[k] for _cid, _t, img in out] for k in IMAGE_SCHEMA.names[2:]]


def extract_images(turns: DataFrame) -> DataFrame:
    """Image extraction (one row per image — explode semantics done in
    the kernel). Same scale properties as extract_turns."""
    slim = turns.select("conv_id", "turn_idx", "text")
    return map_batches(slim, _image_columns, IMAGE_SCHEMA)


def extract_turns(turns: DataFrame) -> DataFrame:
    """Run the extraction kernel over a batch or streaming turns
    DataFrame, keeping its partitioning. Projection to (conv_id,
    turn_idx, text) happens FIRST so only those columns cross the
    Arrow boundary."""
    slim = turns.select("conv_id", "turn_idx", "text")
    return map_batches(slim, _extract_columns, EXTRACT_SCHEMA)


def _encode_jpeg_columns(batch: pa.RecordBatch) -> list:
    from pdf_parser_spark.kernel.jpegdec import JpegError, encode_baseline_jpeg

    out_fmt, out_data = [], []
    for fmt, w, h, data in zip(*(batch.column(n).to_pylist() for n in
                                 ("format", "width", "height", "data"))):
        if fmt == "raw-rgb":
            # never-abort contract: a raster whose byte length
            # disagrees with width*height*3 (malformed upstream
            # stream) must not kill the Spark task — forward the
            # row unchanged instead
            try:
                out_data.append(encode_baseline_jpeg(data, w, h, 3))
                out_fmt.append("jpeg")
            except (JpegError, ValueError):
                out_fmt.append(fmt)
                out_data.append(data)
        else:  # already JPEG (non-baseline passthrough)
            out_fmt.append(fmt)
            out_data.append(data)
    return [batch.column(n) for n in IMAGE_SCHEMA.names[:-2]] \
        + [out_fmt, out_data]


def encode_images_jpeg(images: DataFrame) -> DataFrame:
    """JPEG sink parity (ref src/main.rs:36-42 re-encodes every
    extracted raster with JpegEncoder before writing): raw-rgb rows
    are baseline-JPEG encoded by the in-repo codec; rows that stayed
    JPEG (non-baseline passthrough) are forwarded. Same schema, so
    a parquet write of this frame is the reference's image sink as a
    distributed table."""
    return map_batches(images, _encode_jpeg_columns, IMAGE_SCHEMA)


def extract_turns_dedup(turns: DataFrame) -> DataFrame:
    """Distinct-document extraction: hash the payload, run the kernel
    once per DISTINCT document, then join results back to every turn.

    Which duplicates it covers: ``extract_turns`` already runs the
    kernel once per distinct payload of each Arrow batch, so this
    lever saves kernel work only on duplicates that land in different
    batches, i.e. spread across the corpus rather than clustered.

    At 10^12-turn scale duplicated payloads are the norm (retried
    tool calls, forwarded transcripts, boilerplate attachments); the
    Python kernel is the expensive stage, so paying one digest-hash
    shuffle + one join to run it once per distinct payload wins
    whenever per-payload kernel cost × (1 - 1/dup_factor) exceeds
    ~one shuffle pass over the payload bytes (bench.py's dedup_lever
    stage measures both sides). Same output schema and rows as
    ``extract_turns`` (equality asserted in
    tests/test_pipeline_e2e.py::test_extract_dedup_equals_direct).

    Shape (scale notes):
    1. JVM-side ``dropDuplicates`` on the digest — its partial
       aggregate is the map-side combine, so duplicate payload bytes
       co-located in an input partition never reach the shuffle (a
       degenerate corpus-wide duplicate ships once per input
       partition, not once per row), and all dedup work stays in
       codegen. (A mapInArrow pre-dedup variant was measured 2x
       SLOWER end-to-end: every extra Arrow stage ships the full
       payload bytes JVM->Python->JVM again.)
    2. explicit-width round-robin repartition of the (small) distinct
       set before the kernel — AQE sizes post-shuffle partitions by
       BYTES (64MB advisory), which was measured collapsing the
       kernel stage to a SINGLE partition on a 64MB distinct set
       (~1ms/doc of kernel dwarfs ~µs/doc of shuffle, so kernel
       partitions must be CPU-sized, not byte-sized); a
       user-specified repartition count is exempt from coalescing;
    3. equi-join of the slim (conv_id, turn_idx, digest) rows back to
       the per-digest results (AQE picks broadcast when results fit).
    """
    slim = turns.select("conv_id", "turn_idx", "text")
    # NULL text digests to NULL and NULL keys never equi-join — those
    # turns would silently vanish. The kernel already treats NULL and
    # empty payloads identically (both parse b""), so folding NULL
    # into the empty digest is semantics-preserving.
    keyed = slim.withColumn(
        "_digest", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    spark = turns.sparkSession
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_n = 0
    n_kernel = max(spark.sparkContext.defaultParallelism * 2, shuffle_n)
    docs = (keyed.select("_digest", "text")
            .dropDuplicates(["_digest"])
            .repartition(n_kernel)
            .select(F.col("_digest").alias("conv_id"),
                    F.lit(0).cast("int").alias("turn_idx"), "text"))
    ext = (extract_turns(docs)
           .select(F.col("conv_id").alias("_digest"),
                   F.col("text").alias("_etext"), "spans", "n_pages",
                   "n_objects", "bytes", "parse_error"))
    return (keyed.drop("text").join(ext, "_digest")
            .select("conv_id", "turn_idx",
                    F.col("_etext").alias("text"), "spans", "n_pages",
                    "n_objects", "bytes", "parse_error"))
