"""Documents source: readers, canonicalization, and the deterministic
FIXTURES.md synthesizer.

Canonical schema (BASELINE.json input_hint):
    documents(url string, warc_ts timestamp, html binary, text string,
              lang string)
plus an engine-added ``doc_id`` (long, dense, deterministic by url order)
that all downstream operators key on.

Two physical inputs are supported:
  * the canonical Iceberg/parquet web-page table above;
  * the driver test tables ``/root/testdata/sf*/documents.parquet``
    (doc_id, text, lang, source, n_chars), which are lifted into the
    canonical shape.

Reference parity: the reference ingests TFDS/HF datasets into a flat byte
corpus (scripts/load_dataset.py:49-92); here the *table* is the corpus and
the byte layout is derived lazily (see sources/corpus.py).
"""

from __future__ import annotations

import functools
import random
import string
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import worker_kernel

FIXTURE_SEED = 42
VOCAB_SIZE = 4096
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def assign_dense_ids(
    df: DataFrame, order_col: str | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Dense 0-based ``id_col`` without a global single-partition sort.

    A bare ``row_number().over(Window.orderBy(...))`` funnels the whole
    table through one task — a non-starter at 10^12 docs. Instead: rank
    within each partition (parallel windows keyed by partition id) and
    offset by the cumulative per-partition counts — the same hierarchical
    pattern as corpus.with_offsets. The partition-count frame is tiny
    (#partitions rows) and its cumulative window is the only serial step.
    Catalyst's ReuseExchange serves the two reads of the ranked frame from
    one shuffle write.

    order_col given  -> ids follow the global sort order of that column
                        (repartitionByRange + in-partition rank).
    order_col=None   -> ids follow input order (partition id + row order,
                        the reference's sequential uid, load_dataset.py:58).
    """
    if order_col is not None:
        p = df.repartitionByRange(F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
        w_in = Window.partitionBy("_pid").orderBy(order_col)
    else:
        p = df.withColumn("_pid", F.spark_partition_id()).withColumn(
            "_mid", F.monotonically_increasing_id()
        )
        w_in = Window.partitionBy("_pid").orderBy("_mid")
    p = p.withColumn("_rk", F.row_number().over(w_in).cast("long") - 1)
    counts = p.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_p = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_p), F.lit(0))
    ).select("_pid", "_off")
    out = p.join(F.broadcast(offs), "_pid").withColumn(
        id_col, (F.col("_off") + F.col("_rk")).cast("long")
    )
    return out.drop("_pid", "_rk", "_off", "_mid")


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1.5g').
    Spark's byteStringAs accepts fractional magnitudes, so parse via float
    and truncate; an unparseable value falls back to Spark's 128 MiB
    default rather than crashing read_documents on a valid session conf —
    but WARNS, so a genuinely misconfigured maxPartitionBytes is visible
    instead of silently masked (round-4 ADVICE)."""
    import warnings

    v = conf_val.strip().lower()
    try:
        for suf, mult in (
            ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
            ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
            ("b", 1),
        ):
            if v.endswith(suf):
                return int(float(v[: -len(suf)]) * mult)
        return int(float(v))
    except ValueError:
        warnings.warn(
            f"unparseable spark.sql.files.maxPartitionBytes value "
            f"{conf_val!r}; falling back to 128 MiB for the scan fan-out "
            "check (fix the session conf — Spark itself may reject it)",
            stacklevel=2,
        )
        return 128 << 20


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a documents table (canonical or driver-test shape) into the
    canonical frame ordered/keyed by ``doc_id``.

    ``path`` may be a filesystem parquet path or a dotted catalog table
    name — dispatch is ``sinks.read_table`` (Iceberg-first per
    BASELINE.json input_hint; the sandbox has no Iceberg jars, so tests
    exercise the parquet fallback and run_submit_demo.sh documents the
    catalog config).

    Column pruning + predicate pushdown reach the scan because this is a
    plain declarative projection (no UDFs).
    """
    from .sinks import is_path_target, read_table

    df = read_table(spark, path)
    # Small test inputs produce fewer scan splits than the cluster width =>
    # downstream kernels underparallelize. Size the fan-out check by BYTES,
    # not file count: parquet is splittable by row group, so one large file
    # can still yield many scan partitions — file count would force a
    # pointless full-text repartition shuffle on it. A no-op at web scale
    # where total_bytes / maxPartitionBytes >> parallelism.
    want = spark.sparkContext.defaultParallelism
    total = None
    if is_path_target(path):
        import os

        try:
            files = [
                f.removeprefix("file:") for f in df.inputFiles()
            ]
            local = [f for f in files if f.startswith("/")]
            if local and len(local) == len(files):
                total = sum(os.path.getsize(f) for f in local)
        except OSError:
            total = None
    if total is not None:
        max_part = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        if total // max_part + 1 < want:
            df = df.repartition(want)
    elif len(df.inputFiles()) < want:
        df = df.repartition(want)
    cols = set(df.columns)
    if {"url", "text"} <= cols:
        if "doc_id" not in cols:
            df = assign_dense_ids(df, order_col="url")
        return df.select("doc_id", "url", "warc_ts", "html", "text", "lang")
    # driver-test shape (doc_id, text, lang, source, n_chars)
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/page"), F.col("doc_id")
        ).alias("url"),
        (F.lit(EPOCH) + F.make_interval(secs=F.col("doc_id") * 137)).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# FIXTURES.md §1 synthesizer — deterministic planted-duplicate corpus.
# ---------------------------------------------------------------------------

_BOILERPLATE = (
    "home about contact privacy terms sitemap navigation footer copyright "
    "all rights reserved follow us on social media subscribe to the newsletter "
    "for weekly updates cookie settings accessibility statement careers press "
    "room investor relations help center community guidelines report a problem"
)  # ~300 bytes of fixed template text (role 5: hot LSH buckets / hot suffixes)

_STRADDLE_SENTENCE_WORDS = 18  # shared global run for boundary-straddling pairs


def _vocab() -> list[str]:
    rng = random.Random(FIXTURE_SEED)
    words = set()
    while len(words) < VOCAB_SIZE:
        n = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(n)))
    return sorted(words)


_VOCAB = _vocab()


def _base_words(k: int, lo: int = 50, hi: int = 2000) -> list[str]:
    rng = random.Random(f"{FIXTURE_SEED}-doc-{k}")
    n = rng.randint(lo, hi)
    return [_VOCAB[rng.randrange(VOCAB_SIZE)] for _ in range(n)]


def _shared_run(tag: str, j: int, n_words: int) -> list[str]:
    rng = random.Random(f"{FIXTURE_SEED}-run-{tag}-{j}")
    return [_VOCAB[rng.randrange(VOCAB_SIZE)] for _ in range(n_words)]


@functools.lru_cache(maxsize=4096)
def fixture_text(k: int, size_lo: int = 50, size_hi: int = 2000) -> str:
    """Deterministic text for doc index k with FIXTURES.md planted roles.

    Pure function of k => embarrassingly parallel generation.
    Roles by m = k % 20:
      1,11  exact duplicate of doc k-1
      3,13  near duplicate of doc k-1 (2-5 seeded word edits)
      5/15  pair sharing one >=100-byte run (ExactSubstr, not near-dup)
      7/17  pair sharing a ~3x-threshold run (coalescing test)
      9,19  boilerplate footer appended (skew / hot buckets)
      else  singleton
    Additionally k % 97 == 3 docs embed one global run (cross-shard pairs).
    """
    m = k % 20
    if m in (1, 11) and k > 0:
        return fixture_text(k - 1, size_lo, size_hi)
    if m in (3, 13) and k > 0:
        words = fixture_text(k - 1, size_lo, size_hi).split(" ")
        rng = random.Random(f"{FIXTURE_SEED}-edit-{k}")
        for _ in range(rng.randint(2, 5)):
            words[rng.randrange(len(words))] = _VOCAB[rng.randrange(VOCAB_SIZE)]
        return " ".join(words)

    words = _base_words(k, size_lo, size_hi)
    rng = random.Random(f"{FIXTURE_SEED}-place-{k}")
    if m in (5, 15):
        run = _shared_run("sub", k // 20, 20)  # >=100 bytes of shared words
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    elif m in (7, 17):
        run = _shared_run("coalesce", k // 20, 55)  # ~3x the 100-byte threshold
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    elif m in (9, 19):
        words = words + _BOILERPLATE.split(" ")
    if k % 97 == 3:
        run = _shared_run("straddle", 0, _STRADDLE_SENTENCE_WORDS)
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    return " ".join(words)


def fixture_row(k: int, size_lo: int = 50, size_hi: int = 2000) -> dict:
    text = fixture_text(k, size_lo, size_hi)
    lang = "en" if k % 20 < 19 else ["de", "fr", "es"][(k // 20) % 3]
    return {
        "doc_id": k,
        "url": f"https://site{k // 10}.example/page{k}",
        "warc_ts": EPOCH + timedelta(seconds=137 * k),
        "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
        "text": text,
        "lang": lang,
    }


def synth_documents_pandas(n: int, size_lo: int = 50, size_hi: int = 2000) -> pd.DataFrame:
    """Driver-side fixture generation (pytest scale)."""
    return pd.DataFrame([fixture_row(k, size_lo, size_hi) for k in range(n)])


def synth_documents(
    spark: SparkSession, n: int, size_lo: int = 50, size_hi: int = 2000
) -> DataFrame:
    """Distributed fixture generation: pure function of doc index, so it is
    generated where it will be consumed (no driver collect, no shuffle)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [fixture_row(int(k), size_lo, size_hi) for k in pdf["id"]]
            )

    return (
        spark.range(0, n, 1, numPartitions=max(1, n // 2000))
        .mapInPandas(worker_kernel(gen), DOCUMENTS_SCHEMA)
    )


def _hf_split_size(datasets_mod, name: str, split: str) -> int:
    """Split row count from dataset METADATA only (no example download):
    load_dataset_builder reads the dataset card/info, the analogue of the
    reference asking len(ds) before forking its mp.Pool shards
    (load_dataset_hf.py:59-63)."""
    builder = datasets_mod.load_dataset_builder(name)
    info_splits = getattr(builder.info, "splits", None) or {}
    if split not in info_splits:
        raise ValueError(
            f"split {split!r} not in {name} (splits: {sorted(info_splits)})"
        )
    return int(info_splits[split].num_examples)


def read_sharded_text(
    spark: SparkSession,
    n: int,
    shard_loader,
    url_prefix: str,
    docs_per_shard: int = 50_000,
) -> DataFrame:
    """Core distributed external-dataset reader: ``shard_loader(lo, hi) ->
    list[str]`` runs on EXECUTORS (cloudpickled into mapInPandas tasks),
    one task per contiguous [lo, hi) id slice — the Spark analogue of the
    reference's mp.Pool shard loop (load_dataset_hf.py:59-90). The driver
    only needs the total row count ``n``; no example text ever crosses it.
    doc_ids are dense and deterministic for free (= slice offset), no
    assign_dense_ids pass needed."""
    bounds = [
        (lo, min(lo + docs_per_shard, n)) for lo in range(0, n, docs_per_shard)
    ] or [(0, 0)]
    # range-partition on lo: exactly one [lo, hi) bound per task. Hash
    # partitioning on lo could land several bounds in one partition (their
    # loads would serialize within that task) and leave others empty —
    # parallelism below the shard count (round-4 ADVICE).
    shard_df = spark.createDataFrame(
        pd.DataFrame(bounds, columns=["lo", "hi"])
    ).repartitionByRange(len(bounds), "lo")

    def load(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                if hi <= lo:
                    continue
                texts = shard_loader(lo, hi)
                if len(texts) != hi - lo:
                    raise RuntimeError(
                        f"shard_loader({lo}, {hi}) returned {len(texts)} "
                        f"rows, expected {hi - lo} — doc_ids would desync"
                    )
                yield pd.DataFrame(
                    {"doc_id": range(lo, hi), "text": [str(t) for t in texts]}
                )

    raw = shard_df.mapInPandas(worker_kernel(load), "doc_id long, text string")
    return raw.select(
        "doc_id",
        F.concat(F.lit(url_prefix), F.col("doc_id")).alias("url"),
        F.lit(EPOCH).cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text").cast("string").alias("text"),
        F.lit("und").alias("lang"),
    )


def read_hf_dataset(
    spark: SparkSession,
    name: str,
    split: str = "train",
    text_key: str = "text",
    docs_per_shard: int = 50_000,
    streaming: bool = True,
) -> DataFrame:
    """HF-datasets ingestion (reference scripts/load_dataset_hf.py:51-90:
    datasets.load_dataset sharded across an mp.Pool).

    Distributed by construction: the driver reads only the split's row
    count from dataset metadata (_hf_split_size — no example download),
    then each EXECUTOR task loads its own contiguous slice inside
    read_sharded_text's mapInPandas. A C4-sized split never materializes
    on the driver (the round-3 ``ds.to_pandas()`` seam is gone).

    Executors load one of two ways (round-4 ADVICE):

    * ``streaming=True`` (default): ``load_dataset(..., streaming=True)``
      + ``.skip(lo).take(hi-lo)`` — no per-node download-and-prepare of
      the whole split; each task streams shards and discards the first
      ``lo`` records. skip() is O(lo) record-reads but touches only the
      compressed source files sequentially (no arrow materialization, no
      HF file-lock contention), which at C4 scale beats every node paying
      a full prepare. Prefer this unless the dataset's shards are already
      prepared node-locally.
    * ``streaming=False``: the HF slice syntax ``split[lo:hi]`` — NOTE
      this prepares (downloads + arrow-izes) the FULL split into each
      node's HF cache before slicing, serialized per node on HF file
      locks. Only use when every node has the split pre-cached (e.g. a
      shared warm HF_HOME), where slicing prepared arrow beats streaming.

    The container ships no huggingface ``datasets`` — like
    ``functions.text.gpt2_tokenizer_udf`` this raises a clear
    NotImplementedError at the exact integration point instead of silently
    substituting (the sharded plumbing itself is tested through
    read_sharded_text with a fake loader, tests/test_round4.py; the
    streaming loader with a fake ``datasets`` module, tests/test_round5.py).
    """
    try:
        import datasets  # type: ignore  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "HF dataset ingestion needs the 'datasets' package (not in "
            "this container). Use read_text_corpus for txt/jsonl/csv "
            "globs or read_documents for parquet/Iceberg tables; at scale, "
            "export the dataset to parquet and point read_documents at it."
        ) from exc

    n = _hf_split_size(datasets, name, split)

    def load_slice(lo: int, hi: int) -> list:
        import datasets as ds_mod  # executor-side import

        return _hf_load_slice(
            ds_mod, name, split, text_key, streaming, lo, hi
        )

    return read_sharded_text(
        spark, n, load_slice, f"hf://{name}/{split}/", docs_per_shard
    )


def _hf_load_slice(
    ds_mod, name: str, split: str, text_key: str, streaming: bool,
    lo: int, hi: int,
) -> list:
    """One executor task's slice load (module-level so the fake-module
    tests can drive it without a worker-side import seam)."""
    if streaming:
        stream = ds_mod.load_dataset(name, split=split, streaming=True)
        out = []
        for ex in stream.skip(lo).take(hi - lo):
            if text_key not in ex:
                raise ValueError(
                    f"no {text_key!r} key in {name}:{split} example "
                    f"(keys: {sorted(ex)})"
                )
            out.append(ex[text_key])
        return out
    shard = ds_mod.load_dataset(name, split=f"{split}[{lo}:{hi}]")
    if text_key not in shard.column_names:
        raise ValueError(
            f"no {text_key!r} column in {name}:{split} "
            f"(columns: {shard.column_names})"
        )
    return list(shard[text_key])


def read_tfds_dataset(
    spark: SparkSession,
    name: str,
    split: str = "train",
    text_key: str = "text",
    docs_per_shard: int = 50_000,
) -> DataFrame:
    """TFDS ingestion (reference scripts/load_dataset.py:49-51: tfds.load,
    the loader behind the wiki40b walkthrough).

    Same sharded design as read_hf_dataset: the driver reads only
    ``tfds.builder(name).info.splits[split].num_examples`` (metadata),
    then each EXECUTOR task loads its own ``split[lo:hi]`` sub-split (TFDS
    shares the HF absolute-slicing syntax) inside read_sharded_text's
    mapInPandas — never a full-split driver materialization. Each node
    needs the TFDS data dir populated (tfds prepares per-node on first
    touch; point TFDS_DATA_DIR at shared storage on a real cluster).

    No tensorflow-datasets in this container, so the import raises a clear
    NotImplementedError; the sharded path itself is exercised with a fake
    ``tensorflow_datasets`` module (tests/test_round5.py).
    """
    try:
        import tensorflow_datasets as tfds  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "TFDS ingestion needs the 'tensorflow-datasets' package (not "
            "in this container). Use read_text_corpus for txt/jsonl/csv "
            "globs or read_documents for parquet/Iceberg tables; at scale, "
            "export the dataset to parquet and point read_documents at it."
        ) from exc

    info_splits = tfds.builder(name).info.splits
    if split not in info_splits:
        raise ValueError(
            f"split {split!r} not in {name} "
            f"(splits: {sorted(info_splits)})"
        )
    n = int(info_splits[split].num_examples)

    def load_slice(lo: int, hi: int) -> list:
        import tensorflow_datasets as tfds_mod  # executor-side import

        return _tfds_load_slice(tfds_mod, name, split, text_key, lo, hi)

    return read_sharded_text(
        spark, n, load_slice, f"tfds://{name}/{split}/", docs_per_shard
    )


def _tfds_load_slice(
    tfds_mod, name: str, split: str, text_key: str, lo: int, hi: int
) -> list:
    """One executor task's TFDS sub-split load (module-level for the
    fake-module tests, mirroring _hf_load_slice)."""
    ds = tfds_mod.load(name, split=f"{split}[{lo}:{hi}]")
    out = []
    for ex in tfds_mod.as_numpy(ds):
        if text_key not in ex:
            raise ValueError(
                f"no {text_key!r} key in {name}:{split} example "
                f"(keys: {sorted(ex)})"
            )
        v = ex[text_key]
        out.append(v.decode("utf-8") if isinstance(v, bytes) else str(v))
    return out


def read_text_corpus(spark: SparkSession, path: str, fmt: str = "auto") -> DataFrame:
    """Ingest raw text corpora the way the reference's HF loader does
    (scripts/load_dataset_hf.py:25,51-57: txt / jsonl / csv globs) into the
    canonical documents frame. ``text`` is taken from a ``text`` column
    (jsonl/csv) or the whole line (txt); doc_id is the deterministic
    row_number in input order (the reference's uid, load_dataset.py:58)."""
    if fmt == "auto":
        low = path.lower()
        fmt = (
            "json" if (".json" in low or ".jsonl" in low)
            else "csv" if ".csv" in low
            else "text"
        )
    if fmt == "json":
        raw = spark.read.json(path)
    elif fmt == "csv":
        raw = spark.read.option("header", "true").csv(path)
    else:
        raw = spark.read.text(path).withColumnRenamed("value", "text")
    if "text" not in raw.columns:
        raise ValueError(f"no 'text' column in {path} (columns: {raw.columns})")
    # input-order ids, hierarchically (no global single-partition sort)
    d = assign_dense_ids(raw, order_col=None)
    return d.select(
        "doc_id",
        F.coalesce(
            F.col("url") if "url" in raw.columns else F.lit(None).cast("string"),
            F.concat(F.lit("corpus://doc/"), F.col("doc_id")),
        ).alias("url"),
        (
            F.col("warc_ts") if "warc_ts" in raw.columns else F.lit(EPOCH)
        ).cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text").cast("string").alias("text"),
        (
            F.col("lang") if "lang" in raw.columns else F.lit("und")
        ).cast("string").alias("lang"),
    )
