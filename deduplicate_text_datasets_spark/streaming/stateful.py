"""Stateful streaming exact-dedup: first-seen-wins across micro-batches.

The foreachBatch pipeline in :mod:`.ingest` dedups a stream against a
*prebuilt* index; this operator dedups the stream *against itself* — the
streaming analogue of the reference's one-pass exact dedup (its batch
pipeline groups the whole corpus by content hash once;
finish_dedup_wiki40b.py keeps one representative per duplicate class).
Here the "corpus so far" is Structured Streaming keyed state:

    docs ──► fingerprint (xxhash64 over normalized tokens)
         ──► groupBy(fingerprint).applyInPandasWithState(...)
         ──► (doc_id, fingerprint, canonical, keep, n_prior)

State per fingerprint is 16 bytes (canonical doc_id + count), hash-
partitioned across executors by the state store exactly like a shuffle —
at web scale the working set is bounded by the number of *distinct*
documents, and an optional processing-time TTL evicts cold keys so state
holds only the recent-horizon corpus (dedup then becomes approximate
beyond the horizon — the same contract as a bounded bloom filter; leave
``state_ttl_ms=None`` for exact semantics). Restarts resume from the
state-store checkpoint, so first-seen-wins holds across job restarts too.

Within one trigger a key's canonical is the minimum doc_id of the trigger
(arrival order inside a micro-batch is partition-nondeterministic; the min
rule makes replays and tests deterministic). Across triggers the stored
canonical wins.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from .. import worker_kernel
from ..functions.text import doc_fingerprint

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fingerprint", LongType()),
        StructField("canonical", LongType()),
        StructField("keep", BooleanType()),
        StructField("n_prior", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("canonical", LongType()), StructField("n_seen", LongType())]
)


def _make_dedup_fn(state_ttl_ms: int | None):
    def dedup_group(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (fingerprint,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            canonical, n_seen = state.get
        else:
            canonical, n_seen = int(batch["doc_id"].min()), 0
        out = pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "fingerprint": fingerprint,
                "canonical": canonical,
                "keep": (batch["doc_id"] == canonical) & (n_seen == 0),
                "n_prior": n_seen,
            }
        )
        state.update((canonical, n_seen + len(batch)))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield out

    return dedup_group


def stateful_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming DataFrame in, append-mode classified stream out.

    ``keep`` is True for exactly one row per fingerprint over the stream's
    lifetime (the first trigger's min doc_id); every later occurrence
    carries the canonical id and how many copies preceded it.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        doc_fingerprint(text_col).alias("fingerprint"),
    )
    return fp.groupBy("fingerprint").applyInPandasWithState(
        worker_kernel(_make_dedup_fn(state_ttl_ms)),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def start_stateful_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "text",
    state_ttl_ms: int | None = None,
    available_now: bool = True,
):
    """readStream(parquet) -> stateful_exact_dedup -> parquet sink.

    availableNow drains the current backlog then stops; re-invoking with
    the same checkpoint resumes the keyed state, so a duplicate landing
    days after its canonical is still flagged (state-store recovery).
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)
    out = stateful_exact_dedup(stream, text_col, state_ttl_ms)
    writer = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
