"""Structured-Streaming incremental index ingest.

The reference ingests one document at a time with byte-offset resume
(``sea/corpus.pyx:285-319``, resume ``:224-227``) and flushes a SPIMI
partition every 20k docs (``sea/indexer.pyx:192-193``). The Spark-first
mapping: a file-source stream over the corpus directory, one tokenize
pass per micro-batch appended to a postings staging area (the SPIMI
"partition flush"), Spark's streaming checkpoint as the resume cursor
(exactly-once file-source progress), and a ``compact()`` step that runs
the shared finalize (stats → BM25 → block encode → shard sink) over
everything staged — the reference's ``_finalize`` k-way merge, done by
the shuffle.

Watermarks/event-time windows are deliberately absent: corpus ingest
has no event time (SURVEY.md §1.4) — the only stream semantics needed
are incremental progress + exactly-once, which the file source +
checkpoint provide.

Scale shape: each micro-batch is one narrow ``mapInPandas`` pass (no
shuffle) appended as parquet; the single wide shuffle happens once per
``compact()``, amortized over many batches. Staged postings are
partitioned by batch, so a failed batch re-stages idempotently (the
batch id keys the overwrite) and compaction reads only committed data.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cs_search_engine_architecture_spark.operators.indexer import (
    DEFAULT_BLOCK_SIZE,
    DEFAULT_GROUP_TARGET,
    DEFAULT_HOT_DF,
    DEFAULT_NUM_BUCKETS,
    REF_K,
    _finalize_index,
    packed_postings_schema,
    tokenize_postings_packed,
)


def stream_corpus(
    spark: SparkSession, input_dir: str, schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a corpus directory (new files = new docs,
    the distributed analog of the reference's append-only TSV tail)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


class StreamingIndexer:
    """Stages tokenized postings per micro-batch; ``compact()`` builds
    the queryable index from everything staged so far."""

    def __init__(
        self,
        spark: SparkSession,
        out_path: str,
        fields: Sequence[str],
        doc_id_col: str = "doc_id",
        analyzer: str = "reference",
        block_size: int = DEFAULT_BLOCK_SIZE,
        num_buckets: int = DEFAULT_NUM_BUCKETS,
    ):
        self.spark = spark
        self.out_path = out_path
        self.fields = list(fields)
        self.doc_id_col = doc_id_col
        self.analyzer = analyzer
        self.block_size = block_size
        self.num_buckets = num_buckets
        self.stage_dir = os.path.join(out_path, "stream", "postings")
        self.batch_meta_dir = os.path.join(out_path, "stream", "batches")
        self.checkpoint_dir = os.path.join(out_path, "stream", "checkpoint")
        os.makedirs(self.batch_meta_dir, exist_ok=True)

    # ---------------------------------------------------------- ingest

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        ts = time.time()
        postings = tokenize_postings_packed(
            batch_df, self.fields, self.doc_id_col, self.analyzer
        )
        path = os.path.join(self.stage_dir, f"batch={batch_id}")
        # overwrite keyed by batch id -> idempotent on replay
        postings.write.mode("overwrite").parquet(path)
        num_docs = batch_df.count()
        num_postings = self.spark.read.parquet(path).count()
        wall = time.time() - ts
        meta = {
            "batch_id": batch_id,
            "num_docs": int(num_docs),
            "num_postings": int(num_postings),
            "wall_sec": wall,
            "postings_per_sec": (num_postings / wall) if wall > 0 else None,
            "completed_at_unix": int(time.time()),
        }
        tmp = os.path.join(self.batch_meta_dir, f"batch_{batch_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, tmp[: -len(".tmp")])

    def start(
        self, stream_df: DataFrame, available_now: bool = False
    ) -> StreamingQuery:
        writer = (
            stream_df.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def ingest_available(self, stream_df: DataFrame) -> None:
        """Process everything currently in the source, then stop
        (resumes from the streaming checkpoint on the next call)."""
        q = self.start(stream_df, available_now=True)
        q.awaitTermination()

    # --------------------------------------------------------- compact

    def batches(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.batch_meta_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.batch_meta_dir, name)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda b: b["batch_id"])

    def compact(self) -> dict:
        """Finalize the index over all staged batches (rerunnable; the
        reference's merge step)."""
        batches = self.batches()
        if not batches:
            raise ValueError("no staged batches to compact")
        # read ONLY committed batch dirs: a crash between the postings
        # write and the meta-json commit leaves an orphan (possibly
        # partial) batch= dir whose docs are absent from num_documents —
        # folding its postings in would silently skew N/avgdl/idf
        paths = [
            os.path.join(self.stage_dir, f"batch={b['batch_id']}")
            for b in batches
        ]
        postings = self.spark.read.schema(
            packed_postings_schema(len(self.fields))
        ).parquet(*paths)
        num_documents = sum(b["num_docs"] for b in batches)
        return _finalize_index(
            self.spark, postings, num_documents, self.out_path, self.fields,
            doc_id_col=self.doc_id_col, analyzer=self.analyzer,
            block_size=self.block_size, num_buckets=self.num_buckets,
            group_span=DEFAULT_GROUP_TARGET, hot_df=DEFAULT_HOT_DF,
            boosts=None, bs=None, k=REF_K,
            corpus_path=f"stream:{self.stage_dir}", t0=time.time(),
            extra_meta={
                "streaming": True,
                "num_batches": len(batches),
                "batch_checkpoints": batches,
            },
        )


# live-ingest delta segments live far above any manual add_docs slot
# (indexer._next_delta_segment allocates strictly below this base);
# canonical definition lives next to the slot allocator it constrains
from cs_search_engine_architecture_spark.operators.indexer import (  # noqa: E402
    LIVE_SEGMENT_BASE,
)


class LiveStreamingIndexer:
    """Near-real-time ingest: every micro-batch becomes a QUERYABLE
    delta segment (``indexer.add_docs``), so the index serves between
    compactions — the Lucene NRT shape on Spark.

    Contrast with ``StreamingIndexer``: that one stages raw postings
    and the index only exists after ``compact()``; this one pays a
    small per-batch encode (frozen-stats scoring against the base
    index — see ``add_docs``) and is continuously searchable. The base
    index must exist first (build it over the initial corpus, or over
    an empty frame to start cold — note a cold start freezes N=0 stats,
    flattening scores until the first ``compact``). Replayed batches
    overwrite their own delta (segment id = LIVE_SEGMENT_BASE +
    streaming batch_id, a namespace manual ``add_docs`` slot counting
    never reaches), so ingest is idempotent under Structured
    Streaming's retry semantics; doc_id uniqueness across batches is
    the producer's contract (``check_ids`` costs a join per batch if
    wanted).

    ``dedup_store`` (a ``dedup.build_dedup_store`` path) turns on
    INGEST-TIME near-dup filtering: each batch is probed against the
    persisted MinHash/LSH store (broadcast batch bands over the skinny
    store tables — no corpus re-hash), docs with estimated Jaccard ≥
    ``dedup_threshold`` vs any already-stored doc are dropped
    (first-seen wins), and the survivors' signatures are appended into
    the store under the batch's own segment id. Replay-safe: the probe
    excludes the batch's OWN store segment and the append overwrites
    it, so a replayed batch filters and indexes identically."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        check_ids: bool = False,
        dedup_store: str | None = None,
        dedup_threshold: float = 0.9,
    ):
        from cs_search_engine_architecture_spark.operators.indexer import (
            load_meta,
        )

        load_meta(index_path)  # fail fast when no base index exists
        self.spark = spark
        self.index_path = index_path
        self.check_ids = check_ids
        self.dedup_store = dedup_store
        self.dedup_threshold = dedup_threshold
        self.checkpoint_dir = os.path.join(index_path, "stream_live", "checkpoint")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from cs_search_engine_architecture_spark.operators.indexer import (
            add_docs,
        )

        segment = LIVE_SEGMENT_BASE + batch_id
        if self.dedup_store:
            from cs_search_engine_architecture_spark.operators.dedup import (
                dedup_filter_batch,
                dedup_store_append,
            )

            batch_df = dedup_filter_batch(
                self.spark,
                self.dedup_store,
                batch_df,
                threshold=self.dedup_threshold,
                exclude_segment=segment,
            ).localCheckpoint()  # one filter pass feeds both consumers
        if not batch_df.take(1):
            return
        add_docs(
            self.spark,
            self.index_path,
            batch_df,
            check_ids=self.check_ids,
            segment=segment,
        )
        if self.dedup_store:
            dedup_store_append(
                self.spark, self.dedup_store, batch_df, segment=segment
            )

    def start(
        self, stream_df: DataFrame, available_now: bool = False
    ) -> StreamingQuery:
        writer = (
            stream_df.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def ingest_available(
        self, stream_df: DataFrame, auto_maintain: bool = False,
        **policy,
    ) -> dict | None:
        """Drain everything available, then (optionally) run one
        ``indexer.auto_maintain`` policy tick. The tick runs at this
        QUIESCENT point only — never inside ``_process_batch``: under
        foreachBatch's at-least-once semantics a merge that consumed an
        UNcommitted batch's segment would double-serve its docs when
        the batch replays (the replay writes a fresh delta into its
        slot while the merged copy already carries the rows). After
        ``awaitTermination`` every drained batch is committed, so
        folding the tier is safe — and an in-place compaction carries
        the stream's checkpoint across the swap (see
        ``indexer._carry_runtime_state``)."""
        q = self.start(stream_df, available_now=True)
        q.awaitTermination()
        if not auto_maintain:
            return None
        from cs_search_engine_architecture_spark.operators import indexer

        return indexer.auto_maintain(self.spark, self.index_path, **policy)

    def compact(self, out_path: str, **kwargs) -> dict:
        """Fold base + all live deltas (- tombstones) into a
        fresh-stats index at ``out_path``."""
        from cs_search_engine_architecture_spark.operators.indexer import (
            compact_index,
        )

        return compact_index(self.spark, self.index_path, out_path, **kwargs)
