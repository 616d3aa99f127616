"""Distributed inverted-index build (the reference's ``Indexer.build`` —
``sea/indexer.pyx:146-392`` — re-expressed as a Spark dataflow).

Stages (SURVEY.md §2.3, §7 Phase 1-2):

1. **tokenize + per-doc aggregate** — one ``mapInPandas`` pass emits one row
   per (doc, term): per-field frequencies, post-filter field lengths, and
   field-concatenated char positions (reference T1-T5,
   ``sea/corpus.pyx:117-197``). Per-doc aggregation happens inside the
   batch (a document never spans Arrow batches), so this stage needs NO
   shuffle — it is the analog of the reference's in-memory SPIMI
   accumulation (B1), with Spark input splits as the "partitions".
2. **global + term stats** — ``groupBy(term).count()`` (map-side partial
   aggregation; hot terms cost one combiner row per input partition, so
   skew is absorbed before the shuffle) and a one-row global aggregate for
   N / avg field lengths / posting count (B5, B8).
3. **score** — join postings x term_stats (AQE picks broadcast when the
   vocabulary is small; sort-merge on term otherwise) and compute the
   index-time BM25 exactly as ``sea/document.pyx:254-280`` as JVM column
   arithmetic (whole-stage codegen; no UDF).
4. **block build** — ``groupBy(pmod(term_id, M), doc_group)
   .applyInPandas``: one call flushes many terms, SPIMI-style (B1),
   cutting all their blocks in one vectorized pass. Doc-range salting
   (terms with ``df > hot_df`` split into doc ranges of about
   ``group_span`` postings each) spreads hot-term lists across tasks
   while keeping each ``doc_group`` doc-contiguous, so per-term doc_id
   order is the concatenation of its groups — no second merge stage
   (this replaces the reference's single-threaded k-way heap merge,
   B2/B4). Blocks are delta-gap + varint compressed, ``block_size``
   postings each, with per-block max_score metadata (B3 upgrade).
   Stages 3-5 are one function,
   ``_write_blocks``: full builds and ``add_docs`` delta segments (scored
   with frozen base stats) write blocks through the same path.
5. **sink** — blocks repartitioned by ``term_bucket = pmod(xxhash64(term),
   num_buckets)``, sorted by (term, first_doc) within partitions, written
   ``partitionBy(term_bucket)``: term lookups prune to one directory and
   then to few row groups via min/max stats. ``term_stats`` +
   ``meta.json`` + a per-shard lineage ``manifest.json`` (S5, B9).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.functions.tokenizer import tokenize
from cs_search_engine_architecture_spark.operators.partitioning import (
    widen_input,
)
from cs_search_engine_architecture_spark.operators.compression import (
    encode_scores,
    grouped_delta_encode,
    split_bytes,
    varint_encode_ragged,
)

POSTINGS_SCHEMA = (
    "doc_id long, term string, field_freqs array<int>, "
    "field_lens array<int>, positions array<int>"
)

BLOCKS_SCHEMA = (
    "term string, block_no long, first_doc long, last_doc long, count int, "
    "max_score float, min_score float, doc_ids_bin binary, scores_bin binary, "
    "freqs_bin binary, lens_bin binary, pos_counts_bin binary, "
    "positions_bin binary"
)

DEFAULT_BLOCK_SIZE = 128
DEFAULT_NUM_BUCKETS = 64
# Doc-range salting: a hot term's posting list is split into
# doc-contiguous groups targeting GROUP_TARGET postings each (the
# ``group_span`` build parameter), so no single task owns the Zipf head
# (otherwise one straggler encodes the hottest term while every other
# core idles) — ngroups = ceil(df / target), span = ceil(N_docs /
# ngroups). Salting buys parallelism only: encoder calls are keyed by
# (term_id mod M, doc_group), so it does not set the call count.
DEFAULT_GROUP_TARGET = 1 << 13  # target postings per hot-term salt group

# target postings per ENCODE task: sizes the wide shuffle from the
# measured staged postings (256k rows/task keeps the Arrow->pandas
# batches and per-task heap flat as the corpus grows; a 10^11-posting
# corpus caps at 4096 tasks locally — on a real cluster raise the cap
# with the executor count)
ENCODE_POSTINGS_PER_TASK = 1 << 18
DEFAULT_HOT_DF = 1 << 13  # salt terms with more postings than this
# WAND write-time layout: blocks never cross a doc-shard boundary
# (shard = first_doc // span), so every block belongs to exactly ONE
# shard and the engine can serve multi-term WAND from a shard-
# partitioned cached frame with NO per-query exchange (wand.py). Cost:
# sparse terms split into more, smaller blocks — bounded by one extra
# block per (term, overlapped shard); metadata stays O(num_postings /
# min(block_size, postings-per-term-per-shard)). Every build writes this
# layout; the span must be a positive int.
DEFAULT_WAND_SHARD_SPAN = 1 << 14

# reference BM25 constants (sea/indexer.pyx:22-24)
REF_BOOSTS = (1.0, 0.5)
REF_BS = (0.75, 0.75)
REF_K = 1.5

def default_field_params(num_fields: int) -> tuple[list[float], list[float]]:
    if num_fields == 2:
        return list(REF_BOOSTS), list(REF_BS)
    return [1.0] * num_fields, [0.75] * num_fields


def tokenize_postings(
    corpus: DataFrame,
    fields: Sequence[str],
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
    keep_terms: "Sequence[str] | None" = None,
) -> DataFrame:
    """Corpus -> one row per (doc, term). Partition-local; no shuffle.

    ``keep_terms`` (r6): emit only rows for those terms, filtered
    INSIDE the Python worker — callers that join the output against a
    small term list (percolate's phrase arm) would otherwise ship
    every posting's ragged positions across Arrow just to drop them
    at the join. Field lengths still reflect the FULL tokenize, so
    surviving rows are byte-identical to the unfiltered frame's
    (pinned by ``test_tokenize_keep_terms_matches_filter``)."""
    nf = len(fields)
    keep = set(keep_terms) if keep_terms is not None else None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_doc, out_term, out_ff, out_fl, out_pos = [], [], [], [], []
            doc_ids = pdf[doc_id_col].to_numpy()
            field_cols = [pdf[f].to_numpy() for f in fields]
            for i in range(len(pdf)):
                per_doc: dict[str, list] = {}
                field_lens = [0] * nf
                for f_idx in range(nf):
                    text = field_cols[f_idx][i]
                    if text is None:
                        continue
                    toks, poss = tokenize(text, is_query=False, analyzer=analyzer)
                    field_lens[f_idx] = len(toks)
                    for tok, pos in zip(toks, poss):
                        e = per_doc.get(tok)
                        if e is None:
                            per_doc[tok] = e = [[0] * nf, []]
                        e[0][f_idx] += 1
                        e[1].append(pos)
                did = int(doc_ids[i])
                for tok, (ff, positions) in per_doc.items():
                    if keep is not None and tok not in keep:
                        continue
                    out_doc.append(did)
                    out_term.append(tok)
                    out_ff.append(ff)
                    out_fl.append(field_lens)
                    out_pos.append(positions)
            if not out_doc:
                # a batch of only empty/None docs: pandas would type the
                # empty ragged columns float64, which Arrow cannot cast
                # to list<int> — yield nothing instead
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "term": out_term,
                    "field_freqs": out_ff,
                    "field_lens": out_fl,
                    "positions": out_pos,
                }
            )

    return corpus.select(doc_id_col, *fields).mapInPandas(batches, POSTINGS_SCHEMA)


def tokenize_presence(
    corpus: DataFrame,
    fields: Sequence[str],
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
) -> DataFrame:
    """Corpus -> one row per DISTINCT (doc, term) — the presence-only
    projection of ``tokenize_postings`` for consumers that never read
    frequencies or positions (percolate's term and mixed-tree arms).

    Why it exists (r6): ``tokenize_postings`` is an opaque
    ``mapInPandas``, so Catalyst cannot prune its ragged
    ``positions``/``field_freqs`` columns for presence-only consumers —
    every such pass built per-posting Python lists and shipped them
    across Arrow (the ~3x ragged-column lesson). This variant runs the
    batch-VECTORIZED scan (`_vectorized_field_scan`, the packed build
    path's kernel) and crosses the boundary as two scalar columns.
    Term sets are identical to ``tokenize_postings``'s by the same
    argument that pins packed==scalar (both derive from the one scan;
    ``test_tokenize_presence_matches_postings``)."""
    nf = len(fields)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "term": pd.Series([], dtype="object"),
            }
        )
        for pdf in it:
            doc_ids = pdf[doc_id_col].to_numpy()
            outs = []
            for f in fields:
                doc_idx, codes, uniq, _pos = _vectorized_field_scan(
                    pdf[f].to_numpy(), analyzer
                )
                if doc_idx.size == 0:
                    continue
                key = (doc_idx << np.int64(32)) | codes
                uk = np.unique(key)
                d = (uk >> np.int64(32)).astype(np.int64)
                c = (uk & np.int64(0xFFFFFFFF)).astype(np.int64)
                outs.append(
                    pd.DataFrame(
                        {
                            "doc_id": pd.Series(
                                doc_ids[d], dtype="int64"
                            ),
                            "term": np.asarray(uniq, dtype=object)[c],
                        }
                    )
                )
            if not outs:
                yield empty
                continue
            res = pd.concat(outs, ignore_index=True)
            if nf > 1:
                res = res.drop_duplicates(ignore_index=True)
            yield res

    return corpus.select(doc_id_col, *fields).mapInPandas(
        batches, "doc_id long, term string"
    )


def packed_postings_schema(num_fields: int) -> str:
    per_field = ", ".join(
        f"ff_{i} int, fl_{i} int" for i in range(num_fields)
    )
    return (
        f"doc_id long, term string, {per_field}, "
        "pos_count int, pos_bin binary"
    )


def _vectorized_field_scan(texts, analyzer: str):
    """Batch-vectorized scan of ONE field column: all docs of the batch
    are joined into a single buffer (NUL separators — never alnum, so
    run boundaries are preserved) and scanned with ONE regex pass;
    quirk filters, stemming, and stopwords run once per UNIQUE raw
    token (vocab-level, not per occurrence). Returns
    ``(doc_idx, term_code, terms, pos)`` arrays over kept occurrences.

    Reference quirks preserved occurrence-exactly
    (``sea/tokenizer.pyx:81-161``): mixed-alnum drop, alpha≤50 /
    num≤4 caps, END-OF-TEXT filter bypass (an occurrence property —
    ``ends == doc_end`` — not a vocab property), stem-length
    truncation, post-stem stopword removal."""
    from cs_search_engine_architecture_spark.functions import tokenizer as TK

    parts = [t if isinstance(t, str) else "" for t in texts]
    n = len(parts)
    lens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=n)
    doc_starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=doc_starts[1:])
    low = TK.ascii_lower("\x00".join(parts))
    # token STRINGS via findall (C loop, no Match objects); token
    # POSITIONS via a vectorized codepoint mask — UTF-32 gives one
    # uint32 per CHAR, so offsets are char offsets even past non-ASCII
    tok_list: list[str] = TK._RUN.findall(low)
    if not tok_list:
        e = np.empty(0, dtype=np.int64)
        return e, e, [], e
    cp = np.frombuffer(low.encode("utf-32-le"), dtype=np.uint32)
    mask = ((cp >= 97) & (cp <= 122)) | ((cp >= 48) & (cp <= 57))
    edges = np.diff(
        np.concatenate([[False], mask, [False]]).astype(np.int8)
    )
    starts = np.flatnonzero(edges == 1).astype(np.int64)
    ends = np.flatnonzero(edges == -1).astype(np.int64)
    assert len(starts) == len(tok_list)  # same [a-z0-9]+ run definition
    codes, uniq = pd.factorize(np.asarray(tok_list, dtype=object))
    codes = codes.astype(np.int64)
    doc_idx = np.searchsorted(doc_starts, starts, side="right") - 1
    pos = starts - doc_starts[doc_idx]
    uniq = list(uniq)
    if analyzer == "reference":
        keep_class = np.fromiter(
            (
                (TK._ALPHA.match(u) is not None and len(u) <= 50)
                or (TK._NUM.match(u) is not None and len(u) <= 4)
                for u in uniq
            ),
            dtype=bool,
            count=len(uniq),
        )
        doc_ends = doc_starts[doc_idx] + lens[doc_idx]
        keep = keep_class[codes] | (ends == doc_ends)
        stemmed = [TK._stem_truncate_cached(u) for u in uniq]
        is_stop = np.fromiter(
            (s in TK.STOPWORDS for s in stemmed), dtype=bool, count=len(uniq)
        )
        keep &= ~is_stop[codes]
        codes, doc_idx, pos = codes[keep], doc_idx[keep], pos[keep]
        final_per_uniq = stemmed
    else:
        final_per_uniq = uniq
    # re-code onto the post-stem vocabulary (distinct raws can share a stem)
    f_codes, f_uniq = pd.factorize(np.asarray(final_per_uniq, dtype=object))
    return doc_idx, f_codes.astype(np.int64)[codes], list(f_uniq), pos


def tokenize_postings_packed(
    corpus: DataFrame,
    fields: Sequence[str],
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
) -> DataFrame:
    """Corpus -> one row per (doc, term), SHUFFLE-PACKED: per-field
    frequency/length as scalar int columns and char positions
    pre-delta'd + varint'd into a per-posting binary.

    Why this exists next to ``tokenize_postings``: ragged
    ``array<int>`` columns crossing the Arrow/pandas boundary in the
    downstream ``applyInPandas`` block encoder materialize one Python
    list per posting — measured ~3x the whole encode phase. Scalars and
    small binaries cross as flat numpy/bytes, and the varint positions
    also shrink the build's one wide shuffle. Per-value varint encoding
    means block assembly is plain byte concatenation, so the final
    block bytes are identical to the array path's.

    The hot loop is BATCH-VECTORIZED (input_hint: "vectorized
    pandas/Arrow UDFs (no per-row Python)"): one regex pass per
    (batch, field) over a NUL-joined buffer, vocab-level quirk
    filters/stemming, and numpy group-by — per-token Python is gone.
    ``tokenize_postings`` (the per-doc scalar path sharing
    ``tokenize()`` with the oracle) doubles as the differential test
    target: ``tests/test_index_build.py`` pins both to identical
    postings and byte-identical blocks."""
    nf = len(fields)
    schema = packed_postings_schema(nf)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            doc_ids = pdf[doc_id_col].to_numpy()
            nb = len(pdf)
            vocab: dict[str, int] = {}
            occ_doc, occ_code, occ_field, occ_pos = [], [], [], []
            lens_mat = np.zeros((nb, nf), dtype=np.int32)
            for f_idx in range(nf):
                di, co, terms, po = _vectorized_field_scan(
                    pdf[fields[f_idx]].to_numpy(), analyzer
                )
                if len(terms):
                    remap = np.fromiter(
                        (vocab.setdefault(t, len(vocab)) for t in terms),
                        dtype=np.int64,
                        count=len(terms),
                    )
                    co = remap[co]
                # post-filter field length = kept occurrences per doc
                lens_mat[:, f_idx] = np.bincount(di, minlength=nb).astype(
                    np.int32
                )
                occ_doc.append(di)
                occ_code.append(co)
                occ_field.append(np.full(len(di), f_idx, dtype=np.int64))
                occ_pos.append(po)
            o_doc = np.concatenate(occ_doc)
            o_code = np.concatenate(occ_code)
            o_field = np.concatenate(occ_field)
            o_pos = np.concatenate(occ_pos)
            n_occ = len(o_doc)
            if n_occ == 0:
                data = {
                    "doc_id": pd.Series([], dtype="int64"),
                    "term": pd.Series([], dtype="object"),
                }
                for f_idx in range(nf):
                    data[f"ff_{f_idx}"] = pd.Series([], dtype="int32")
                    data[f"fl_{f_idx}"] = pd.Series([], dtype="int32")
                data["pos_count"] = pd.Series([], dtype="int32")
                data["pos_bin"] = pd.Series([], dtype="object")
                yield pd.DataFrame(data)
                continue
            t_sz = len(vocab)
            key = o_doc * t_sz + o_code
            # stable sort: within a (doc, term) group occurrences stay in
            # field-major scan order — the field-concatenated positions
            # contract (sea/corpus.pyx:117-197)
            perm = np.argsort(key, kind="stable")
            k_sorted = key[perm]
            group_starts = np.concatenate(
                [[0], np.flatnonzero(np.diff(k_sorted)) + 1]
            )
            n_groups = len(group_starts)
            group_keys = k_sorted[group_starts]
            g_doc_idx = group_keys // t_sz
            g_code = group_keys % t_sz
            counts = np.diff(np.append(group_starts, n_occ)).astype(np.int64)
            gid = np.searchsorted(
                group_starts, np.arange(n_occ), side="right"
            ) - 1
            ff = np.zeros((n_groups, nf), dtype=np.int32)
            np.add.at(ff, (gid, o_field[perm]), 1)
            pos_sorted = o_pos[perm].astype(np.uint64)
            pos_bins = varint_encode_ragged(
                grouped_delta_encode(pos_sorted, counts), counts
            )
            vocab_arr = np.empty(t_sz, dtype=object)
            for t, c in vocab.items():
                vocab_arr[c] = t
            data = {
                "doc_id": pd.Series(doc_ids[g_doc_idx], dtype="int64"),
                "term": pd.Series(vocab_arr[g_code], dtype="object"),
            }
            for f_idx in range(nf):
                data[f"ff_{f_idx}"] = pd.Series(ff[:, f_idx], dtype="int32")
                data[f"fl_{f_idx}"] = pd.Series(
                    lens_mat[g_doc_idx, f_idx], dtype="int32"
                )
            data["pos_count"] = pd.Series(counts, dtype="int32")
            data["pos_bin"] = pd.Series(pos_bins, dtype="object")
            yield pd.DataFrame(data)

    return corpus.select(doc_id_col, *fields).mapInPandas(batches, schema)


def bm25_score_col(
    num_fields: int,
    avg_field_lengths: Sequence[float],
    boosts: Sequence[float],
    bs: Sequence[float],
    k: float,
):
    """Index-time BM25 (``sea/document.pyx:254-280``) as a pure column
    expression over the packed scalar columns ``ff_i``/``fl_i`` + an
    ``idf`` column — whole-stage-codegen'd, no UDF."""
    tf = F.lit(0.0)
    for f in range(num_fields):
        ff = F.col(f"ff_{f}").cast("double")
        fl = F.col(f"fl_{f}").cast("double")
        denom = (
            F.lit(1.0 + bs[f])
            + F.lit(1.0 - bs[f]) * fl / F.lit(float(avg_field_lengths[f]))
        )
        tf = tf + ff * F.lit(float(boosts[f])) / denom
    return F.col("idf") * (tf * F.lit(k + 1.0)) / (tf + F.lit(k))


BLOCKS_ID_SCHEMA = (
    "term_id long, block_no long, first_doc long, last_doc long, count int, "
    "max_score float, min_score float, doc_ids_bin binary, scores_bin binary, "
    "freqs_bin binary, lens_bin binary, pos_counts_bin binary, "
    "positions_bin binary"
)


def _make_block_encoder_id(block_size: int, num_fields: int, shard_span: int):
    """Block encoder keyed by dense ``term_id`` (long) instead of the
    term string: the build's one wide shuffle and its Arrow->pandas
    crossing carry NO per-posting Python strings (25M postings would
    materialize 25M str objects — measured ~1/3 of the encode stage).
    Term strings re-attach by joining the ~block_size-times smaller
    BLOCKS frame with term_stats. Decoded blocks are pinned to
    ``OracleIndex`` by ``tests/test_index_build.py``.

    One call encodes MANY terms (a SPIMI-style flush, grouped on
    ``(pmod(term_id, M), doc_group)``): the ~9 ms per-call cost was
    paid per (term, doc_group), now per ~num_postings/M rows. Rows are
    sorted by (term_id, doc_id); a block starts where the term, the
    doc_group or the doc shard changes and every ``block_size``
    postings within such a run. ``block_no`` is ``doc_group << 32`` +
    the block's ordinal in its (term, doc_group), so blocks do not
    depend on which terms share a call (split invariance is tested).

    Transport note: an ``applyInArrow`` variant with buffer-level
    position gathering was measured 1.8-2.2x SLOWER than this
    ``applyInPandas`` kernel on 25.8M postings / 6k groups (Spark
    4.1 local[32]) — pandas' block-level binary conversion beats
    per-group pa.Table slicing here, so the pandas transport stays."""

    def encode_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort((pdf["doc_id"].to_numpy(), pdf["term_id"].to_numpy()))
        n = len(order)

        def col(name: str) -> np.ndarray:
            return pdf[name].to_numpy()[order]

        term, group = col("term_id"), col("doc_group").astype(np.int64)
        doc_ids = col("doc_id").astype(np.uint64)
        scores = col("score").astype(np.float32)
        pos_bins = col("pos_bin")
        # per-posting field values, interleaved posting-major
        ff, fl = (
            np.column_stack([col(f"{c}_{f}") for f in range(num_fields)]).ravel()
            for c in ("ff", "fl")
        )

        new_group = np.ones(n, dtype=bool)
        new_group[1:] = (term[1:] != term[:-1]) | (group[1:] != group[:-1])
        # never let a block cross a doc-shard boundary: blocks are split
        # at shard edges, so shard(first_doc) == shard(last_doc) and the
        # WAND layout needs no block replication
        sh = doc_ids // np.uint64(shard_span)
        new_run = new_group.copy()
        new_run[1:] |= sh[1:] != sh[:-1]
        run_starts = np.flatnonzero(new_run)
        in_run = np.arange(n) - run_starts[np.cumsum(new_run) - 1]
        starts = np.flatnonzero(in_run % block_size == 0)
        bounds = np.append(starts, n)
        counts = np.diff(bounds)
        first_in_group = new_group[starts]
        ordinal = np.arange(len(starts)) - np.flatnonzero(first_in_group)[
            np.cumsum(first_in_group) - 1
        ]
        pos_offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum([len(p) for p in pos_bins], out=pos_offsets[1:])
        return pd.DataFrame({
            "term_id": term[starts],
            "block_no": (group[starts] << 32) + ordinal,
            "first_doc": doc_ids[starts].astype(np.int64),
            "last_doc": doc_ids[bounds[1:] - 1].astype(np.int64),
            "count": counts.astype(np.int32),
            "max_score": np.maximum.reduceat(scores, starts),
            "min_score": np.minimum.reduceat(scores, starts),
            "doc_ids_bin": varint_encode_ragged(
                grouped_delta_encode(doc_ids, counts), counts
            ),
            "scores_bin": split_bytes(encode_scores(scores), 4 * bounds),
            "freqs_bin": varint_encode_ragged(ff, counts * num_fields),
            "lens_bin": varint_encode_ragged(fl, counts * num_fields),
            "pos_counts_bin": varint_encode_ragged(col("pos_count"), counts),
            "positions_bin": split_bytes(
                b"".join(pos_bins), pos_offsets[bounds]
            ),
        })

    return encode_blocks


def _count_checking_ids(corpus: DataFrame, id_col: str, group_span) -> int:
    """Row count fused with a doc-id domain check (one scan, no extra
    job vs the plain ``count()`` it replaces). The block layout packs
    ``doc_group = doc_id // group_span`` into the high 32 bits of a
    SIGNED 64-bit block id and the block encoder round-trips ids through
    uint64/int64, which wraps a negative id SILENTLY — this check is
    the only guard, so every writer runs it before the encode; the WAND
    shard math also rides exact integer-in-double division (2^53)."""
    span = max(int(group_span or 1), 1)
    hi_cap = min((1 << 31) * span - 1, (1 << 53) - 1)
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col(id_col).cast("long")).alias("lo"),
        F.max(F.col(id_col).cast("long")).alias("hi"),
    ).collect()[0]
    if row["n"] and (
        row["lo"] is None or row["lo"] < 0 or row["hi"] > hi_cap
    ):
        raise ValueError(
            f"doc ids must be non-null and in [0, {hi_cap}] "
            f"(got min={row['lo']}, max={row['hi']}): the block layout "
            f"packs doc_id // {span} into the high 32 bits of a signed "
            "64-bit block id"
        )
    return int(row["n"])


def _check_shard_span(shard_span) -> None:
    """Every index is shard-aligned: reject a span that is not a
    positive int up front, before any Spark job (it would otherwise
    die as a ``TypeError`` inside an encode task)."""
    if (
        not isinstance(shard_span, int)
        or isinstance(shard_span, bool)
        or shard_span < 1
    ):
        raise ValueError(
            f"shard_span must be a positive int (got {shard_span!r})"
        )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_path: str,
    fields: Sequence[str],
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    group_span: int = DEFAULT_GROUP_TARGET,
    hot_df: int = DEFAULT_HOT_DF,
    boosts: Sequence[float] | None = None,
    bs: Sequence[float] | None = None,
    k: float = REF_K,
    corpus_path: str | None = None,
    shard_span: int = DEFAULT_WAND_SHARD_SPAN,
) -> dict:
    """Build the full index at ``out_path``; returns the meta dict.

    The tokenized postings are STAGED TO PARQUET, not memory-persisted:
    finalize reads them three times (global stats, term stats, scoring),
    and a memory cache of the postings frame grows with the corpus —
    measured throughput dropped ~40% between 10M and 26M postings from
    cache pressure alone. Columnar-compressed disk staging keeps the
    build's memory footprint flat regardless of corpus size (the SPIMI
    discipline: bounded RAM, spill runs, merge from disk)."""
    _check_shard_span(shard_span)
    t0 = time.time()
    phases: dict[str, float] = {}
    # narrow single-file corpora (one parquet row group) cap the whole
    # tokenize stage at 1-2 tasks; output-invariant (the block encoder
    # sorts each (term_id, doc_group) group by doc_id)
    corpus = widen_input(corpus)
    work = os.path.join(out_path, "work", "postings", "slice=0")
    # overlap the independent corpus count+id-check with the tokenize
    # stage (guide §2.6): its one scan job back-fills executors idled
    # by the tokenize write's straggler tail; its result is taken
    # before finalize needs the count (``result()`` re-raises).
    with ThreadPoolExecutor(max_workers=1) as pool:
        count = pool.submit(_count_checking_ids, corpus, doc_id_col, group_span)
        tokenize_postings_packed(
            corpus, fields, doc_id_col, analyzer
        ).write.mode("overwrite").option("compression", "lz4").parquet(work)
        # lz4 for TRANSIENT staging: measured 1.7s vs snappy's 3.1s to
        # write 25.8M postings (read ≤3x then deleted — codec CPU, not
        # size, is what matters here; the long-lived blocks keep the
        # default codec). Explicit schema: an empty corpus writes no
        # data files, and schema inference over an empty directory fails
        postings = spark.read.schema(
            packed_postings_schema(len(fields))
        ).parquet(work)
        phases["tokenize_stage"] = time.time() - t0
        num_documents = int(count.result())
    return _finalize_index(
        spark, postings, num_documents, out_path, fields,
        doc_id_col=doc_id_col, analyzer=analyzer, block_size=block_size,
        num_buckets=num_buckets, group_span=group_span, hot_df=hot_df,
        boosts=boosts, bs=bs, k=k, corpus_path=corpus_path, t0=t0,
        shard_span=shard_span, phases=phases,
    )


def _write_blocks(
    postings: DataFrame,
    term_map: DataFrame,
    out_path: str,
    *,
    avg_field_lengths: Sequence[float],
    boosts: Sequence[float],
    bs: Sequence[float],
    k: float,
    num_documents: int,
    block_size: int,
    num_buckets: int,
    group_span: int,
    hot_df: int,
    shard_span: int,
    encode_parts: int | None,
    sink_parts: int,
    doc_lens_parts: int,
) -> dict[str, float]:
    """Stages 3-5 for one segment, the single owner of the block layout
    (full builds and delta segments both write through here): BM25-score
    the staged packed ``postings`` against ``term_map`` (``term, term_id,
    df, idf``), salt hot terms by doc range, encode blocks, re-attach
    ``term``/``term_bucket``, and write ``<out_path>/blocks`` partitioned
    by bucket plus ``<out_path>/doc_lens``.

    ``num_documents`` is the N the salting spans are cut from. Partition
    counts are the caller's: ``encode_parts`` (None leaves the encode
    shuffle to AQE; it is also the M of the encode key, which falls
    back to the session's ``spark.sql.shuffle.partitions``),
    ``sink_parts`` for the blocks files and
    ``doc_lens_parts``. Returns the ``score_encode_write`` and
    ``doc_lens_write`` walls."""
    nf = len(avg_field_lengths)
    scored = postings.join(term_map, "term").withColumn(
        "score", bm25_score_col(nf, avg_field_lengths, boosts, bs, k)
    )
    # doc-range salting for hot terms (see DEFAULT_GROUP_TARGET): groups
    # stay doc-contiguous, so a term's list is the ordered concat of its
    # groups (no re-merge)
    ngroups = F.ceil(F.col("df") / F.lit(float(group_span)))
    span = F.ceil(F.lit(float(max(num_documents, 1))) / ngroups)
    stripped = scored.withColumn(
        "doc_group",
        F.when(
            F.col("df") > F.lit(hot_df),
            F.floor(F.col("doc_id") / span).cast("long"),
        ).otherwise(F.lit(0)),
    ).drop("term", "df", "idf")
    # coarse encode key: each applyInPandas call flushes every term of
    # one (term_id mod M, doc_group) class, so the call count is ~M per
    # doc_group instead of ~the vocabulary size
    m = encode_parts or int(
        postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    term_part = F.pmod(F.col("term_id"), F.lit(m))
    if encode_parts is not None:
        # on the group keys, so it SATISFIES the groupBy's clustering
        # (no second exchange), and AQE never coalesces a user-numbered
        # shuffle
        stripped = stripped.repartition(encode_parts, term_part, "doc_group")
    blocks = (
        stripped.groupBy(term_part, "doc_group")
        .applyInPandas(
            _make_block_encoder_id(block_size, nf, shard_span),
            BLOCKS_ID_SCHEMA,
        )
        # re-attach the term string + bucket at BLOCK granularity (~1/128
        # of the posting count; AQE broadcasts the term map for small
        # vocabs, SMJ on term_id otherwise — both scale)
        .join(term_map.select("term_id", "term"), "term_id")
        .drop("term_id")
        .withColumn(
            "term_bucket",
            F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"),
        )
    )

    # per-doc field lengths (one row per doc): the LTR feature path needs
    # lengths for docs that match NO query term (the reference re-tokenizes
    # the doc on the fly for semantic-only hits — ``sea/engine.pyx:225-277``;
    # here the lengths are read back from this tiny side table instead).
    # Every posting of a doc carries identical field_lens, so F.first is
    # exact; the aggregate is one narrow shuffle on doc_id. It reads only
    # the STAGED postings, independent of the encode — submitted from a
    # thread so its jobs back-fill executors during the encode/write's
    # straggler tail (guide §2.6).
    def write_doc_lens() -> float:
        t = time.time()
        postings.groupBy("doc_id").agg(
            *[F.first(f"fl_{f}").alias(f"fl_{f}") for f in range(nf)]
        ).repartition(doc_lens_parts).write.mode("overwrite").parquet(
            os.path.join(out_path, "doc_lens")
        )
        return time.time() - t

    with ThreadPoolExecutor(max_workers=1) as pool:
        doc_lens = pool.submit(write_doc_lens)
        t = time.time()
        (
            blocks.repartition(sink_parts, "term_bucket")
            # led by the partitionBy column, or the write's own sort on
            # term_bucket replaces this one and files keep shuffle order
            .sortWithinPartitions("term_bucket", "term", "first_doc")
            .select(*[c.split()[0] for c in BLOCKS_SCHEMA.split(", ")], "term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(out_path, "blocks"))
        )
        walls = {"score_encode_write": time.time() - t}
        # own wall of the overlapped job (hidden inside the encode wall
        # unless it outlasted it)
        walls["doc_lens_write"] = doc_lens.result()
    return walls


def _finalize_index(
    spark: SparkSession,
    postings: DataFrame,
    num_documents: int,
    out_path: str,
    fields: Sequence[str],
    doc_id_col: str,
    analyzer: str,
    block_size: int,
    num_buckets: int,
    group_span: int,
    hot_df: int,
    boosts: Sequence[float] | None,
    bs: Sequence[float] | None,
    k: float,
    corpus_path: str | None,
    t0: float,
    extra_meta: dict | None = None,
    shard_span: int = DEFAULT_WAND_SHARD_SPAN,
    phases: dict[str, float] | None = None,
) -> dict:
    """Stats + score + block-encode + sink from a postings frame
    (shared by the one-shot, the checkpoint-resumable and the streaming
    builds). ``phases`` holds the calling build's walls so far; this
    call adds its own, and ``meta["phase_walls"]`` reports them."""
    phases = {} if phases is None else phases
    nf = len(fields)
    if boosts is None or bs is None:
        d_boosts, d_bs = default_field_params(nf)
        boosts = boosts or d_boosts
        bs = bs or d_bs

    _t = time.time()
    glob = postings.agg(
        F.count(F.lit(1)).alias("num_postings"),
        *[F.sum(f"ff_{f}").alias(f"len_{f}") for f in range(nf)],
    ).collect()[0]
    phases["global_stats"] = time.time() - _t
    num_postings = glob["num_postings"] or 0
    avg_field_lengths = [
        (glob[f"len_{f}"] or 0) / num_documents if num_documents else 0.0
        for f in range(nf)
    ]

    # term stats are written FIRST (with a dense term_id from
    # monotonically_increasing_id, which is only stable once pinned to
    # parquet) and read back: the wide shuffle + Arrow crossing below
    # then carry term_id longs instead of per-posting strings
    _t = time.time()
    term_stats_plan = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "idf",
            F.log(
                (F.lit(float(num_documents)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn("term_id", F.monotonically_increasing_id())
        .withColumn(
            "term_bucket",
            F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"),
        )
    )
    term_stats_plan.repartition(max(1, num_buckets // 8)).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_path, "term_stats"))
    term_stats = load_term_stats(spark, out_path)
    phases["term_stats_write"] = time.time() - _t

    # Size the ENCODE shuffle (and the encode key's M) from the MEASURED
    # staged postings: the stage costs per ROW, so byte-based sizing — the
    # session default or AQE's advisory over compact binary rows —
    # undersizes it as the corpus grows (46.5M postings / local[32]: 505k
    # postings/s at 64 tasks -> 800k at 128; AQE initialPartitionNum re-
    # coalesced and did not help).
    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        min(4096, -(-int(num_postings) // ENCODE_POSTINGS_PER_TASK)),
    )
    phases.update(_write_blocks(
        postings,
        term_stats.select("term", "term_id", "df", "idf"),
        out_path,
        avg_field_lengths=avg_field_lengths, boosts=boosts, bs=bs, k=k,
        num_documents=num_documents, block_size=block_size,
        num_buckets=num_buckets, group_span=group_span, hot_df=hot_df,
        shard_span=shard_span, encode_parts=n_parts,
        sink_parts=num_buckets, doc_lens_parts=max(1, num_buckets // 8),
    ))

    # per-shard lineage manifest (B9 / north rule: resumability + metrics);
    # its scan is the build's last job, so it runs before the wall is read
    _t = time.time()
    shard_rows = (
        load_blocks(spark, out_path)
        .groupBy("term_bucket")
        .agg(
            F.count(F.lit(1)).alias("num_blocks"),
            F.sum("count").alias("num_postings"),
            F.countDistinct("term").alias("num_terms"),
        )
        .collect()
    )
    phases["manifest"] = time.time() - _t

    wall = time.time() - t0
    meta = {
        "num_documents": int(num_documents),
        "num_postings": int(num_postings),
        "num_fields": nf,
        "fields": list(fields),
        "avg_field_lengths": avg_field_lengths,
        "bm25_k": k,
        "field_boosts": list(boosts),
        "bm25_bs": list(bs),
        "analyzer": analyzer,
        "block_size": block_size,
        "num_buckets": num_buckets,
        "group_span": group_span,
        "hot_df": hot_df,
        "wand_shard_span": shard_span,
        "doc_id_col": doc_id_col,
        "corpus_path": corpus_path,
        "build_wall_sec": wall,
        "postings_per_sec": (num_postings / wall) if wall > 0 else None,
        "phase_walls": {k_: round(v, 3) for k_, v in phases.items()},
        **(extra_meta or {}),
    }
    with open(os.path.join(out_path, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=2)

    manifest = {
        "built_at_unix": int(t0),
        "wall_sec": wall,
        "source": corpus_path,
        "source_fingerprint": hashlib.sha256(
            json.dumps([corpus_path, int(num_documents)]).encode()
        ).hexdigest(),
        "shards": sorted(
            (
                {
                    "term_bucket": r["term_bucket"],
                    "num_blocks": r["num_blocks"],
                    "num_postings": int(r["num_postings"]),
                    "num_terms": r["num_terms"],
                }
                for r in shard_rows
            ),
            key=lambda s: s["term_bucket"],
        ),
    }
    with open(os.path.join(out_path, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return meta


def build_index_resumable(
    spark: SparkSession,
    corpus: DataFrame,
    out_path: str,
    fields: Sequence[str],
    num_slices: int = 8,
    max_slices: int | None = None,
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    group_span: int = DEFAULT_GROUP_TARGET,
    hot_df: int = DEFAULT_HOT_DF,
    boosts: Sequence[float] | None = None,
    bs: Sequence[float] | None = None,
    k: float = REF_K,
    corpus_path: str | None = None,
    shard_span: int = DEFAULT_WAND_SHARD_SPAN,
) -> dict | None:
    """Checkpoint-resumable build (north rule; the distributed analog of
    the reference's byte-offset resume, ``sea/corpus.pyx:224-227``).

    Phase A — the corpus is split into ``num_slices`` deterministic
    hash slices of ``doc_id``; each slice's tokenized postings are
    written to ``<out>/work/postings/slice=<i>`` and then a checkpoint
    manifest ``<out>/work/checkpoints/slice_<i>.json`` (lineage: source,
    predicate, doc/posting counts, wall sec, postings/sec). The manifest
    is written strictly AFTER the parquet commit, so a crash leaves
    either a complete checkpointed slice or a re-runnable one — on
    restart, checkpointed slices are skipped (tokenization is the
    dominant cost at scale, so completed work is never repaid).

    Phase B — once all slices are checkpointed, finalize (stats, BM25,
    block encode, sink) from the materialized slice postings. Finalize
    is a deterministic pure function of the slices and simply reruns if
    interrupted.

    ``max_slices`` processes at most that many pending slices then
    returns None (used by tests to simulate a crash; a production
    driver-retry loop just calls this function again).
    """
    _check_shard_span(shard_span)
    work = os.path.join(out_path, "work")
    ckpt_dir = os.path.join(work, "checkpoints")
    os.makedirs(ckpt_dir, exist_ok=True)
    t0 = time.time()

    # resuming with a DIFFERENT num_slices would skip checkpoints cut
    # with the old pmod layout while Phase B reads the whole postings
    # parent dir — duplicated/missing docs with no error. Refuse: the
    # slice predicate recorded in each checkpoint must match this run's
    # layout, and no staged slice dir may fall outside it.
    want_mod = f"pmod({doc_id_col}, {num_slices})"
    for e in sorted(os.listdir(ckpt_dir)):
        if not (e.startswith("slice_") and e.endswith(".json")):
            continue
        with open(os.path.join(ckpt_dir, e)) as fh:
            prev = json.load(fh)
        if want_mod not in prev.get("predicate", want_mod):
            raise ValueError(
                f"build_index_resumable: checkpoint {e} was cut with "
                f"predicate {prev.get('predicate')!r}, incompatible "
                f"with num_slices={num_slices}; resume with the "
                "original num_slices or clear the work dir"
            )
    pdir = os.path.join(work, "postings")
    if os.path.isdir(pdir):
        stale = [
            e for e in os.listdir(pdir)
            if e.startswith("slice=")
            and not 0 <= int(e.split("=", 1)[1]) < num_slices
        ]
        if stale:
            raise ValueError(
                f"build_index_resumable: staged slice dirs {stale} fall "
                f"outside num_slices={num_slices}; resume with the "
                "original num_slices or clear the work dir"
            )

    done = 0
    for i in range(num_slices):
        ck_path = os.path.join(ckpt_dir, f"slice_{i}.json")
        if os.path.exists(ck_path):
            continue
        if max_slices is not None and done >= max_slices:
            return None
        ts = time.time()
        predicate = f"pmod({doc_id_col}, {num_slices}) = {i}"
        part = widen_input(corpus.where(F.expr(predicate)))
        slice_postings = tokenize_postings_packed(
            part, fields, doc_id_col, analyzer
        )
        slice_path = os.path.join(work, "postings", f"slice={i}")
        slice_postings.write.mode("overwrite").option(
            "compression", "lz4"
        ).parquet(slice_path)
        num_docs = _count_checking_ids(part, doc_id_col, group_span)
        # explicit schema: a zero-doc slice writes no data files and
        # schema inference over the empty dir fails
        num_postings = spark.read.schema(
            packed_postings_schema(len(fields))
        ).parquet(slice_path).count()
        wall = time.time() - ts
        ck = {
            "slice": i,
            "predicate": predicate,
            "source": corpus_path,
            "analyzer": analyzer,
            "fields": list(fields),
            "num_docs": int(num_docs),
            "num_postings": int(num_postings),
            "wall_sec": wall,
            "postings_per_sec": (num_postings / wall) if wall > 0 else None,
            "completed_at_unix": int(time.time()),
        }
        # checkpoint AFTER the data commit (atomicity boundary)
        with open(ck_path + ".tmp", "w") as fh:
            json.dump(ck, fh, indent=2)
        os.replace(ck_path + ".tmp", ck_path)
        done += 1

    # Phase B: all slices checkpointed -> finalize
    ckpts = []
    for i in range(num_slices):
        with open(os.path.join(ckpt_dir, f"slice_{i}.json")) as fh:
            ckpts.append(json.load(fh))
    num_documents = sum(c["num_docs"] for c in ckpts)
    # explicit schema: an empty corpus writes no data files under any
    # slice, and schema inference over an empty directory fails (the
    # same guard build_index's staged read has)
    postings = spark.read.schema(
        packed_postings_schema(len(fields))
    ).parquet(os.path.join(work, "postings"))
    return _finalize_index(
        spark, postings, num_documents, out_path, fields,
        doc_id_col=doc_id_col, analyzer=analyzer, block_size=block_size,
        num_buckets=num_buckets, group_span=group_span, hot_df=hot_df,
        boosts=boosts, bs=bs, k=k, corpus_path=corpus_path, t0=t0,
        shard_span=shard_span,
        extra_meta={
            "resumable": True,
            "num_slices": num_slices,
            "slice_checkpoints": ckpts,
        },
    )


def load_meta(index_path: str) -> dict:
    with open(os.path.join(index_path, "meta.json")) as fh:
        return json.load(fh)


def load_blocks(spark: SparkSession, index_path: str) -> DataFrame:
    # explicit schema so indexes over empty corpora stay queryable;
    # delta segments (add_docs) union in as homogeneous block tables —
    # per-branch scans keep their own bucket/term pushdown
    schema = BLOCKS_SCHEMA + ", term_bucket int"
    out = spark.read.schema(schema).parquet(os.path.join(index_path, "blocks"))
    for d in _delta_dirs(index_path):
        out = out.unionByName(
            spark.read.schema(schema).parquet(os.path.join(d, "blocks"))
        )
    return out


def load_term_stats(spark: SparkSession, index_path: str) -> DataFrame:
    return spark.read.schema(
        "term string, df long, idf double, term_id long, term_bucket int"
    ).parquet(os.path.join(index_path, "term_stats"))


def load_doc_lens(
    spark: SparkSession,
    index_path: str,
    num_fields: int,
    include_deltas: bool = True,
) -> DataFrame:
    """(doc_id, fl_0..fl_{nf-1}) side table written by the build; docs
    with zero postings (all-empty fields) have no row — readers coalesce
    missing lengths to 0, matching the tokenizer's empty-field length."""
    cols = ", ".join(f"fl_{f} int" for f in range(num_fields))
    schema = f"doc_id long, {cols}"
    out = spark.read.schema(schema).parquet(os.path.join(index_path, "doc_lens"))
    if include_deltas:
        for d in _delta_dirs(index_path):
            out = out.unionByName(
                spark.read.schema(schema).parquet(os.path.join(d, "doc_lens"))
            )
    return out


def load_delta_term_stats(
    spark: SparkSession, index_path: str
) -> DataFrame | None:
    """Union of the delta segments' frozen-stats term maps (None when no
    deltas). Schema ``term, df_local, idf, term_id``: ``df_local`` is the
    segment-local document frequency; ``idf`` is the FROZEN value the
    segment scored with (base idf for known terms, the df=0 idf for
    terms unseen at the last compaction)."""
    dirs = _delta_dirs(index_path)
    if not dirs:
        return None
    schema = "term string, df_local long, idf double, term_id long"
    out = spark.read.schema(schema).parquet(os.path.join(dirs[0], "term_stats"))
    for d in dirs[1:]:
        out = out.unionByName(
            spark.read.schema(schema).parquet(os.path.join(d, "term_stats"))
        )
    return out


def load_delta_doc_lens(
    spark: SparkSession, index_path: str, num_fields: int
) -> DataFrame | None:
    """Delta segments' doc_lens only (None when no deltas)."""
    dirs = _delta_dirs(index_path)
    if not dirs:
        return None
    cols = ", ".join(f"fl_{f} int" for f in range(num_fields))
    schema = f"doc_id long, {cols}"
    out = spark.read.schema(schema).parquet(os.path.join(dirs[0], "doc_lens"))
    for d in dirs[1:]:
        out = out.unionByName(
            spark.read.schema(schema).parquet(os.path.join(d, "doc_lens"))
        )
    return out


# ------------------------------------------------------------- maintenance
#
# The reference index is immutable once built (sea/indexer.pyx has no
# delete path). Real corpora churn, so the repo adds the standard
# log-structured maintenance pair: tombstone deletes that mask docs at
# query time without touching the posting blocks (scores keep the
# build-time IDF/avgdl — exactly Lucene's deleted-docs semantics until a
# merge), and a compaction that rebuilds fresh statistics from the
# surviving corpus. Tombstones are a tiny parquet table under the index
# dir; at cluster scale they broadcast into an anti-join (bytes, not a
# shuffle).


def delete_docs(spark: SparkSession, index_path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (iterable of ints or a 1-column DataFrame).
    Append-only and idempotent at read time (readers dedupe); returns
    the number of ids written.

    Deleting an in-place-UPDATED doc additionally retires its id from
    ``updated_ids`` — its tombstone (written at update time) must become
    a genuine delete, or the serving arm would keep resurrecting the
    delta version. The rewrite collects the list (bounded: in-place
    updates between compactions are capped at fast-path scale by
    design) and fails CLOSED on a crash (a torn updated_ids masks docs,
    never double-serves)."""
    if isinstance(doc_ids, DataFrame):
        # pin the caller's plan: it is re-executed for the count, the
        # tombstone write, the updated_ids probe and the retirement
        # anti-join below, and a non-deterministic input (unpinned
        # limit/sample) would desynchronize tombstones from retirement
        df = doc_ids.select(
            F.col(doc_ids.columns[0]).cast("long").alias("doc_id")
        ).localCheckpoint()
    else:
        ids = [(int(d),) for d in doc_ids]
        df = spark.createDataFrame(ids, "doc_id long")
    n = df.count()
    df.coalesce(1).write.mode("append").parquet(
        os.path.join(index_path, "tombstones")
    )
    upd = load_updated_ids(spark, index_path)
    if upd is not None and upd.join(df, "doc_id", "inner").limit(1).count():
        remaining = [
            (r["doc_id"],)
            for r in upd.join(df, "doc_id", "left_anti").collect()
        ]
        upd_path = os.path.join(index_path, "updated_ids")
        import shutil

        if remaining:
            spark.createDataFrame(remaining, "doc_id long").coalesce(
                1
            ).write.mode("overwrite").parquet(upd_path)
        else:
            shutil.rmtree(upd_path)
    return n


def load_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Deduped tombstones, or None when the index has none."""
    path = os.path.join(index_path, "tombstones")
    if not os.path.exists(path):
        return None
    return spark.read.schema("doc_id long").parquet(path).distinct()


def compact_index(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    corpus: DataFrame | None = None,
    stage_corpus_as: str | None = None,
    **build_kwargs,
) -> dict:
    """Rebuild ``index_path`` minus its tombstones into ``out_path`` with
    FRESH corpus statistics (df/idf/avgdl recomputed over the survivors —
    the semantic difference from the tombstone mask, which keeps stale
    stats). ``corpus`` defaults to re-reading the manifest's source
    parquet; build parameters default to the old index's meta.

    ``stage_corpus_as``: when set, the SURVIVING corpus (base minus
    tombstones plus delta rows — which the original source parquet does
    not contain) is staged to ``<out_path>/source_corpus`` and the new
    manifest's ``corpus_path`` records ``stage_corpus_as`` — the path
    that dir will live at when the caller swaps the index into place
    (``compact_in_place`` passes the FINAL serving path). Without it the
    manifest keeps the old source path, whose rows go stale the moment
    deltas were folded in — ``current_corpus``/snippets on the compacted
    index would then miss every delta-added doc."""
    _recover_merge(index_path)
    meta = load_meta(index_path)
    if corpus is None:
        src = meta.get("corpus_path")
        if not src or not os.path.exists(src):
            raise ValueError(
                "compact_index needs `corpus` (manifest has no readable "
                f"corpus_path: {src!r})"
            )
        corpus = spark.read.parquet(src)
    # Tombstone scoping per arm: the FULL tombstone set masks the base
    # corpus (deletes + in-place-updated docs' old versions), but only
    # DEAD ids (tombstones minus updated ids) mask the delta-staged rows
    # — an updated doc's new version lives there and must survive.
    id_col = meta.get("doc_id_col", "doc_id")
    tomb = load_tombstones(spark, index_path)
    if tomb is not None:
        corpus = corpus.join(
            F.broadcast(tomb.withColumnRenamed("doc_id", id_col)),
            id_col,
            "left_anti",
        )
    deltas = _delta_dirs(index_path)
    if deltas:
        delta_corpus = spark.read.parquet(os.path.join(deltas[0], "corpus"))
        for d in deltas[1:]:
            delta_corpus = delta_corpus.unionByName(
                spark.read.parquet(os.path.join(d, "corpus")),
                allowMissingColumns=True,
            )
        if tomb is not None:
            upd = load_updated_ids(spark, index_path)
            dead = (
                tomb if upd is None else tomb.join(upd, "doc_id", "left_anti")
            )
            delta_corpus = delta_corpus.join(
                F.broadcast(dead.withColumnRenamed("doc_id", id_col)),
                id_col,
                "left_anti",
            )
        corpus = corpus.unionByName(delta_corpus, allowMissingColumns=True)
    kwargs = dict(
        fields=meta["fields"],
        analyzer=meta.get("analyzer", "reference"),
        block_size=meta.get("block_size", DEFAULT_BLOCK_SIZE),
        num_buckets=meta.get("num_buckets", DEFAULT_NUM_BUCKETS),
        doc_id_col=meta.get("doc_id_col", "doc_id"),
        corpus_path=meta.get("corpus_path"),
        group_span=meta.get("group_span", DEFAULT_GROUP_TARGET),
        hot_df=meta.get("hot_df", DEFAULT_HOT_DF),
        # a legacy meta (no span) gets the shard-aligned layout
        shard_span=meta.get("wand_shard_span") or DEFAULT_WAND_SHARD_SPAN,
    )
    if meta.get("field_boosts"):
        kwargs["boosts"] = meta["field_boosts"]
    if meta.get("bm25_bs"):
        kwargs["bs"] = meta["bm25_bs"]
    if meta.get("bm25_k") is not None:
        kwargs["k"] = meta["bm25_k"]
    kwargs.update(build_kwargs)
    if stage_corpus_as is not None:
        staged = os.path.join(out_path, "source_corpus")
        corpus.write.mode("overwrite").parquet(staged)
        corpus = spark.read.parquet(staged)
        kwargs["corpus_path"] = os.path.join(stage_corpus_as, "source_corpus")
    return build_index(spark, corpus, out_path, **kwargs)


# staging dir for an in-flight delta-tier rebuild. Deliberately OUTSIDE
# the numeric delta_* namespace: live-ingest segments are numbered
# LIVE_SEGMENT_BASE + batch_id with no upper bound, so ANY reserved
# numeric slot could eventually collide with a real segment (and a
# recovery pass would then delete live data); a name the delta glob
# cannot match never can.
_MERGE_TMP_RELDIR = os.path.join("work", "merge_tmp_segment")

# live-ingest segments are numbered LIVE_SEGMENT_BASE + batch_id
# (streaming/ingest.py imports this); manual add_docs slots allocate
# strictly below it so the two namespaces can never collide.
LIVE_SEGMENT_BASE = 10_000


def _next_delta_segment(index_path: str) -> int:
    """Next free MANUAL delta slot: one past the highest existing
    sub-live numeric segment id. Never ``len(dirs)`` — explicit-segment
    replays and crash protocols leave holes in the numbering, and a
    count would then re-use (i.e. silently OVERWRITE with
    ``mode('overwrite')``) the highest live slot; and live-ingest dirs
    in the listing would push a count into the live namespace."""
    ids = []
    for d in _delta_dirs(index_path):
        try:
            n = int(os.path.basename(d).split("_", 1)[1])
        except ValueError:
            continue
        if n < LIVE_SEGMENT_BASE:
            ids.append(n)
    nxt = max(ids) + 1 if ids else 0
    if nxt >= LIVE_SEGMENT_BASE:
        raise ValueError(
            f"add_docs: manual delta slots exhausted (next slot {nxt} "
            f"reaches the live-ingest namespace >= {LIVE_SEGMENT_BASE}); "
            "run compact_index or pass an explicit segment"
        )
    return nxt


def _delta_dirs(
    index_path: str, include_uncommitted: bool = False
) -> list[str]:
    """Ordered COMMITTED delta-segment dirs under the index (empty when
    none). ``meta.json`` is each segment's commit marker — ``add_docs``
    writes it LAST, so a dir without one is a torn mid-stage crash:
    invisible here, it can't break serving or ``load_delta_metas``, and
    ``_next_delta_segment`` (which also only counts committed dirs)
    hands the SAME slot to the at-least-once replay, whose per-subdir
    ``mode('overwrite')`` writes heal the residue — the same
    self-healing contract live ingest relies on. An in-flight rebuild's
    staging dir lives under ``work/`` and is structurally invisible
    too — no crash state can serve the merged copy alongside the dirs
    it was built from (which would double-score every delta doc).

    ``include_uncommitted=True`` lists torn dirs as well — for fsck
    (which names them) and the destructive merge-commit removal loops
    (which must not leave them behind)."""
    import glob as _glob

    dirs = sorted(_glob.glob(os.path.join(index_path, "delta_[0-9]*")))
    if include_uncommitted:
        return dirs
    return [
        d for d in dirs if os.path.exists(os.path.join(d, "meta.json"))
    ]


def _recover_merge(index_path: str) -> None:
    """Finish or roll back a crashed ``_rebuild_deltas``. The commit
    marker (written AFTER the staged segment is complete, removed after
    the rename) decides which: marker present -> the merge was
    committed, finish it; marker absent -> the staging dir is
    uncommitted scratch, drop it (the old dirs are still authoritative
    and intact). The marker's CONTENT distinguishes the two committed
    shapes: ``empty`` means exclusion emptied the tier (remove every
    delta dir, nothing staged — a crash mid-removal must not leave a
    partial tier of stale excluded rows behind a live ``updated_ids``);
    anything else is the normal swap (remove old dirs, move the staged
    segment to slot 0 — but only while the staged segment still exists:
    a crash between the rename and the marker removal leaves the
    committed ``delta_00000`` in place and nothing else to do)."""
    import shutil

    tmp = os.path.join(index_path, _MERGE_TMP_RELDIR)
    marker = os.path.join(index_path, "work", "merge_commit")
    if os.path.exists(marker):
        with open(marker) as fh:
            mode = fh.read().strip()
        if mode == "empty":
            for d in _delta_dirs(index_path, include_uncommitted=True):
                shutil.rmtree(d)
        elif os.path.exists(os.path.join(tmp, "meta.json")):
            for d in _delta_dirs(index_path, include_uncommitted=True):
                shutil.rmtree(d)
            os.rename(tmp, os.path.join(index_path, "delta_00000"))
        os.remove(marker)
        shutil.rmtree(
            os.path.join(index_path, "work", "merge_corpus"),
            ignore_errors=True,
        )
    elif os.path.exists(tmp):
        shutil.rmtree(tmp)


# new delta-local term ids live far above any base term_stats id
# (monotonically_increasing_id = partition_id * 2^33 + row stays far
# below 2^61 at any realistic partition count)
_DELTA_TERM_ID_OFFSET = 1 << 61


def add_docs(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    check_ids: bool = True,
    segment: int | None = None,
    out_dir: str | None = None,
) -> dict:
    """Append ``new_docs`` as a delta segment with FROZEN-STATS scoring.

    Lucene-style incremental adds adapted to baked per-posting scores:
    the world statistics (N, avgdl, per-term idf) stay frozen at the
    last full build/compaction — delta postings of known terms reuse the
    base idf, unseen terms score with the df=0 idf ln((N+0.5)/0.5), and
    survivors' scores never move. Symmetric with ``delete_docs``
    (whose survivors also keep stale stats); ``compact_index`` folds all
    deltas + tombstones into a fresh-stats rebuild. The delta reuses the
    base build's exact kernels (packed tokenizer, term_id block encoder,
    shard-aligned blocks), so query paths see one homogeneous block
    table — the union of base + delta scans with the same pushdown.

    ``check_ids`` rejects doc_ids that already exist (adds are inserts;
    express updates as delete + compact). ``out_dir`` overrides the
    on-disk location (used only by ``_rebuild_deltas`` to stage its
    merge OUTSIDE the servable ``delta_*`` namespace); when set,
    recovery is skipped — the rebuild IS the recovery-protected
    operation. Returns the delta's meta."""
    if out_dir is None:
        _recover_merge(index_path)
    meta = load_meta(index_path)
    fields = meta["fields"]
    nf = len(fields)
    id_col = meta.get("doc_id_col", "doc_id")
    # explicit segment ids make replays IDEMPOTENT (a re-run of the same
    # streaming micro-batch overwrites its own delta instead of
    # appending a duplicate) — the live-ingest path keys this on the
    # Structured Streaming batch_id
    seg = _next_delta_segment(index_path) if segment is None else int(segment)
    out = out_dir or os.path.join(index_path, f"delta_{seg:05d}")

    if check_ids:
        # doc_lens alone misses zero-posting docs (an all-empty-fields
        # row writes no posting, hence no doc_lens row — see
        # load_doc_lens) — union the staged corpus ids so such an id
        # cannot be re-added and double-appear in current_corpus
        existing = load_doc_lens(spark, index_path, nf).select("doc_id")
        src = meta.get("corpus_path")
        if src and os.path.exists(src):
            existing = existing.union(
                spark.read.parquet(src).select(
                    F.col(id_col).cast("long").alias("doc_id")
                )
            )
        for d in _delta_dirs(index_path):
            cp = os.path.join(d, "corpus")
            if os.path.exists(cp):
                existing = existing.union(
                    spark.read.parquet(cp).select(
                        F.col(id_col).cast("long").alias("doc_id")
                    )
                )
        dup = (
            new_docs.select(F.col(id_col).cast("long").alias("doc_id"))
            .join(existing, "doc_id", "left_semi")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "add_docs: some doc_ids already exist in the index; "
                "updates are delete_docs + compact_index"
            )

    # stage the raw rows (compaction re-reads them; also pins the input)
    new_docs.write.mode("overwrite").parquet(os.path.join(out, "corpus"))
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    group_span = meta.get("group_span", DEFAULT_GROUP_TARGET)
    # before any derived table is written: a bad id then leaves a torn
    # dir with no blocks/ and no meta.json (invisible to serving)
    num_documents = _count_checking_ids(corpus, id_col, group_span)

    work = os.path.join(out, "work", "postings")
    tokenize_postings_packed(
        corpus, fields, id_col, meta.get("analyzer", "reference")
    ).write.mode("overwrite").option("compression", "lz4").parquet(work)
    postings = spark.read.schema(packed_postings_schema(nf)).parquet(work)

    # frozen-stats term map, PINNED to parquet before reuse (new term_ids
    # come from monotonically_increasing_id, only stable once written)
    import math as _math

    n_base = meta["num_documents"]
    idf0 = _math.log((n_base + 0.5) / 0.5)
    base_stats = load_term_stats(spark, index_path)
    tmap_plan = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_local"))
        .join(base_stats.select("term", "idf", "term_id"), "term", "left")
        .select(
            "term",
            "df_local",
            F.coalesce("idf", F.lit(idf0)).alias("idf"),
            F.coalesce(
                "term_id",
                F.monotonically_increasing_id() + F.lit(_DELTA_TERM_ID_OFFSET),
            ).alias("term_id"),
        )
    )
    tmap_plan.repartition(1).write.mode("overwrite").parquet(
        os.path.join(out, "term_stats")
    )
    tmap = spark.read.schema(
        "term string, df_local long, idf double, term_id long"
    ).parquet(os.path.join(out, "term_stats"))

    num_buckets = meta["num_buckets"]
    _write_blocks(
        postings,
        tmap.select("term", "term_id", F.col("df_local").alias("df"), "idf"),
        out,
        avg_field_lengths=meta["avg_field_lengths"],
        boosts=meta["field_boosts"], bs=meta["bm25_bs"], k=meta["bm25_k"],
        num_documents=n_base,
        block_size=meta.get("block_size", DEFAULT_BLOCK_SIZE),
        num_buckets=num_buckets, group_span=group_span,
        hot_df=meta.get("hot_df", DEFAULT_HOT_DF),
        shard_span=meta.get("wand_shard_span") or DEFAULT_WAND_SHARD_SPAN,
        # a delta is small: AQE sizes its encode shuffle, and it writes
        # fewer files than the base
        encode_parts=None, sink_parts=max(1, num_buckets // 8),
        doc_lens_parts=1,
    )
    delta_meta = {
        "segment": seg,
        "num_documents": num_documents,
        "num_postings": int(postings.count()),
        "base_num_documents": n_base,
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(delta_meta, fh, indent=2)
    return delta_meta


def load_base_blocks(spark: SparkSession, index_path: str) -> DataFrame:
    """The base index's blocks only (no delta segments)."""
    schema = BLOCKS_SCHEMA + ", term_bucket int"
    return spark.read.schema(schema).parquet(os.path.join(index_path, "blocks"))


def load_delta_blocks(spark: SparkSession, index_path: str) -> DataFrame:
    """Union of all delta segments' blocks (raises when no deltas —
    callers guard on ``load_delta_metas``/``load_updated_ids``)."""
    schema = BLOCKS_SCHEMA + ", term_bucket int"
    dirs = _delta_dirs(index_path)
    if not dirs:
        raise ValueError(f"no delta segments under {index_path}")
    out = spark.read.schema(schema).parquet(os.path.join(dirs[0], "blocks"))
    for d in dirs[1:]:
        out = out.unionByName(
            spark.read.schema(schema).parquet(os.path.join(d, "blocks"))
        )
    return out


def load_updated_ids(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Deduped in-place-updated doc ids, or None (the common case)."""
    path = os.path.join(index_path, "updated_ids")
    if not os.path.exists(path):
        return None
    return spark.read.schema("doc_id long").parquet(path).distinct()


def update_docs(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    segment: int | None = None,
) -> dict:
    """In-place document update under the SAME doc_id — the composition
    the frozen-stats model admits without a stats refresh:

    1. tombstone the ids (masks the OLD version's base postings — and,
       because the mask is by doc_id, the new version's too);
    2. ``add_docs`` the new rows as a delta segment (frozen base
       idf/avgdl, same encode kernels);
    3. record the ids in an ``updated_ids`` side list. Serving
       (``SearchEngine``) resurrects the new version by unioning the
       masked main arm with a DELTA-ONLY compiled arm semi-joined to
       this list — exact, because an updated doc's current postings
       live entirely in delta segments.

    Ids may live in EITHER tier:
    * base-resident ids take the tombstone + delta + updated_ids flow;
    * delta-resident ids (docs added via ``add_docs`` after the last
      compaction) need no tombstone at all — their old version is
      retired PHYSICALLY by the same targeted delta-tier rebuild that
      re-updates use, and the new version serves through the unified
      blocks like any other delta add. (If such an id was also
      tombstoned — added, deleted, now upserted back — it additionally
      joins ``updated_ids`` so the resurrection arm overrides the
      mask.)
    Unknown ids (in neither tier) raise. Updating a tombstoned
    (deleted) base id RESURRECTS it with the new content — upsert
    semantics, which also makes crashed-update replay idempotent (the
    tombstone-only crash state looks like a deletion).

    An id MAY be updated repeatedly between compactions: a re-update
    first retires the previous delta version through a targeted
    delta-tier rebuild (``_rebuild_deltas`` with the re-updated ids
    excluded — frozen stats, so every surviving delta doc's score is
    bit-identical), then runs the normal flow; serving never sees more
    than one live version per id.

    ``compact_index`` already folds updates correctly with no special
    casing: tombstones drop the old version from the source corpus, the
    delta's staged rows contribute the new one, and the fresh build has
    no ``updated_ids``. Pass ``segment`` for idempotent replay of a
    crashed update (delete/add/updated_ids are each idempotent)."""
    _recover_merge(index_path)
    meta = load_meta(index_path)
    id_col = meta.get("doc_id_col", "doc_id")
    nf = len(meta["fields"])
    ids = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).distinct()

    base_lens = spark.read.schema(
        f"doc_id long, {', '.join(f'fl_{f} int' for f in range(nf))}"
    ).parquet(os.path.join(index_path, "doc_lens"))
    # ids with rows PHYSICALLY staged anywhere in the delta tier — the
    # ground truth for what must be retired before re-staging. Deriving
    # retirement from updated_ids/base residency instead is wrong: a
    # base doc that was updated, then deleted (delete_docs retires it
    # from updated_ids but leaves its delta rows masked), then upserted
    # here would keep its STALE delta version alive — the resurrection
    # arm then double-serves both versions (old text searchable, the
    # doc twice in one top-k).
    staged = None
    for d in _delta_dirs(index_path):
        part = spark.read.parquet(os.path.join(d, "corpus")).select(
            F.col(id_col).cast("long").alias("doc_id")
        )
        staged = part if staged is None else staged.unionByName(part)
    delta_ids = None
    not_in_base = ids.join(base_lens, "doc_id", "left_anti")
    if not_in_base.limit(1).count():
        # ids outside the base must be delta-resident (added after the
        # last compaction) — anything else is unknown and raises
        missing = (
            not_in_base if staged is None
            else not_in_base.join(staged, "doc_id", "left_anti")
        )
        if missing.limit(1).count():
            if segment is None:
                raise ValueError(
                    "update_docs: some doc_ids exist in neither the base "
                    "index nor any delta segment — new docs are add_docs"
                )
            # explicit `segment` == the documented crash-replay protocol:
            # a delta-resident update whose previous attempt retired the
            # old version (tier rebuild) but died before the new segment
            # landed leaves the ids temporarily in NEITHER tier (the
            # fail-closed state). Re-stage them as plain delta rows —
            # the old version is already physically gone, so no
            # tombstone/arm is needed.
        delta_ids = not_in_base.localCheckpoint()
    # A tombstoned-but-not-updated id is NOT rejected: updating it
    # resurrects the doc with the new content (upsert semantics — the
    # existing tombstone keeps masking the old base version, the delta
    # carries the new one, updated_ids flips the resurrection arm on).
    # This is also what makes replaying a CRASHED update idempotent:
    # the crash state "tombstone written, delta/updated_ids missing" is
    # indistinguishable from a deletion, and the replay must proceed.
    retire = None  # ids whose stale delta rows must be retired
    if staged is not None:
        retire = ids.join(staged, "doc_id", "left_semi")
        if retire.limit(1).count():
            retire = retire.localCheckpoint()  # pin before the rewrite
        else:
            retire = None
    if retire is not None:
        # Retire stale delta versions via a targeted delta-tier rebuild
        # that excludes them (frozen stats — every other delta doc's
        # score is bit-identical; cost bounded by the delta tier, the
        # base index is untouched). After it each retired id has ZERO
        # delta versions, so the one-version-per-id flow below applies
        # unchanged and the serving arm stays a single delta-wide
        # compile. Covers both RE-updates (old version = a previous
        # update's delta) and updates of delta-ADDED docs (old version
        # = the original add — no tombstone involved at all).
        _rebuild_deltas(
            spark, index_path, _delta_dirs(index_path), exclude_ids=retire
        )

    # Crash ordering: tombstone FIRST, delta second, updated_ids last —
    # every intermediate state fails CLOSED (serves at most one version):
    #   after step 1 alone: doc appears deleted (masked everywhere);
    #   after 1+2: still masked (no updated_ids -> no resurrection arm);
    #   after all 3: the update is live. The reverse order (delta before
    #   tombstone) would double-score the doc (old base + new delta both
    #   unmasked) between the steps. updated_ids must stay last: it is
    #   the switch that turns the delta-only arm on, and the arm's
    #   source (the delta segment) has to exist before it flips.
    # Replay of a crashed update (same `segment`) is idempotent: the
    # tombstone append dedupes at read, add_docs overwrites the slot,
    # the updated_ids append dedupes at read.
    # Only BASE-resident ids tombstone (their old version is masked,
    # not removed); delta-resident ids' old versions are already gone
    # via the rebuild above. updated_ids = base ids ∪ delta ids that
    # carry a pre-existing tombstone (added→deleted→upserted: the arm
    # must override the mask); plain delta-resident updates need
    # neither mask nor arm.
    base_ids = (
        ids if delta_ids is None
        else ids.join(delta_ids, "doc_id", "left_anti").localCheckpoint()
    )
    have_base = delta_ids is None or base_ids.limit(1).count() > 0
    arm_ids = base_ids if have_base else None
    if delta_ids is not None:
        tomb = load_tombstones(spark, index_path)
        if tomb is not None:
            dead_delta = delta_ids.join(tomb, "doc_id", "left_semi")
            if dead_delta.limit(1).count():
                arm_ids = (
                    dead_delta if arm_ids is None
                    else arm_ids.unionByName(dead_delta).distinct()
                )
    if have_base:
        delete_docs(spark, index_path, base_ids)
    delta_meta = add_docs(
        spark, index_path, new_docs, check_ids=False, segment=segment
    )
    if arm_ids is not None:
        arm_ids.coalesce(1).write.mode("append").parquet(
            os.path.join(index_path, "updated_ids")
        )
    return delta_meta


def load_delta_metas(index_path: str) -> list[dict]:
    out = []
    for d in _delta_dirs(index_path):
        with open(os.path.join(d, "meta.json")) as fh:
            out.append(json.load(fh))
    return out


def merge_deltas(spark: SparkSession, index_path: str) -> dict | None:
    """Collapse ALL delta segments into one — tiered-compaction lite.

    Many small deltas (e.g. per-micro-batch live ingest) mean many small
    block files per term bucket; merging rebuilds ONE delta from the
    segments' staged raw rows with the SAME frozen base stats, so every
    score is bit-identical before and after — unlike ``compact_index``,
    no statistics refresh happens and the base index is untouched.
    Returns the merged delta's meta, or None when there is nothing to
    merge (0 or 1 segments)."""
    _recover_merge(index_path)
    deltas = _delta_dirs(index_path)
    if len(deltas) <= 1:
        return None
    return _rebuild_deltas(spark, index_path, deltas)


def _rebuild_deltas(
    spark: SparkSession,
    index_path: str,
    deltas: list[str],
    exclude_ids: DataFrame | None = None,
) -> dict | None:
    """Rebuild the delta tier as ONE segment from the segments' staged
    raw rows (frozen base stats — scores bit-identical), optionally
    dropping ``exclude_ids`` rows (targeted delta-tier compaction: the
    seam ``update_docs`` uses to retire a re-updated doc's STALE delta
    version without touching the base index — cost is bounded by the
    delta tier's size, not the corpus). Crash-safe ordering: the merged
    segment is staged OUTSIDE the servable namespace
    (``work/merge_tmp_segment``), the commit marker flips, the old dirs
    are removed, then the staged dir takes slot 0. Returns the merged
    meta; None when there is nothing to rebuild (empty tier — e.g. a
    crashed replay already consumed the dirs) or when exclusion empties
    the tier (all dirs removed)."""
    import shutil

    if not deltas:
        # replaying a crashed re-update whose rebuild already emptied
        # the tier: nothing left to retire — the caller proceeds to
        # re-stage the new version
        return None
    corpus = spark.read.parquet(os.path.join(deltas[0], "corpus"))
    for d in deltas[1:]:
        corpus = corpus.unionByName(
            spark.read.parquet(os.path.join(d, "corpus")),
            allowMissingColumns=True,
        )
    if exclude_ids is not None:
        id_col = load_meta(index_path).get("doc_id_col", "doc_id")
        corpus = corpus.join(
            F.broadcast(
                exclude_ids.select(
                    F.col(exclude_ids.columns[0]).cast("long").alias(id_col)
                )
            ),
            id_col,
            "left_anti",
        )
    # pin the union OUTSIDE the delta dirs before deleting them
    staging = os.path.join(index_path, "work", "merge_corpus")
    corpus.write.mode("overwrite").parquet(staging)
    merged_src = spark.read.parquet(staging)
    if merged_src.limit(1).count() == 0:
        # exclusion emptied the tier: the only delta rows were the
        # stale versions being retired — dropping the dirs IS the goal.
        # Same marker discipline as the swap path: commit ("empty", no
        # staged segment) BEFORE the removal loop, so a crash mid-loop
        # replays the removal at the next maintenance entry instead of
        # leaving surviving dirs of only-stale rows that the
        # still-present updated_ids arm would serve.
        marker = os.path.join(index_path, "work", "merge_commit")
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("empty")
        for d in deltas:
            shutil.rmtree(d)
        os.remove(marker)
        shutil.rmtree(staging, ignore_errors=True)
        return None
    tmp_dir = os.path.join(index_path, _MERGE_TMP_RELDIR)
    shutil.rmtree(tmp_dir, ignore_errors=True)  # stale scratch
    meta = add_docs(
        spark, index_path, merged_src, check_ids=False,
        segment=0, out_dir=tmp_dir,
    )
    # commit point: marker present == "tmp is authoritative". A crash
    # before this line leaves the old dirs authoritative (recovery
    # drops the staging dir); after it, recovery finishes the swap. The
    # staging dir lives under work/ where _delta_dirs can't see it, so
    # no crash state serves both copies.
    marker = os.path.join(index_path, "work", "merge_commit")
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("1")
    for d in deltas:
        shutil.rmtree(d)
    final_dir = os.path.join(index_path, "delta_00000")
    os.rename(tmp_dir, final_dir)
    os.remove(marker)
    shutil.rmtree(staging, ignore_errors=True)
    return meta


# ------------------------------------------------------- auto-maintenance
#
# The policy layer over the maintenance primitives: nothing above decides
# WHEN to merge or compact, yet the measured update-serving ratios
# (BENCH/BASELINE.md: ~1.6x single, ~1.33x batch under pending updates)
# stay bounded only if a live ingest/update loop periodically folds its
# delta tier. Thresholds follow the Lucene/ES tiered-merge intuition:
# many small segments -> cheap same-stats merge; a masked fraction large
# enough to distort over-fetch and stats -> full fresh-stats compaction.


def _compact_paths(index_path: str) -> tuple[str, str, str]:
    base = index_path.rstrip("/")
    return (base + ".compact_tmp", base + ".compact_trash",
            base + ".compact_commit")


def _recover_compact(index_path: str) -> None:
    """Finish or roll back a crashed ``compact_in_place``. Marker absent:
    the staged rebuild is scratch — drop it. Marker present: the swap was
    committed — finish whichever renames remain (each rename is atomic;
    the staged index is complete before the marker is written)."""
    import shutil

    tmp, trash, marker = _compact_paths(index_path)
    if os.path.exists(marker):
        if os.path.exists(os.path.join(tmp, "meta.json")):
            if os.path.exists(index_path):
                shutil.rmtree(trash, ignore_errors=True)
                os.rename(index_path, trash)
            os.rename(tmp, index_path)
        _carry_runtime_state(trash, index_path)
        shutil.rmtree(trash, ignore_errors=True)
        os.remove(marker)
    else:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)


def _carry_runtime_state(old_dir: str, index_path: str) -> None:
    """Move loader-invisible runtime state that nests under the index
    dir but is no part of the rebuild — the live-ingest Structured
    Streaming checkpoint (``stream_live/``) — from the swapped-out copy
    into the new one. Losing it would reset the stream's committed-
    batch log and re-ingest every source row as a duplicate delta."""
    old_stream = os.path.join(old_dir, "stream_live")
    new_stream = os.path.join(index_path, "stream_live")
    if os.path.isdir(old_stream) and not os.path.exists(new_stream):
        os.rename(old_stream, new_stream)


def compact_in_place(
    spark: SparkSession, index_path: str, **build_kwargs
) -> dict:
    """``compact_index`` whose output REPLACES ``index_path`` (the
    serving path keeps its name — callers re-read via
    ``SearchEngine.refresh()``). Crash-safe: the fresh index is staged
    at a sibling ``.compact_tmp``, a commit marker flips, then two
    atomic renames swap it in; ``_recover_compact`` (run at every
    maintenance entry) finishes or rolls back any interrupted state."""
    import shutil

    _recover_compact(index_path)
    tmp, trash, marker = _compact_paths(index_path)
    shutil.rmtree(tmp, ignore_errors=True)
    meta = compact_index(
        spark, index_path, tmp, stage_corpus_as=index_path, **build_kwargs
    )
    with open(marker, "w") as fh:
        fh.write("1")
    shutil.rmtree(trash, ignore_errors=True)
    os.rename(index_path, trash)
    os.rename(tmp, index_path)
    _carry_runtime_state(trash, index_path)
    shutil.rmtree(trash, ignore_errors=True)
    os.remove(marker)
    return meta


def maintenance_status(spark: SparkSession, index_path: str) -> dict:
    """Counts the policy decides on (and ``jobs/maintain.py status``
    prints)."""
    meta = load_meta(index_path)
    deltas = load_delta_metas(index_path)
    tomb = load_tombstones(spark, index_path)
    upd = load_updated_ids(spark, index_path)
    return {
        "base_documents": meta["num_documents"],
        "base_postings": meta["num_postings"],
        "delta_segments": len(deltas),
        "delta_documents": sum(d["num_documents"] for d in deltas),
        "delta_postings": sum(d["num_postings"] for d in deltas),
        "tombstones": 0 if tomb is None else tomb.count(),
        "updated_docs": 0 if upd is None else upd.count(),
    }


def auto_maintain(
    spark: SparkSession,
    index_path: str,
    max_delta_segments: int = 4,
    max_masked_fraction: float = 0.10,
    **compact_kwargs,
) -> dict:
    """One policy tick: decide and run the maintenance the index needs.

    * masked fraction (tombstones + updated ids, i.e. rows every query
      must over-fetch past and anti-join away) above
      ``max_masked_fraction`` of the total corpus -> in-place
      COMPACTION (fresh stats, tier folded, masks zeroed) — subsumes a
      merge;
    * else delta-segment count above ``max_delta_segments`` -> MERGE
      (one segment, scores bit-identical, base untouched);
    * else no-op.

    Returns the decision plus before/after status; callers serving the
    index should ``refresh()`` afterwards. Idempotent and crash-safe
    (every primitive it calls recovers its own interrupted state)."""
    _recover_compact(index_path)
    _recover_merge(index_path)
    before = maintenance_status(spark, index_path)
    total_docs = max(
        before["base_documents"] + before["delta_documents"], 1
    )
    masked = before["tombstones"] + before["updated_docs"]
    actions: list[str] = []
    if masked > max_masked_fraction * total_docs:
        compact_in_place(spark, index_path, **compact_kwargs)
        actions.append("compact")
    elif before["delta_segments"] > max_delta_segments:
        merge_deltas(spark, index_path)
        actions.append("merge")
    return {
        "actions": actions,
        "before": before,
        "after": maintenance_status(spark, index_path),
    }
