"""SearchEngine facade: build + query a persisted index.

Spark-first equivalent of ``sea/engine.pyx``'s ``Engine``: queries are
parsed on the driver (cheap, one string — ``sea/engine.pyx:584-610``),
compiled to a DataFrame plan over the block table, and executed as
``orderBy(score desc, doc_id asc).limit(k)`` (TakeOrderedAndProject, the
distributed analog of the reference's top-k sort at ``sea/engine.pyx:599``
under the documented tie-break contract)."""

from __future__ import annotations

import functools
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs_search_engine_architecture_spark.operators import indexer
from cs_search_engine_architecture_spark.operators.msearch import (
    classify_query,
    leaf_terms,
)
from cs_search_engine_architecture_spark.plans.compiler import QueryCompiler
from cs_search_engine_architecture_spark.plans.query_parser import (
    parse_query,
    strip_top_not,
)


class SearchEngine:
    def __init__(self, spark: SparkSession, index_path: str, cache: bool = True):
        self.spark = spark
        self.index_path = index_path
        self._cache = cache
        self.meta = indexer.load_meta(index_path)
        # Spark's cache is keyed by plan, and a parquet scan's plan by
        # its root paths: an older engine's persisted frames over this
        # path (the pre-sharded blocks above all, persisted whatever
        # ``cache`` says) would otherwise serve the files an in-place
        # compaction replaced. Re-list them first; no-op when none.
        spark.catalog.refreshByPath(index_path)
        self.blocks = indexer.load_blocks(spark, index_path)
        if cache:
            # analog of the reference's postings cache (sea/engine.pyx:314-324)
            self.blocks = self.blocks.persist()
        self.num_buckets = self.meta["num_buckets"]
        self.compiler = QueryCompiler(
            spark, self.blocks, self.num_buckets,
            single_field=self.meta["num_fields"] == 1,
        )
        # deleted-docs mask (None on tombstone-free indexes — the common
        # case pays zero cost); see indexer.delete_docs/compact_index
        self.tombstones = indexer.load_tombstones(spark, index_path)
        # in-place updates (indexer.update_docs): ids whose OLD version
        # is tombstoned and whose CURRENT postings live entirely in
        # delta segments. Serving = masked main arm (kills both
        # versions) ∪ delta-only compiled arm semi-joined to these ids
        # (resurrects the new version). None on update-free indexes —
        # every fast path stays untouched then.
        self.updated_ids = indexer.load_updated_ids(spark, index_path)
        if self.updated_ids is not None and not indexer._delta_dirs(
            index_path
        ):
            # crash state: a re-update's delta-tier rebuild emptied the
            # tier before the new delta landed. The updated ids are all
            # tombstoned, so serving them as plain deletes fails CLOSED
            # (docs invisible until the update replays) instead of
            # raising on every query for a missing delta frame.
            self.updated_ids = None
        # delta segments (add_docs) contribute postings to the WAND
        # routing threshold; world stats stay frozen (see
        # indexer.add_docs)
        delta_metas = indexer.load_delta_metas(index_path)
        self.has_delta = bool(delta_metas)
        for dm in delta_metas:
            self.meta["num_postings"] = (
                self.meta.get("num_postings", 0) + dm["num_postings"]
            )

    def refresh(self) -> "SearchEngine":
        """Re-read the index's maintenance state IN PLACE — the NRT
        serving-loop primitive: after ``add_docs`` / ``delete_docs`` /
        ``update_docs`` / ``merge_deltas`` (or a live-ingest micro-batch)
        land on disk, ``refresh()`` makes this engine serve them without
        constructing a new object or re-warming callers' references.
        Drops every derived cache (persisted unified blocks, pre-sharded
        WAND frame, term stats, compilers, counts) and
        re-runs initialization; returns self for chaining."""
        if self._cache:
            self.blocks.unpersist()
        if hasattr(self, "_wand_sharded_df"):
            self._wand_sharded_df.unpersist()
        if hasattr(self, "_kgram"):
            # the k-gram spelling indexes are persist()ed per threshold
            # — delattr alone would strand them in the CacheManager and
            # leak storage memory on every refresh of a long-lived server
            for df in self._kgram.values():
                df.unpersist()
        for attr in (
            "_delta_blocks", "_base_blocks", "_upd_compiler",
            "_tomb_count", "_upd_count", "_wand_sharded_df",
            "_term_stats", "_kgram",
            # _doc_lens feeds LTR features (field lengths) and _df_cache
            # the WAND/join routing heuristic — both change when
            # maintenance lands; serving either stale is a wrong feature
            # value / mis-route on a long-lived server
            "_doc_lens", "_df_cache",
        ):
            if hasattr(self, attr):
                delattr(self, attr)
        self.__init__(self.spark, self.index_path, cache=self._cache)
        return self

    def search_df(self, query: str) -> DataFrame:
        """Full (unlimited) scored result set for ``query``."""
        ast = parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        return self._scored(ast)

    # ------------------------------------------------ in-place updates

    def _delta_blocks_df(self) -> DataFrame:
        if not hasattr(self, "_delta_blocks"):
            self._delta_blocks = indexer.load_delta_blocks(
                self.spark, self.index_path
            )
        return self._delta_blocks

    def _base_blocks_df(self) -> DataFrame:
        if not hasattr(self, "_base_blocks"):
            self._base_blocks = indexer.load_base_blocks(
                self.spark, self.index_path
            )
        return self._base_blocks

    def _dead_ids(self) -> DataFrame | None:
        """Tombstones of docs that are GONE (deleted), excluding ids
        that were updated in place (those still exist — the tombstone
        only masks their old lexical postings). The mask for surfaces
        with no resurrection arm (semantic scores, external tables)."""
        if self.tombstones is None:
            return None
        if self.updated_ids is None:
            return self.tombstones
        return self.tombstones.join(self.updated_ids, "doc_id", "left_anti")

    def _scored(self, ast) -> DataFrame:
        """Masked scored frame for a compiled query, update-aware.

        With updates present, the main arm's compile runs over
        base ∪ delta blocks, so an updated doc would sum BOTH versions'
        postings — the tombstone mask therefore kills it entirely, and
        the delta-only arm (the doc's complete current postings — AND /
        NOT / phrase semantics are self-contained there) resurrects the
        new version with its exact frozen-stats score."""
        masked = self._mask(self.compiler.compile(ast))
        if self.updated_ids is None:
            return masked
        return masked.unionByName(self._update_arm(ast))

    def _delta_compiler(self) -> QueryCompiler:
        if not hasattr(self, "_upd_compiler"):
            self._upd_compiler = QueryCompiler(
                self.spark, self._delta_blocks_df(), self.num_buckets,
                single_field=self.meta["num_fields"] == 1,
            )
        return self._upd_compiler

    def _update_arm(self, ast) -> DataFrame:
        """The delta-only resurrection arm: compile ``ast`` over delta
        blocks alone (an updated doc's complete current postings live
        there) and keep only in-place-updated docs."""
        return self._delta_compiler().compile(ast).join(
            F.broadcast(self.updated_ids), "doc_id", "left_semi"
        )

    def _delta_arm(self, ast) -> DataFrame:
        """ALL live delta docs scored by a delta-only compile, dead ids
        masked — the companion arm for kernels that run over BASE blocks
        only (WAND under a populated delta tier): every delta doc's
        complete current postings live in the delta segments (adds are
        staged there wholesale; an updated doc's stale delta versions
        are physically retired), so base-kernel ∪ this arm covers every
        live doc exactly once."""
        arm = self._delta_compiler().compile(ast)
        dead = self._dead_ids()
        if dead is not None:
            arm = arm.join(F.broadcast(dead), "doc_id", "left_anti")
        return arm

    def _term_frame(self, build) -> DataFrame:
        """Update-aware per-term postings frame: ``build(blocks)`` runs
        over the unified blocks normally; with updates present, base
        rows of updated ids are dropped and the delta rows (the current
        version) union in — so features/positions never mix versions."""
        if self.updated_ids is None:
            return build(self.blocks)
        base = build(self._base_blocks_df()).join(
            F.broadcast(self.updated_ids), "doc_id", "left_anti"
        )
        return base.unionByName(build(self._delta_blocks_df()))

    def _mask(self, scored: DataFrame) -> DataFrame:
        """Anti-join the tombstone mask (broadcast — bytes, not a
        shuffle). Per-doc scores are unaffected by other docs\' deletion
        (IDF/avgdl are baked at build time — Lucene\'s deleted-docs
        semantics), so masking the scored frame before top-k selection
        is exact."""
        if self.tombstones is None:
            return scored
        return scored.join(F.broadcast(self.tombstones), "doc_id", "left_anti")

    def search(
        self,
        query: str,
        top_k: int = 10,
        ltr_enabled: bool = False,
        ltr_weights: str | None = None,
        pre_select_k: int = 50,
    ) -> DataFrame:
        if ltr_enabled:
            return self.search_ltr(query, top_k, pre_select_k, ltr_weights)
        # top-level NOT is identity (the compiler discards the root
        # complement flag) — strip it so routing sees the real shape
        # and "not spark" rides the same fast path as "spark"
        ast = strip_top_not(
            parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        )
        upd = self.updated_ids is not None
        # Tombstones + fast paths: deleting T docs can promote at most T
        # docs into the top-k, so the top-(k+T) of the UNMASKED ranking
        # contains the masked top-k — fast paths over-fetch by T, then
        # mask and re-limit (exact). With in-place updates, a fast path
        # additionally (a) over-fetches by U more — an updated doc's TWO
        # live versions can occupy two posting rows, both masked — and
        # (b) unions the delta arm before re-limiting (the arm's scores
        # are exact; see _delta_arm). A pathological mask count
        # (> _TOMB_FASTPATH_CAP) falls back to the masked join path;
        # compact_index resets both counts to 0.
        k_fetch = top_k
        over_cap = False
        if self.tombstones is not None:
            t_count = self._num_tombstones()
            u_count = self._num_updated() if upd else 0
            over_cap = t_count + u_count > self._TOMB_FASTPATH_CAP
            k_fetch = top_k + t_count + u_count
        route, terms = self._route(ast, over_cap)
        if route in ("join", "join_masked"):
            self.last_strategy = "join_masked_update_arm" if upd else route
            return (
                self._scored(ast)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(top_k)
            )
        self.last_strategy = route + ("+delta_arm" if self.has_delta else "")
        from cs_search_engine_architecture_spark.operators.wand import (
            tree_topk,
            wand_topk,
        )

        # Every term-only shape is served from the cached pre-sharded
        # layout with NO per-query exchange: one kernel call per doc
        # shard, one Spark job. With a populated delta tier (adds
        # and/or pending in-place updates) the kernels run over BASE
        # blocks only — WAND's coverage bounds assume one term's blocks
        # are doc-disjoint, which an updated doc's two live versions
        # (base old + delta new) would violate, and every kernel scores
        # a doc from its postings in ONE tier. Base blocks hold one
        # version per doc, so: exact base top-k from the kernel,
        # tombstones masked (old versions of updated docs die here),
        # then the delta arm (a delta-only compile of the SAME ast —
        # every delta doc's complete postings live there) unions in and
        # the union re-limits. merge/compact only shrink the arm.
        sharded, span = self._wand_sharded(), self.meta["wand_shard_span"]
        if route == "tree_sharded":
            raw = tree_topk(sharded, ast, k_fetch, span)
        else:
            kind = "and" if route == "wand_and_sharded" else "or"
            raw = wand_topk(sharded, kind, terms, k_fetch, span)
        if self.has_delta:
            out = self._mask(raw).unionByName(self._delta_arm(ast))
        elif self.tombstones is not None:
            out = self._mask(raw)
        else:
            return raw
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)

    def _route(self, ast, over_cap: bool) -> tuple[str, list[str]]:
        """(route, terms) for ``search`` from the query's
        ``classify_query`` shape, first match wins (the route is the
        reported strategy, before any "+delta_arm" suffix):

        1. a tombstone/update mask over the fast-path cap ->
           "join_masked" (the compiled plan under the mask);
        2. a legacy meta without ``wand_shard_span`` -> "join" for every
           shape: the sharded kernels need the shard-aligned layout;
        3. an empty query, a phrase, or a phrase inside a tree -> "join"
           (the compiled plan's position-window joins);
        4. a single term -> "single_term_blockmax" (``wand_topk`` over
           one term; the name predates the kernel);
        5. a flat OR / AND of DISTINCT terms at >= 1M postings ->
           "wand_or_sharded" / "wand_and_sharded" (AND only when a
           selective term exists);
        6. every other term-only tree -> "tree_sharded" (``tree_topk``:
           the lazy-NOT algebra per doc shard).

        Steps 4-6 run one exchange-free job over ``_wand_sharded()``;
        only the WAND-AND guard's df lookup touches Spark while
        routing."""
        if over_cap:
            return "join_masked", []
        if not self.meta.get("wand_shard_span"):
            return "join", []
        shape = classify_query(ast)
        if shape is None or shape[0] == "phrase":
            return "join", []
        kind, terms = shape[0], shape[1]
        if kind == "or" and len(terms) == 1:
            return "single_term_blockmax", terms
        # The 1M-postings gate picks between WAND's block skipping and
        # the tree kernel, which decodes every block of the query terms
        # in the shard (the threshold is the old WAND-vs-join one).
        # Duplicate terms double-count in the summed score, which the
        # tree kernel reproduces leaf by leaf, so they go there.
        if (
            kind in ("or", "and")
            and len(set(terms)) == len(terms)
            and self.meta.get("num_postings", 0) >= 1_000_000
        ):
            if kind == "or":
                # scored disjunctions: partition-parallel block-max WAND
                return "wand_or_sharded", terms
            # conjunctions: metadata range-skip intersection — blocks
            # whose doc range overlaps no block of some other term never
            # decode. Pays only when a SELECTIVE term exists (sparse
            # ranges skip the hot term's blocks); dense-only
            # conjunctions go to the tree kernel's plain intersection.
            dfs = self._term_dfs(terms)
            if min(dfs.values(), default=0) <= max(
                10_000, self.meta["num_postings"] // 200
            ):
                return "wand_and_sharded", terms
        return "tree_sharded", []

    # the routing decision of the most recent search() — observability
    # for plan_info and perf triage; never consulted by the engine
    last_strategy: str | None = None

    # beyond this many tombstones the over-fetch trick costs more than
    # the masked join path (and the broadcast mask itself gets heavy)
    _TOMB_FASTPATH_CAP = 10_000

    def _num_tombstones(self) -> int:
        if not hasattr(self, "_tomb_count"):
            self._tomb_count = (
                0 if self.tombstones is None else self.tombstones.count()
            )
        return self._tomb_count

    def _num_updated(self) -> int:
        if not hasattr(self, "_upd_count"):
            self._upd_count = (
                0 if self.updated_ids is None else self.updated_ids.count()
            )
        return self._upd_count

    def _wand_sharded(self) -> DataFrame:
        """Cached shard-partitioned blocks frame (one exchange at first
        use, then every WAND query is exchange-free — the persisted
        HashPartitioning(shard) satisfies the kernel's required
        distribution). BASE blocks only when a delta tier exists — the
        kernel's doc-disjointness bound holds for one build's blocks;
        delta docs serve through ``_delta_arm`` (see ``search``). A
        delta landing after this frame was built is invisible to it:
        ``refresh()`` rebuilds the layout."""
        if not hasattr(self, "_wand_sharded_df"):
            from cs_search_engine_architecture_spark.operators.wand import (
                preshard_blocks,
            )

            n_parts = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            src = self._base_blocks_df() if self.has_delta else self.blocks
            self._wand_sharded_df = preshard_blocks(
                src, self.meta["wand_shard_span"], n_parts
            ).persist()
        return self._wand_sharded_df

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequency, cached (one tiny broadcast-able
        lookup per previously-unseen term; a missing term has df 0)."""
        if not hasattr(self, "_df_cache"):
            self._df_cache: dict[str, int] = {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self.term_stats()
                .where(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def msearch(
        self, queries: dict[str, str], top_k: int = 10,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Batched multi-query search: every query in ``queries``
        (query_id -> query string) answered in ONE Spark job.

        Join-batchable queries (single token / flat OR / flat AND /
        flat AND-NOT — see ``operators/msearch.py``) share a single
        partition-pruned postings scan; ALL pure phrases share one
        slot-tagged positional scan; ALL mixed-precedence TERM-ONLY
        boolean trees share one term->score map aggregation evaluating
        the compiler's lazy-NOT algebra column-side (bit-identical
        scores); only phrase-bearing mixed trees fall back to their
        individual compiled plans, tagged and unioned in. Returns
        ``(query_id, doc_id, score)``, at most ``top_k`` rows per query,
        with the standard (score desc, doc_id asc) per-query order. Scores
        are identical to per-query ``search`` — only the execution is
        batched (the reference has no batch API; this is the cluster-scale
        serving shape for LTR training sweeps and offline eval).

        ``predicate`` (+ ``corpus``) applies filter context to the WHOLE
        batch (the filtered-eval sweep: "run these 1000 queries over
        lang='en' docs only"): the admitted-id frame semi-joins every
        arm — the shared-scan batchers before their per-query window
        cut, compiled fallback plans before their limit — so each
        query's page is the exact top-k of the admitted set, scores
        untouched (== per-query ``filtered_search``)."""
        from cs_search_engine_architecture_spark.operators import msearch as ms

        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        analyzer = self.meta.get("analyzer", "reference")
        batchable: list[tuple] = []
        phrases: list[tuple[str, list[str]]] = []
        mixed: list[tuple] = []
        fallback: list[DataFrame] = []
        for qid, qstr in queries.items():
            ast = parse_query(qstr, analyzer=analyzer)
            plan = classify_query(ast)
            if plan is None:
                # empty query or a phrase inside a tree: its own
                # compiled plan, tagged with the query id
                scored = self._scored(ast)
                if allowed is not None:
                    scored = scored.join(allowed, "doc_id", "left_semi")
                fallback.append(
                    scored
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(top_k)
                    .select(
                        F.lit(qid).alias("query_id"), "doc_id", "score"
                    )
                )
            elif plan[0] == "phrase":
                phrases.append((qid, plan[1]))
            elif plan[0] == "mixed":
                # term-only tree: the 8-case lazy-NOT algebra evaluates
                # per doc over a shared term->score map — bit-identical
                # scores to the compiled plan, one scan for all such
                # queries
                mixed.append((qid, plan[1]))
            else:
                # ("or"/"and", terms) or ("and_not", pos, neg) — pass
                # the whole plan through to the shared-scan batcher
                batchable.append((qid, *plan))
        # With in-place updates pending, the shared-scan batchers run
        # over the unified blocks with the FULL tombstone mask (an
        # updated doc would double-score across base+delta, so the mask
        # kills both versions pre-limit — exact, no over-fetch needed
        # since batched_topk masks BEFORE its per-query window cut) and
        # a delta-only batched arm resurrects the updated docs' current
        # versions; the union re-ranks per query. Update-free indexes
        # take the single-frame path unchanged.
        upd = self.updated_ids is not None

        def _batch(blocks: DataFrame, fn, plans, exclude) -> DataFrame:
            return fn(
                self.spark, blocks, self.num_buckets, plans, top_k,
                exclude=exclude, allowed=allowed,
            )

        def _serve(fn, plans) -> DataFrame:
            main = _batch(self.blocks, fn, plans, self.tombstones)
            if not upd:
                return main
            arm = _batch(
                self._delta_blocks_df(), fn, plans, self._dead_ids()
            ).join(F.broadcast(self.updated_ids), "doc_id", "left_semi")
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                main.unionByName(arm)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= top_k)
                .select("query_id", "doc_id", "score")
            )

        parts: list[DataFrame] = []
        if batchable:
            parts.append(_serve(ms.batched_topk, batchable))
        if phrases:
            phrase_fn = functools.partial(
                ms.phrase_batched_topk,
                monotonic=self.meta["num_fields"] == 1,
            )
            parts.append(_serve(phrase_fn, phrases))
        if mixed:
            parts.append(_serve(ms.mixed_batched_topk, mixed))
        parts.extend(fallback)
        if not parts:
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def percolate(
        self, queries: dict[str, str], docs: DataFrame,
        filters: dict[str, str] | None = None,
    ) -> DataFrame:
        """Reverse search: (query_id, doc_id) for every registered
        query matching each incoming doc — parsed with THIS index's
        analyzer/field config, but evaluated from one on-the-fly
        tokenize pass over ``docs`` (the index itself is never read:
        match-only filter context, no BM25 stats). ``filters`` =
        optional per-query metadata predicates over the incoming
        batch's columns (the saved-search alerting shape). See
        ``operators/percolate.py`` for semantics and scale shape."""
        from cs_search_engine_architecture_spark.operators import (
            percolate as pc,
        )

        return pc.percolate(
            self.spark,
            queries,
            docs,
            fields=self.meta.get("fields", ["text"]),
            doc_id_col=self.meta.get("doc_id_col", "doc_id"),
            analyzer=self.meta.get("analyzer", "reference"),
            filters=filters,
        )

    def plan_info(self, query: str, top_k: int = 10) -> dict:
        """Routing + physical-plan introspection without executing the
        query: which strategy search() picks (single-term / sharded
        WAND / sharded tree / join...), the leaf terms, maintenance
        state, and Spark's formatted physical plan for the resulting
        frame. The query never runs. The only Spark work routing can
        submit is the WAND-AND guard's df lookup (>= 1M postings, first
        sight of a term) and, on a maintained index, the first
        tombstone / update counts."""
        df = self.search(query, top_k)
        return {
            "strategy": self.last_strategy,
            "terms": self._leaf_terms(query),
            "num_postings": self.meta.get("num_postings", 0),
            "tombstones": self._num_tombstones(),
            "updated_docs": self._num_updated(),
            "delta_segments": len(indexer.load_delta_metas(self.index_path)),
            "physical_plan": df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ),
        }

    def search_collect(self, query: str, top_k: int = 10) -> list[tuple[int, float]]:
        import numpy as np

        return [
            (r["doc_id"], float(np.float32(r["score"])))
            for r in self.search(query, top_k).collect()
        ]

    def materialize(
        self, results: DataFrame, corpus: DataFrame, doc_id_col: str = "doc_id",
        verify_sha: bool = True, content_col: str = "content",
    ) -> DataFrame:
        """Join top-k doc_ids back to the source table (broadcast the small
        result side; ``sea/engine.pyx:400-422`` analog).

        North-rule row invariant: when the corpus carries a
        ``content_sha256`` column, every materialized row re-computes
        ``sha2(content)`` JVM-side and exposes ``sha_ok`` — a False
        value means the served row no longer matches the bytes that
        were indexed (a torn read / stale snapshot), which callers can
        assert on (``assert_sha_ok``)."""
        out = corpus.join(
            F.broadcast(results), corpus[doc_id_col] == results["doc_id"]
        ).drop(results["doc_id"])
        if verify_sha and "content_sha256" in corpus.columns and (
            content_col in corpus.columns
        ):
            out = out.withColumn(
                "sha_ok",
                F.sha2(F.col(content_col), 256) == F.col("content_sha256"),
            )
        return out

    def current_corpus(self) -> DataFrame:
        """The index's CURRENT source rows: the manifest corpus, minus
        dead (deleted) docs, with delta-staged rows (adds and in-place
        updates) replacing/extending the base — what snippet and
        materialize callers should pass on a maintained index."""
        src = self.meta.get("corpus_path")
        if not src or not os.path.exists(src):
            raise ValueError(
                f"index manifest has no readable corpus_path: {src!r}"
            )
        corpus = self.spark.read.parquet(src)
        id_col = self.meta.get("doc_id_col", "doc_id")
        if self.tombstones is not None:
            # tombstones cover deletes AND updated docs' old versions;
            # the delta corpus below restores the updated docs' rows
            corpus = corpus.join(
                F.broadcast(
                    self.tombstones.withColumnRenamed("doc_id", id_col)
                ),
                id_col,
                "left_anti",
            )
        delta: DataFrame | None = None
        for d in indexer._delta_dirs(self.index_path):
            part = self.spark.read.parquet(os.path.join(d, "corpus"))
            delta = part if delta is None else delta.unionByName(
                part, allowMissingColumns=True
            )
        if delta is not None:
            # per-arm tombstone scoping (mirrors compact_index): a doc
            # ADDED via add_docs and later deleted is tombstoned too —
            # only DEAD ids (tombstones minus updated) mask the delta
            # rows, so updated docs' new versions survive while
            # added-then-deleted docs stay gone.
            dead = self._dead_ids()
            if dead is not None:
                delta = delta.join(
                    F.broadcast(dead.withColumnRenamed("doc_id", id_col)),
                    id_col,
                    "left_anti",
                )
            corpus = corpus.unionByName(delta, allowMissingColumns=True)
        return corpus

    @staticmethod
    def assert_sha_ok(materialized: DataFrame) -> None:
        """Raise if any served row violates the content-sha invariant."""
        if "sha_ok" not in materialized.columns:
            return
        bad = materialized.where(~F.col("sha_ok")).limit(5).collect()
        if bad:
            # materialize() with a custom doc_id_col keeps the CORPUS
            # id column name, not a literal doc_id — report whatever id
            # field the row actually carries
            id_field = (
                "doc_id" if "doc_id" in materialized.columns
                else materialized.columns[0]
            )
            ids = [r[id_field] for r in bad]
            raise ValueError(
                f"content_sha256 mismatch for doc_ids {ids}: served rows "
                "do not match the indexed snapshot"
            )

    # ------------------------------------------------ secondary surfaces

    def _leaf_terms(self, query: str) -> list[str]:
        """Unique leaf terms of the parsed query, in first-seen order."""
        return leaf_terms(
            parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        )

    def prefix_search(
        self, prefix: str, top_k: int = 10, max_expansion: int = 128,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Wildcard-style ``prefix*`` search by dictionary expansion:
        matching terms come from the term dictionary (a metadata-only
        scan — ``term_stats`` is ~vocabulary-sized, with a pushed-down
        range predicate on ``term``), then the expansion runs as ONE
        shared-scan disjunction through the batch operator (score = sum
        of the matched terms' BM25, the compiler's OR semantics).

        ``max_expansion`` caps the disjunction Lucene-style, keeping the
        RAREST terms first (min df): a short prefix over a web-scale
        vocabulary would otherwise expand to millions of terms; the cap
        bounds both the driver list and the scan's OR-chain. Extension
        beyond the reference (its parser has no wildcard syntax).

        Expansion reads the delta-aware dictionary (``term_stats``), so
        a term that first appears via add_docs / live ingest expands
        as soon as the engine sees the segment (refresh/reload) — no
        compaction needed; its postings serve from the delta blocks
        through the same shared scan."""
        # validate filter-context args BEFORE the dictionary probe so a
        # predicate-without-corpus misuse is free, not a cluster job
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        pref = prefix.rstrip("*")
        matched = (
            self.term_stats()
            .where(F.col("term").startswith(pref))
            .select("term", "df")
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(max_expansion)
            .collect()
        )
        return self._expansion_topk(
            [r["term"] for r in matched], top_k, allowed=allowed,
        )

    def _allowed_ids(
        self, corpus: DataFrame | None, predicate, doc_id_col: str = "doc_id"
    ) -> DataFrame | None:
        """The admitted-doc-id frame of a filter-context predicate over
        the corpus (None when no predicate) — the shared entry point of
        every ``corpus=``/``predicate=`` serving surface."""
        if predicate is None:
            return None
        if corpus is None:
            raise ValueError("filter context (predicate=) needs corpus=")
        return corpus.where(predicate).select(
            F.col(doc_id_col).cast("long").alias("doc_id")
        )

    def _expansion_topk(
        self,
        terms: list[str] | dict[str, float],
        top_k: int,
        exclude_doc_id: int | None = None,
        min_match: int = 0,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Serve a dictionary-expanded OR disjunction (score = sum of the
        matched terms' BM25) through the batch operator's ONE shared
        scan — the common tail of ``prefix_search`` / ``wildcard_search``
        / ``more_like_this``. ``exclude_doc_id`` drops one source doc
        (more-like-this never returns its seed); the fetch over-allocates
        by 1 so the exclusion cannot shrink the top-k. ``min_match`` is
        Lucene's minimum_should_match: a doc must match at least that
        many DISTINCT terms (0 = any). ``allowed`` applies filter
        context (the admitted-id semi-join rides the batcher's
        pre-window hook, so the page is the exact admitted top-k)."""
        from cs_search_engine_architecture_spark.operators import msearch as ms

        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        fetch = top_k + (1 if exclude_doc_id is not None else 0)
        plan = ("q", "or", terms, [], int(min_match))
        out = ms.batched_topk(
            self.spark,
            self.blocks,
            self.num_buckets,
            [plan],
            fetch,
            exclude=self.tombstones,
            allowed=allowed,
        ).select("doc_id", "score")
        if self.updated_ids is not None:
            # resurrection arm for in-place-updated docs (see _scored).
            # exclude DEAD ids here: a delta doc that was added then
            # deleted would otherwise rank inside the arm's top_k cut
            # and evict an updated doc that belongs in the global top-k
            # (alive added docs are harmless — they rank identically in
            # the main arm — but tombstoned delta docs are not).
            arm = ms.batched_topk(
                self.spark,
                self._delta_blocks_df(),
                self.num_buckets,
                [plan],
                fetch,
                exclude=self._dead_ids(),
                allowed=allowed,
            ).select("doc_id", "score").join(
                F.broadcast(self.updated_ids), "doc_id", "left_semi"
            )
            out = out.unionByName(arm)
        if exclude_doc_id is not None:
            out = out.where(F.col("doc_id") != F.lit(int(exclude_doc_id)))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)

    def wildcard_search(
        self, pattern: str, top_k: int = 10, max_expansion: int = 128,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """General wildcard search (Lucene ``WildcardQuery`` shape):
        ``*`` matches any run, ``?`` exactly one character, anywhere in
        the pattern (``b?g``, ``*ing``, ``a*c``). Expansion is a
        vocabulary-sized dictionary scan (``term_stats`` with an
        anchored regex — same cost envelope as ``prefix_search``; a
        leading wildcard forfeits the range pushdown but still only
        touches the dictionary, never the postings), capped
        rarest-first at ``max_expansion``, then served as ONE
        shared-scan disjunction. Extension beyond the reference (its
        parser has no wildcard syntax)."""
        import re as _re

        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        regex = "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c)
            for c in pattern
        )
        matched = (
            self.term_stats()
            .where(F.col("term").rlike(f"^{regex}$"))
            .select("term", "df")
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(max_expansion)
            .collect()
        )
        return self._expansion_topk(
            [r["term"] for r in matched], top_k, allowed=allowed,
        )

    def regexp_search(
        self, regex: str, top_k: int = 10, max_expansion: int = 128,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Lucene ``RegexpQuery`` shape: the pattern is a full regular
        expression matched against WHOLE dictionary terms (anchored on
        both ends, like Lucene). Same cost envelope as
        ``wildcard_search`` — a vocabulary-sized dictionary scan
        (delta-aware ``term_stats``), never the postings; the expansion
        is capped rarest-first and served as ONE shared-scan
        disjunction. Extension beyond the reference."""
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        matched = (
            self.term_stats()
            .where(F.col("term").rlike(f"^(?:{regex})$"))
            .select("term", "df")
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(max_expansion)
            .collect()
        )
        return self._expansion_topk(
            [r["term"] for r in matched], top_k, allowed=allowed,
        )

    def boosted_search(
        self, boosts: dict[str, float], top_k: int = 10, min_match: int = 0,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Per-term boosted disjunction (Lucene ``term^boost`` shape):
        score(d) = Σ_t boost_t · BM25_t(d) over the matched terms,
        served through the batch operator's ONE shared scan (boosts
        ride the broadcast query map's ``weight`` column — the same
        mechanism integer term multiplicity already uses).
        ``min_match`` is Lucene's minimum_should_match: admit only docs
        matching at least that many DISTINCT terms (the web-scale OR
        noise cut) — it filters on the shared scan's matched-term count,
        costing nothing extra. Maintenance-aware via the
        `_expansion_topk` tail (tombstone mask + delta resurrection
        arm). Extension beyond the reference (its parser has no boost
        syntax)."""
        return self._expansion_topk(
            {t: float(w) for t, w in boosts.items()}, top_k,
            min_match=min_match,
            allowed=self._allowed_ids(corpus, predicate, doc_id_col),
        )

    def collapse_search(
        self,
        query: str,
        corpus: DataFrame,
        collapse_col: str,
        top_k: int = 10,
        per_group: int = 1,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """Field collapsing (Lucene/ES ``collapse`` shape): the top
        ``top_k`` of ``query`` keeping at most ``per_group`` docs per
        ``collapse_col`` value (the SERP dedupe-by-site pattern).
        Group membership joins in from the corpus (shuffle on doc_id —
        the scored side is the full match set, never collected); the
        per-group cut is a WindowGroupLimit (map-side partial limit
        before the shuffle), then the global (score desc, doc_id asc)
        top-k. Scores are the unmodified BM25 (collapsing selects,
        never scores — filter-context discipline), so a doc ranks
        identically whether or not its group-mates are collapsed away.
        Update/delete-aware via the same masked+arm frame.
        ``predicate`` applies filter context over ``corpus`` before the
        per-group cut (admitted docs only; scores untouched)."""
        scored = self.search_df(query)
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        if allowed is not None:
            scored = scored.join(allowed, "doc_id", "left_semi")
        groups = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(collapse_col).alias("_grp"),
        )
        w = Window.partitionBy("_grp").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.join(groups, "doc_id")
            .withColumn("_grank", F.row_number().over(w))
            .where(F.col("_grank") <= F.lit(int(per_group)))
            .select("doc_id", "score", F.col("_grp").alias("group"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def top_hits_by_group(
        self,
        query: str,
        corpus: DataFrame,
        group_col: str,
        hits_per_group: int = 3,
        top_groups: int | None = None,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """ES ``top_hits``-under-``terms`` aggregation: for every value
        of ``group_col``, the best ``hits_per_group`` docs of the FULL
        match set (group, doc_id, score, grank), group-major order —
        the "best example per category" sidebar. Optionally restrict
        to the ``top_groups`` largest buckets by matching-doc count
        (the standard terms-agg nesting); that bucket list is
        aggregate-sized, so it broadcasts.

        Scale shape: the scored match set joins group membership in
        from the corpus (shuffle on doc_id, no row widening); the
        per-group cut is a ``row_number`` WindowGroupLimit — map-side
        partial limit per group before one shuffle on the group key —
        so rows out are O(groups × hits_per_group) no matter the match
        count. Scores are the unmodified BM25 (the grouping selects,
        never scores). Update/delete-aware via the same masked+arm
        frame. Extension beyond the reference; ``collapse_search`` is
        the globally-limited single-list variant of the same window.
        ``predicate`` applies filter context over ``corpus`` before the
        per-group cut (admitted docs only; scores untouched)."""
        scored = self.search_df(query)
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        if allowed is not None:
            scored = scored.join(allowed, "doc_id", "left_semi")
        groups = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(group_col).alias("group"),
        )
        joined = scored.join(groups, "doc_id")
        if top_groups is not None:
            top = (
                joined.groupBy("group")
                .agg(F.count(F.lit(1)).alias("_c"))
                .orderBy(F.desc("_c"), F.asc("group"))
                .limit(int(top_groups))
                .select("group")
            )
            joined = joined.join(F.broadcast(top), "group")
        w = Window.partitionBy("group").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("grank", F.row_number().over(w))
            .where(F.col("grank") <= F.lit(int(hits_per_group)))
            .select("group", "doc_id", "score", "grank")
            .orderBy("group", "grank")
        )

    def proximity_search(
        self,
        phrase: str | list[str],
        slop: int,
        top_k: int = 10,
        ordered: bool = True,
    ) -> DataFrame:
        """Proximity query (Lucene ``"a b"~N`` shape, slop measured in
        the engine's CHAR-offset position units — ``slop=10`` ordered
        reproduces the reference's fixed phrase window exactly).
        ordered=True chains the phrase position-window joins with the
        window widened to ``slop`` — each CONSECUTIVE pair is judged
        independently (the reference phrase constraint's chained
        two-pointer semantics, ``sea/posting_list.pyx:23-44``: the
        intermediate positions need not form one consistent walk).
        ordered=False matches a doc iff some SINGLE choice of one
        position per term has max−min ≤ slop (n-way doc join + nested
        JVM-side ``exists``, no explosion). Score = sum of the matched
        terms' BM25 (phrase parity).

        ``phrase`` may be the raw quoted-phrase text (analyzed exactly
        like a phrase query) or a pre-analyzed term list. Serves
        through the masked join path — update-aware like every other
        compiled query (the delta compiler understands the same AST
        node). Extension beyond the reference parser."""
        values = self._proximity_values(phrase)
        if not values:
            return self.spark.createDataFrame([], "doc_id long, score double")
        ast = {
            "type": "proximity",
            "values": values,
            "slop": int(slop),
            "ordered": bool(ordered),
        }
        self.last_strategy = (
            "proximity_join_update_arm"
            if self.updated_ids is not None
            else "proximity_join"
        )
        return (
            self._scored(ast)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def _proximity_values(self, phrase: str | list[str]) -> list[str]:
        """Analyzed term list of a proximity/rescore phrase (the same
        path ``proximity_search`` uses for its raw-text form)."""
        if not isinstance(phrase, str):
            return list(phrase)
        ast0 = parse_query(
            f'"{phrase}"', analyzer=self.meta.get("analyzer", "reference")
        )
        if ast0 and ast0["type"] == "phrase":
            return list(ast0["values"])
        return [ast0["value"]] if ast0 else []

    def rescore_search(
        self,
        query: str,
        rescore_phrase: str | list[str],
        top_k: int = 10,
        window: int = 100,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        slop: int = 10,
        ordered: bool = True,
    ) -> DataFrame:
        """Two-phase rescore (Elasticsearch ``rescore`` shape,
        ``score_mode: total``): serve ``query`` normally, take its top
        ``window`` docs, and re-rank ONLY that window by
        ``query_weight·bm25 + rescore_weight·proximity`` where the
        proximity term is the BM25 score of ``rescore_phrase`` as a
        slop-``slop`` proximity query (0 when the window doc doesn't
        match it). The cheap query recalls; the expensive
        position-verified query only ever scores ``window`` docs.

        Scale shape: the proximity frame is pruned to the window ids by
        a broadcast semi-join BEFORE the final combine — the expensive
        positional join's output never exceeds ``window`` rows, and the
        combine is a broadcast left join of two ≤``window``-row frames.
        Both arms ride the update-aware ``_scored`` path. Extension
        beyond the reference (no equivalent API)."""
        base = (
            self.search_df(query)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(window))
        )
        values = self._proximity_values(rescore_phrase)
        if not values:
            return (
                base.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
            )
        ast = {
            "type": "proximity",
            "values": values,
            "slop": int(slop),
            "ordered": bool(ordered),
        }
        prox = (
            self._scored(ast)
            .withColumnRenamed("score", "_rescore")
            .join(F.broadcast(base.select("doc_id")), "doc_id")
        )
        self.last_strategy = (
            "rescore_window_update_arm"
            if self.updated_ids is not None
            else "rescore_window"
        )
        return (
            base.join(F.broadcast(prox), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(float(query_weight)) * F.col("score")
                    + F.lit(float(rescore_weight))
                    * F.coalesce(F.col("_rescore"), F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def synonym_search(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        top_k: int = 10,
    ) -> DataFrame:
        """Query-time synonym expansion (Lucene ``SynonymQuery`` /
        Elasticsearch ``synonym_graph`` search-time shape): every term
        leaf of the parsed query whose analyzed form has an entry in
        ``synonyms`` is rewritten into an OR group over the term and
        its analyzed alternatives — ``{"cat": ["feline"]}`` turns
        ``cat AND dog`` into ``(cat OR feline) AND dog``, the exact AST
        the parser itself would build for that string, so scoring,
        De Morgan algebra, masks, and the update arm all apply
        unchanged (each alternative scores with its own frozen-stats
        BM25; Lucene's blended-idf variant is a scoring choice this
        engine deliberately doesn't copy — documented divergence).

        Keys and values are analyzed with the index analyzer
        (doc mode): a key that analyzes to anything but one term is
        ignored; a multi-term value becomes a phrase alternative; a
        value that analyzes away (stopword) is dropped. Phrase leaves
        are never expanded (synonym-inside-phrase needs a position
        graph the index doesn't store — same restriction Lucene's
        query-time synonyms have without ``synonym_graph`` indexing).
        Extension beyond the reference (no synonym surface)."""
        from cs_search_engine_architecture_spark.functions.tokenizer import (
            tokenize,
        )

        analyzer = self.meta.get("analyzer", "reference")

        def _analyze(text: str) -> list[str]:
            toks, _ = tokenize(text, analyzer=analyzer)
            return list(toks)

        alts: dict[str, list[dict]] = {}
        for key, vals in synonyms.items():
            ktoks = _analyze(key)
            if len(ktoks) != 1:
                continue
            leaves: list[dict] = []
            for v in vals:
                vtoks = _analyze(v)
                if len(vtoks) == 1:
                    leaves.append({"type": "token", "value": vtoks[0]})
                elif len(vtoks) > 1:
                    leaves.append({"type": "phrase", "values": vtoks})
            if leaves:
                alts[ktoks[0]] = leaves

        def _rewrite(node):
            if not node or not isinstance(node, dict):
                return node
            t = node.get("type")
            if t == "token":
                cur = node
                for leaf in alts.get(node["value"], []):
                    cur = {
                        "type": "operator",
                        "operator": "or",
                        "left": cur,
                        "right": leaf,
                    }
                return cur
            if t == "operator":
                return {
                    "type": "operator",
                    "operator": node["operator"],
                    "left": _rewrite(node.get("left")),
                    "right": _rewrite(node.get("right")),
                }
            return node

        ast = _rewrite(
            parse_query(query, analyzer=analyzer)
        )
        if not ast:
            return self.spark.createDataFrame([], "doc_id long, score double")
        self.last_strategy = (
            "synonym_join_update_arm"
            if self.updated_ids is not None
            else "synonym_join"
        )
        return (
            self._scored(ast)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def more_like_this(
        self,
        doc_id: int,
        top_k: int = 10,
        max_terms: int = 25,
        corpus: DataFrame | None = None,
        predicate=None,
    ) -> DataFrame:
        """Lucene ``MoreLikeThis`` shape: fetch the seed doc's text (one
        indexed-corpus row — ``current_corpus`` is update-aware, so an
        in-place-updated seed expands from its CURRENT text), pick its
        ``max_terms`` highest tf·idf terms (ties → term asc; idf from
        the engine's frozen-stats dictionary), and serve them as ONE
        shared-scan disjunction with the seed excluded. Driver cost is
        one row fetch + one vocabulary-pruned dictionary probe —
        independent of corpus size; the query side is the same batched
        scan every expansion surface uses. Extension beyond the
        reference (no equivalent API). ``predicate`` applies filter
        context to the RESULTS over the same corpus the seed came from
        (``corpus`` or, by default, the update-aware indexed corpus);
        the seed fetch itself is unaffected."""
        from cs_search_engine_architecture_spark.functions.tokenizer import (
            tokenize,
        )

        src = corpus if corpus is not None else self.current_corpus()
        id_col = self.meta.get("doc_id_col", "doc_id")
        fields = self.meta["fields"]
        rows = (
            src.where(F.col(id_col) == F.lit(int(doc_id)))
            .select(*fields)
            .limit(1)
            .collect()
        )
        if not rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        analyzer = self.meta.get("analyzer", "reference")
        tf: dict[str, int] = {}
        for fld in fields:
            toks, _ = tokenize(rows[0][fld] or "", analyzer=analyzer)
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
        if not tf:
            return self.spark.createDataFrame([], "doc_id long, score double")
        idf = {
            r["term"]: float(r["idf"])
            for r in self.term_stats()
            .where(F.col("term").isin(list(tf)))
            .select("term", "idf")
            .collect()
        }
        ranked = sorted(
            ((t, tf[t] * idf[t]) for t in tf if t in idf),
            key=lambda kv: (-kv[1], kv[0]),
        )
        terms = [t for t, _ in ranked[:max_terms]]
        return self._expansion_topk(
            terms, top_k, exclude_doc_id=doc_id,
            allowed=self._allowed_ids(src, predicate, id_col),
        )

    def fuzzy_search(
        self,
        token: str,
        top_k: int = 10,
        min_similarity: float = 0.3,
        max_expansion: int = 8,
        exclude_threshold: int | None = None,
        corpus: DataFrame | None = None,
        predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Typo-tolerant single-token search (Lucene fuzzy-query shape):
        the k-gram spelling index expands ``token`` to its
        ``max_expansion`` most-similar vocabulary terms (multiset-Jaccard
        ≥ ``min_similarity``; the exact term scores 1.0), then ONE
        shared scan serves the similarity-WEIGHTED disjunction —
        score(doc) = Σ_t sim(token, t) · bm25_t(doc). Expansion probes
        the vocabulary-sized k-gram table (cost independent of corpus
        size); the weighted sum is the batch operator's aggregation with
        similarity as the weight column. Extension beyond the reference
        (its spelling module only rewrites the whole query to the single
        best correction)."""
        from cs_search_engine_architecture_spark.operators import (
            msearch as ms,
            spelling,
        )

        cands = spelling.fuzzy_candidates(
            self.spark, self.kgram_index(exclude_threshold), token,
            min_similarity, max_expansion,
        )
        if not cands:
            return self.spark.createDataFrame([], "doc_id long, score double")
        qterms = self.spark.createDataFrame(
            [(t, s) for t, s in cands], "term string, weight double"
        )
        postings = self._term_frame(
            lambda b: ms.multi_term_postings(
                b, [t for t, _ in cands], self.num_buckets
            )
        )
        agg = (
            postings.join(F.broadcast(qterms), "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("score") * F.col("weight")).alias("score"))
        )
        # the postings frame is already version-clean (_term_frame), so
        # mask DEAD ids only — updated docs keep their delta-only score
        dead = self._dead_ids()
        if dead is not None:
            agg = agg.join(F.broadcast(dead), "doc_id", "left_anti")
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        if allowed is not None:  # filter context, pre-limit (exact page)
            agg = agg.join(allowed, "doc_id", "left_semi")
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)

    def search_after(
        self,
        query: str,
        cursor: tuple[float, int] | None = None,
        top_k: int = 10,
    ) -> DataFrame:
        """Cursor-based deep pagination (Elasticsearch ``search_after``
        shape): returns the next ``top_k`` results STRICTLY AFTER
        ``cursor`` = (score, doc_id) of the previous page's last row, in
        the engine's total order (score desc, doc_id asc). Stateless and
        O(page) per call — unlike offset pagination, page N never
        re-materializes pages 1..N-1 through the limit, and because
        (score, doc_id) is a TOTAL order the pages partition the result
        set exactly (no doc skipped or repeated between pages) even
        when scores tie. Extension beyond the reference (its API returns
        one fixed top-k). Pass the cursor values exactly as collected
        from the previous page — the comparison is on the same double
        column, so no rounding drift."""
        scored = self._scored(
            parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        )
        if cursor is not None:
            c_score, c_doc = float(cursor[0]), int(cursor[1])
            scored = scored.where(
                (F.col("score") < F.lit(c_score))
                | (
                    (F.col("score") == F.lit(c_score))
                    & (F.col("doc_id") > F.lit(c_doc))
                )
            )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
        )

    def filtered_search(
        self,
        query: str,
        corpus: DataFrame,
        predicate,
        top_k: int = 10,
        doc_id_col: str = "doc_id",
        cursor: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Metadata-filtered search: the top ``top_k`` of ``query``
        restricted to corpus rows satisfying ``predicate`` (a SQL
        string or Column — e.g. ``"lang = 'en' AND source != 'spam'"``).
        The filter runs on the corpus scan (predicate pushdown applies)
        and restricts the scored frame via a doc_id semi-join — scores
        are the UNfiltered BM25 (Lucene's filter-context semantics:
        filters select, they never score), so the same doc ranks
        identically under any filter that admits it. At scale both
        sides shuffle on doc_id; a selective filter side is
        broadcast-eligible and AQE decides. Update/delete-aware via the
        same masked+arm frame as every surface.

        ``cursor`` composes filters with ``search_after`` pagination:
        because filter-context scores ARE the unfiltered scores, the
        (score desc, doc_id asc) total order restricted to the admitted
        set is still a total order — the same strictly-after predicate
        partitions the filtered result set exactly across pages."""
        allowed = corpus.where(predicate).select(
            F.col(doc_id_col).cast("long").alias("doc_id")
        )
        scored = self.search_df(query).join(allowed, "doc_id", "left_semi")
        if cursor is not None:
            c_score, c_doc = float(cursor[0]), int(cursor[1])
            scored = scored.where(
                (F.col("score") < F.lit(c_score))
                | (
                    (F.col("score") == F.lit(c_score))
                    & (F.col("doc_id") > F.lit(c_doc))
                )
            )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
        )

    def facet_counts(
        self,
        query: str,
        corpus: DataFrame,
        facet_col: str,
        top_n: int = 20,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """Facet aggregation over the FULL match set (not just top-k):
        (facet value, matching-doc count) for every doc matching
        ``query``, ordered (count desc, value asc) limit ``top_n`` —
        the search-analytics sidebar. One semi-join from the corpus to
        the matched doc_ids (shuffle on doc_id, no row widening) then a
        partial-aggregated groupBy on the facet column; at web scale
        both keys are near-uniform so neither side broadcasts the
        corpus. Update/delete-aware via the same masked+arm frame every
        other surface uses. ``predicate`` restricts the counted set to
        the filter context (the standard faceted-search sidebar: counts
        over query ∩ active filters) — applied on the corpus scan, so
        pushdown prunes before the semi-join.

        ``facet_col`` may be a column name OR any Column expression —
        range and date-histogram facets are the same aggregation over
        a computed bucket (e.g. ``F.floor(F.col("ts") / 3600)`` for an
        hourly histogram, a chained ``F.when`` ladder for range
        buckets); the expression evaluates row-locally on the corpus
        scan before the groupBy."""
        matched = self.search_df(query).select("doc_id")
        if predicate is not None:
            corpus = corpus.where(predicate)
        fc = F.col(facet_col) if isinstance(facet_col, str) else facet_col
        return (
            corpus.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                fc.alias("facet"),
            )
            .join(matched, "doc_id", "left_semi")
            .groupBy("facet")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("facet"))
            .limit(top_n)
        )

    def stats_agg(
        self,
        query: str,
        corpus: DataFrame,
        value_col,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """Numeric stats + cardinality aggregation over the FULL match
        set (Elasticsearch ``stats`` + ``cardinality`` agg shape): one
        row (count, min, max, sum, distinct, avg) of ``value_col``
        across every doc matching ``query`` — the metrics sidebar next
        to ``facet_counts``'s terms sidebar. ``value_col`` may be a
        column name or any Column expression (computed metrics
        evaluate row-locally on the corpus scan); ``predicate``
        restricts to the filter context exactly like ``facet_counts``.

        Same scale shape as facets: one semi-join from the corpus to
        the matched doc_ids (shuffle on doc_id, no row widening) into
        a single partial-aggregated global agg — one row out, nothing
        broadcast. ``avg`` is computed as ``sum/count`` in ONE double
        division (not a streaming mean), so on integer-valued columns
        every output is IEEE-exact and oracle-mirrorable; cardinality
        is exact ``count_distinct`` (at 100 TB swap in
        ``approx_count_distinct`` — same plan, sketch merge instead of
        the distinct shuffle). Update/delete-aware via the same
        masked+arm frame. Extension beyond the reference."""
        vals = self._matched_vals(query, corpus, value_col, doc_id_col, predicate)
        return (
            vals.agg(
                F.count(F.lit(1)).alias("count"),
                F.min("v").alias("min"),
                F.max("v").alias("max"),
                F.sum("v").alias("sum"),
                F.count_distinct(F.col("v")).alias("distinct"),
            )
            .withColumn(
                "avg", F.col("sum").cast("double") / F.col("count")
            )
        )

    def _matched_vals(
        self, query: str, corpus: DataFrame, value_col,
        doc_id_col: str = "doc_id", predicate=None,
    ) -> DataFrame:
        """(doc_id, v) of ``value_col`` over the FULL masked match set —
        the shared metric frame under ``stats_agg``/``percentiles_agg``."""
        matched = self.search_df(query).select("doc_id")
        if predicate is not None:
            corpus = corpus.where(predicate)
        vc = F.col(value_col) if isinstance(value_col, str) else value_col
        return corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            vc.alias("v"),
        ).join(matched, "doc_id", "left_semi")

    def cardinality_sketch(
        self,
        query: str,
        corpus: DataFrame,
        value_col,
        k: int = 64,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """Approximate distinct count of ``value_col`` over the FULL
        match set — the 100 TB swap-in that ``stats_agg``'s exact
        ``count_distinct`` documents: a bottom-k (KMV) sketch over the
        shared deterministic 60-bit hash (``operators/sketches.py``).
        Same match-frame plumbing as ``stats_agg`` (semi-join to the
        masked match set, ``predicate`` = filter context); the sketch
        replaces the distinct shuffle with per-partition bottom-k +
        one k-row merge (``TakeOrderedAndProject``), so the driver
        cost is O(k) regardless of corpus size. Returns one row
        (n_sketch, kth_hash, est_distinct); ``n_sketch < k`` means the
        count is exact. Update/delete-aware via the same masked match
        frame. Extension beyond the reference."""
        from cs_search_engine_architecture_spark.operators.sketches import (
            approx_distinct,
        )

        vals = self._matched_vals(
            query, corpus, value_col, doc_id_col, predicate
        )
        return approx_distinct(vals, "v", k)

    def percentiles_agg(
        self,
        query: str,
        corpus: DataFrame,
        value_col,
        qs: Sequence[float] = (0.5, 0.95),
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """EXACT discrete percentiles of ``value_col`` over the FULL
        match set (Elasticsearch ``percentiles`` agg shape): one
        (quantile, value) row per requested q, where value is the
        element at 0-based rank ``floor((n-1)*q)`` of the sorted
        matched values (quantile_disc semantics — no interpolation, so
        integer metrics stay integer-exact and oracle-mirrorable).

        Scale shape: the corpus is NEVER globally sorted and no per-doc
        rows reach the driver — the matched values collapse to a
        DISTINCT-value histogram (one bounded shuffle; for real metrics
        like lengths, status codes, scores the domain is tiny vs the
        corpus), a running-count window over that bounded histogram
        ranks it, and ONE aggregation picks every requested quantile
        (min v whose cumulative count reaches rank+1). If the value
        domain approaches corpus size, swap ``approx_percentile`` into
        the same plan. Empty match set yields null values.
        Update/delete-aware via the same masked match frame.
        Extension beyond the reference."""
        vals = self._matched_vals(query, corpus, value_col, doc_id_col, predicate)
        hist = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
        wcum = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wall = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = hist.select(
            "v",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        picks = cum.agg(
            *[
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.floor((F.col("n") - 1) * F.lit(float(q))) + 1,
                        F.col("v"),
                    )
                ).alias(f"_q{i}")
                for i, q in enumerate(qs)
            ]
        )
        stack = ", ".join(
            f"CAST({float(q)} AS DOUBLE), `_q{i}`" for i, q in enumerate(qs)
        )
        return picks.select(
            F.expr(f"stack({len(qs)}, {stack}) AS (quantile, value)")
        )

    def export_matches(
        self,
        query: str,
        path: str,
        with_text: bool = False,
        predicate=None,
    ) -> int:
        """Write the FULL masked match set of ``query`` — every
        (doc_id, score), not a top-k — to ``path`` as parquet; returns
        the row count (from the write's own frame, no second job).
        The ETL/export companion to cursor paging: reindexing,
        downstream joins, corpus extraction. ``with_text`` joins the
        match set back to the corpus (semi-join on doc_id — the
        corpus-side scan prunes columns, never the reverse join
        direction); ``predicate`` restricts in filter context (selects,
        never scores — same discipline as ``filtered_search``).
        Distributed end to end: scores stream from executors straight
        to the parquet sink, nothing passes through the driver."""
        ast = parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        if not ast:
            self.spark.createDataFrame(
                [], "doc_id long, score double"
            ).write.mode("overwrite").parquet(path)
            return 0
        out = self._scored(ast)
        # current_corpus() keeps the SOURCE id column name; scored
        # frames always call it doc_id — align before joining (a
        # custom --doc-id-col index crashes otherwise)
        id_col = self.meta.get("doc_id_col", "doc_id")
        if predicate is not None:
            admitted = self.current_corpus().where(predicate).select(
                F.col(id_col).cast("long").alias("doc_id")
            )
            out = out.join(admitted, "doc_id", "left_semi")
        if with_text:
            out = out.join(
                self.current_corpus().withColumn(
                    "doc_id", F.col(id_col).cast("long")
                ).drop(*([id_col] if id_col != "doc_id" else [])),
                "doc_id",
            )
        out.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path).count()

    def count(self, query: str) -> int:
        """Total-hit count of ``query`` (Lucene
        ``TotalHitCountCollector`` shape): the size of the FULL masked
        match set — no top-k, no scores collected. Uses the same
        masked + update-arm frame as every surface, so deletes/updates
        are exact; the count job never materializes scores to the
        driver (one long per partition)."""
        ast = parse_query(query, analyzer=self.meta.get("analyzer", "reference"))
        if not ast:
            return 0
        return self._scored(ast).count()

    def explain_score(self, query: str, doc_id: int) -> dict:
        """Per-term score breakdown for ONE document (Lucene
        ``IndexSearcher.explain`` shape — extension beyond the
        reference): for each leaf term of ``query``, the doc's stored
        BM25 contribution plus the dictionary's df/idf; ``total`` is
        the strict left-fold sum in query-term order (the compiler's
        OR accumulation order). Update-aware: postings come through
        ``_term_frame`` (an updated doc explains from its CURRENT
        version), and a deleted doc reports ``alive: False`` with no
        contributions. Driver cost: one bucket-pruned postings probe
        filtered to one doc_id + one vocab-pruned dictionary probe."""
        from cs_search_engine_architecture_spark.operators import msearch as ms

        doc_id = int(doc_id)
        terms = self._leaf_terms(query)
        out: dict = {"doc_id": doc_id, "alive": True, "total": 0.0,
                     "terms": {}}
        dead = self._dead_ids()
        if dead is not None and dead.where(
            F.col("doc_id") == F.lit(doc_id)
        ).count() > 0:
            out["alive"] = False
            return out
        if not terms:
            return out
        frame = self._term_frame(
            lambda b: ms.multi_term_postings(b, terms, self.num_buckets)
        )
        scores = {
            r["term"]: float(r["score"])
            for r in frame.where(F.col("doc_id") == F.lit(doc_id)).collect()
        }
        stats = {
            r["term"]: (int(r["df"]), float(r["idf"]))
            for r in self.term_stats()
            .where(F.col("term").isin(terms))
            .select("term", "df", "idf")
            .collect()
        }
        total = 0.0
        for t in terms:
            entry: dict = {}
            if t in stats:
                entry["df"], entry["idf"] = stats[t]
            if t in scores:
                entry["score"] = scores[t]
                total = total + scores[t]
            out["terms"][t] = entry
        out["total"] = total
        return out

    def significant_terms(
        self,
        query: str,
        corpus: DataFrame | None = None,
        top_n: int = 10,
        min_doc_count: int = 2,
        doc_id_col: str = "doc_id",
        predicate=None,
    ) -> DataFrame:
        """Significant-terms aggregation (Elasticsearch shape): terms
        over-represented in the query's match set vs the whole corpus,
        scored with the JLH heuristic
        ``(fg_pct − bg_pct) · (fg_pct / bg_pct)`` where
        fg_pct = fg_df / |matches| and bg_pct = df / N. Returns
        (term, fg_count, score) ordered (score desc, term asc).

        Shape at scale: the match set is query-bounded; the matched
        docs are re-tokenized row-locally (semi-join corpus→matches on
        doc_id — never the full corpus), the per-term foreground
        counts are one bounded shuffle, and the background df comes
        from the vocabulary-sized dictionary — no postings-wide scan.
        Every arithmetic step is a single IEEE double op on integer
        operands in a fixed order, so the DuckDB oracle is bit-exact.
        Update/delete-aware via the masked match set and the
        update-aware ``current_corpus``.

        ``predicate`` restricts the FOREGROUND to query ∩ filter (the
        ES significant-terms-under-a-filtered-search shape); the
        background stays the whole index, so scores measure
        over-representation of the filtered slice against the corpus
        at large."""
        matched = self.search_df(query).select("doc_id")
        src = corpus if corpus is not None else self.current_corpus()
        if predicate is not None:
            src = src.where(predicate)
        sub = (
            src.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                *self.meta["fields"],
            )
            .join(matched, "doc_id", "left_semi")
        )
        fg_total = sub.count()
        if fg_total == 0:
            return self.spark.createDataFrame(
                [], "term string, fg_count long, score double"
            )
        n_docs = int(self.meta["num_documents"])
        fg = (
            indexer.tokenize_postings(
                sub, self.meta["fields"],
                analyzer=self.meta.get("analyzer", "reference"),
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg_count"))
            .where(F.col("fg_count") >= F.lit(int(min_doc_count)))
        )
        fg_pct = F.col("fg_count").cast("double") / F.lit(float(fg_total))
        bg_pct = F.col("df").cast("double") / F.lit(float(n_docs))
        return (
            fg.join(self.term_stats().select("term", "df"), "term")
            .select(
                "term",
                "fg_count",
                ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(top_n)
        )

    def term_stats(self) -> DataFrame:
        """Serving-time term dictionary: base stats unioned with the
        delta segments' (df summed across tiers, idf FROZEN — the base
        value, or the df=0 idf a delta scored an unseen term with). The
        delta union keeps the expansion surfaces (prefix_search /
        fuzzy_search / suggest) live for terms that first appear via
        add_docs / live ingest BEFORE the next compaction; scoring never
        reads this frame (scores are baked into the blocks), so gate
        semantics are untouched."""
        if not hasattr(self, "_term_stats"):
            base = indexer.load_term_stats(self.spark, self.index_path)
            delta = indexer.load_delta_term_stats(self.spark, self.index_path)
            if delta is None:
                self._term_stats = base
            else:
                d = delta.groupBy("term").agg(
                    F.sum("df_local").alias("df_delta"),
                    F.min("idf").alias("idf_delta"),
                    F.min("term_id").alias("term_id_delta"),
                )
                self._term_stats = base.join(d, "term", "full_outer").select(
                    "term",
                    (
                        F.coalesce(F.col("df"), F.lit(0))
                        + F.coalesce(F.col("df_delta"), F.lit(0))
                    ).alias("df"),
                    F.coalesce("idf", "idf_delta").alias("idf"),
                    F.coalesce("term_id", "term_id_delta").alias("term_id"),
                    F.coalesce(
                        F.col("term_bucket"),
                        F.pmod(
                            F.xxhash64("term"), F.lit(self.num_buckets)
                        ).cast("int"),
                    ).alias("term_bucket"),
                )
        return self._term_stats

    def kgram_index(self, exclude_threshold: int | None = None) -> DataFrame:
        """Cached spelling k-gram table (reference builds it at engine
        startup — ``sea/engine.pyx:135``)."""
        from cs_search_engine_architecture_spark.operators import spelling

        thr = (
            exclude_threshold
            if exclude_threshold is not None
            else spelling.DEFAULT_EXCLUDE_THRESHOLD
        )
        if not hasattr(self, "_kgram"):
            self._kgram: dict[int, DataFrame] = {}
        if thr not in self._kgram:
            self._kgram[thr] = spelling.build_kgram_index(
                self.term_stats(), thr
            ).persist()
        return self._kgram[thr]

    def suggest(
        self, query: str, min_similarity: float = 0.75,
        exclude_threshold: int | None = None,
    ) -> tuple[str, int]:
        """'Did you mean' (``sea/engine.pyx:526-529``): corrected query
        string + how many tokens changed (advisory only)."""
        from cs_search_engine_architecture_spark.operators import spelling

        terms = self._leaf_terms(query)
        corrected, n = spelling.correct_query_tokens(
            self.spark, self.kgram_index(exclude_threshold), terms,
            min_similarity,
        )
        mapping = dict(zip(terms, corrected))
        # the reference rebuilds the query from ALL tokens (operators kept
        # verbatim, content terms replaced) — sea/spelling_corrector.pyx
        # get_top_correction's space-joined corrections vector
        out = " ".join(mapping.get(t, t) for t in self._query_tokens(query))
        return out, n

    def _num_query_tokens(self, query: str) -> int:
        """The LTR coverage denominator is ``tokenized_query.tokens.
        size()`` — query-mode tokenization KEEPS operator words
        (``sea/tokenizer.pyx:21-23``), so "spark or data" counts 3
        (reference quirk, ``feature_mapping.pyx:39,44``)."""
        return len(self._query_tokens(query))

    def _query_tokens(self, query: str) -> list[str]:
        from cs_search_engine_architecture_spark.functions.tokenizer import (
            tokenize,
        )

        toks, _ = tokenize(
            query, is_query=True,
            analyzer=self.meta.get("analyzer", "reference"),
        )
        return list(toks)

    def search_with_snippets(
        self, query: str, corpus: DataFrame, top_k: int = 10,
        text_cols: list[str] | None = None, predicate=None,
    ) -> DataFrame:
        """Top-k joined back to the corpus with a ±100-char snippet
        around the first matched-term position (reference Q10).
        Snippet position comes from the INDEX (first position of the
        earliest query leaf present in the doc), like the reference's
        ``snippet_position``; the expression runs on top-k rows only.
        ``predicate`` applies filter context over ``corpus`` (the page
        becomes ``filtered_search``'s; snippet logic unchanged)."""
        from cs_search_engine_architecture_spark.operators.decode import (
            term_postings,
        )
        from cs_search_engine_architecture_spark.operators.snippets import (
            snippet_col,
        )

        text_cols = text_cols or self.meta["fields"]
        top = (
            self.filtered_search(query, corpus, predicate, top_k)
            if predicate is not None
            else self.search(query, top_k)
        )
        leaves = self._leaf_terms(query)[:8]  # bound plan size
        pos_frames = [
            self._term_frame(
                lambda b, _t=t: term_postings(
                    b, _t, self.num_buckets, with_positions=True
                )
            ).select(
                "doc_id",
                F.element_at("positions", 1).alias("_pos"),
                F.lit(i).alias("_leaf"),
            )
            for i, t in enumerate(leaves)
        ]
        if pos_frames:
            allpos = pos_frames[0]
            for f in pos_frames[1:]:
                allpos = allpos.unionByName(f)
            # restrict to the top-k ids BEFORE the aggregate: a hot
            # term's positional decode otherwise shuffles the whole
            # match set through the groupBy just to snippet k rows —
            # the broadcast semi-join pushes through the union into
            # each leaf's pruned scan
            allpos = allpos.join(
                F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
            )
            firstpos = allpos.groupBy("doc_id").agg(
                F.min_by("_pos", "_leaf").alias("snippet_pos")
            )
            top = top.join(firstpos, "doc_id", "left")
        else:
            top = top.withColumn("snippet_pos", F.lit(None).cast("int"))
        joined = self.materialize(top, corpus)
        text = F.concat_ws(" ", *text_cols)
        return joined.withColumn(
            "snippet", snippet_col(text, F.col("snippet_pos"))
        )

    def ltr_features(self, query: str, top: DataFrame | None = None) -> DataFrame:
        """R1 feature frame for the query's matched docs (optionally
        restricted to a top-k frame via a broadcast semi-join)."""
        from cs_search_engine_architecture_spark.operators.decode import (
            term_postings_full,
        )
        from cs_search_engine_architecture_spark.operators.ltr import (
            feature_frame,
        )

        terms = self._leaf_terms(query)
        nf = self.meta["num_fields"]
        stats = {
            r["term"]: r["idf"]
            for r in self.term_stats()
            .where(F.col("term").isin(terms))
            .collect()
        }
        frames = []
        for t in terms:
            if t not in stats:
                continue
            frames.append(
                self._term_frame(
                    lambda b, _t=t: term_postings_full(
                        b, _t, self.num_buckets, nf
                    )
                ).withColumn("idf", F.lit(float(stats[t])))
            )
        if not frames:
            return self.spark.createDataFrame([], "doc_id long")
        matched = frames[0]
        for f in frames[1:]:
            matched = matched.unionByName(f)
        if top is not None:
            matched = matched.join(
                F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
            )
        return feature_frame(
            matched,
            num_query_terms=self._num_query_tokens(query),
            num_fields=nf,
            avg_field_lengths=self.meta["avg_field_lengths"],
            k=self.meta["bm25_k"],
            bs=self.meta["bm25_bs"],
        )

    def ltr_features_batch(
        self, queries: dict[str, str], top: DataFrame | None = None
    ) -> DataFrame:
        """R1 feature frames for MANY queries in ONE job — the offline
        LTR training-sweep shape (R6 at scale): the union of all
        queries' leaf terms decodes from one shared pruned scan
        (``multi_term_postings_full``), a broadcast (query_id, term,
        idf, nq) map fans rows out to their queries, and feature
        aggregation keys on (query_id, doc_id). Returns the ``ltr_
        features`` columns prefixed by ``query_id``; ``top`` (optional
        (query_id, doc_id) frame) restricts each query's rows."""
        from cs_search_engine_architecture_spark.operators.decode import (
            multi_term_postings_full,
        )
        from cs_search_engine_architecture_spark.operators.ltr import (
            feature_frame,
        )

        nf = self.meta["num_fields"]
        pairs: list[tuple[str, str]] = []
        nq: dict[str, int] = {}
        for qid, qstr in queries.items():
            for t in self._leaf_terms(qstr):
                pairs.append((qid, t))
            nq[qid] = max(self._num_query_tokens(qstr), 1)
        all_terms = sorted({t for _, t in pairs})
        stats = {
            r["term"]: r["idf"]
            for r in self.term_stats()
            .where(F.col("term").isin(all_terms))
            .collect()
        }
        rows = [
            (qid, t, float(stats[t]), float(nq[qid]))
            for qid, t in pairs
            if t in stats
        ]
        if not rows:
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long"
            )
        qmap = self.spark.createDataFrame(
            rows, "query_id string, term string, idf double, nq double"
        )
        matched = self._term_frame(
            lambda b: multi_term_postings_full(
                b, [t for t in all_terms if t in stats],
                self.num_buckets, nf,
            )
        ).join(F.broadcast(qmap), "term")
        if top is not None:
            matched = matched.join(
                F.broadcast(top.select("query_id", "doc_id")),
                ["query_id", "doc_id"],
                "left_semi",
            )
        return feature_frame(
            matched,
            num_query_terms=1,  # unused — nq_col supplies per-query counts
            num_fields=nf,
            avg_field_lengths=self.meta["avg_field_lengths"],
            k=self.meta["bm25_k"],
            bs=self.meta["bm25_bs"],
            group_cols=("query_id", "doc_id"),
            nq_col="nq",
        )

    def doc_lens(self) -> DataFrame:
        """Cached per-doc field-length side table (see indexer). With
        in-place updates present, an updated doc has a base AND a delta
        row — keep the delta's (current) lengths only."""
        if not hasattr(self, "_doc_lens"):
            nf = self.meta["num_fields"]
            if self.updated_ids is None:
                self._doc_lens = indexer.load_doc_lens(
                    self.spark, self.index_path, nf
                )
            else:
                base = indexer.load_doc_lens(
                    self.spark, self.index_path, nf, include_deltas=False
                ).join(F.broadcast(self.updated_ids), "doc_id", "left_anti")
                delta = indexer.load_delta_doc_lens(
                    self.spark, self.index_path, nf
                )
                self._doc_lens = base.unionByName(delta)
        return self._doc_lens

    def search_ltr(
        self,
        query: str,
        top_k: int = 10,
        pre_select_k: int = 50,
        ltr_weights: str | None = None,
        candidates: DataFrame | None = None,
    ) -> DataFrame:
        """``exact_search(..., ltr_enabled=True)`` parity
        (``sea/engine.pyx:584-607``): BM25 retrieves, the top
        ``pre_select_k`` get R1 features, the ListNet MLP re-ranks them,
        and the final order is (ltr_score desc, doc_id asc) limit k.
        Returns (doc_id, score [index BM25], ltr_score).

        ``candidates`` (optional) replaces the BM25 retrieval with a
        caller-supplied (doc_id, score) frame — e.g. a
        ``filtered_search`` page, so LTR composes with filter context
        (the filter selects candidates; features/scores are computed
        exactly as on the unfiltered path)."""
        from cs_search_engine_architecture_spark.operators import ltr

        if ltr_weights is None:
            raise ValueError("search_ltr requires an ltr_weights .npz path")
        top = (
            candidates.select("doc_id", "score")
            if candidates is not None
            else self.search(query, pre_select_k)
        )
        feats = self.ltr_features(query, top=top)
        order = ltr.feature_order(self.meta["num_fields"])
        scored = ltr.rerank(feats, ltr_weights, order)
        return (
            top.join(F.broadcast(scored), "doc_id")
            .orderBy(F.desc("ltr_score"), F.asc("doc_id"))
            .limit(top_k)
            .select("doc_id", "score", "ltr_score")
        )

    def semantic_search(
        self, embeddings: DataFrame, qvec, top_k: int = 10,
        id_col: str = "vec_id", predicate=None,
    ) -> DataFrame:
        """R3: exact brute-force cosine top-k over the embeddings table
        (the reference is also exact — no ANN; ``sea/engine.pyx:555-565``).
        Returns (doc_id, similarity). ``predicate`` (over the embedding
        table's columns) is pre-filter semantics — the exact top-k of
        the admitted rows, the vector twin of ``filtered_search``'s
        filter context (admitted docs score identically under any
        filter)."""
        from cs_search_engine_architecture_spark.operators.similarity import (
            brute_force_topk,
        )

        scored = brute_force_topk(
            # over-fetch by the tombstone count so the mask cannot
            # shrink the semantic top-k (same exactness argument as the
            # lexical fast paths)
            embeddings, qvec, top_k + self._num_tombstones(), id_col=id_col,
            predicate=predicate,
        ).select(F.col("id").alias("doc_id"), F.col("cos").alias("similarity"))
        # mask with DEAD ids only: in-place-updated docs still exist —
        # their tombstone masks old lexical postings, not the doc
        dead = self._dead_ids()
        if dead is None:
            return scored
        return (
            scored.join(F.broadcast(dead), "doc_id", "left_anti")
            .orderBy(F.desc("similarity"), F.asc("doc_id"))
            .limit(top_k)
        )

    def semantic_search_mmr(
        self, embeddings: DataFrame, qvec, top_k: int = 10,
        candidate_k: int = 50, lam: float = 0.7,
        id_col: str = "vec_id", predicate=None,
    ) -> DataFrame:
        """Diversified semantic top-k: MMR greedy selection
        (``similarity.mmr_rerank``) over the masked exact candidates —
        near-duplicate hits stop crowding the page. ``lam = 1.0``
        reduces to ``semantic_search``'s order exactly. Candidate
        generation is the distributed masked ``semantic_search`` (so
        deletes/updates and ``predicate`` filter context compose); only
        the ``candidate_k`` survivors' vectors reach the driver for the
        inherently-sequential greedy pass. Returns
        (doc_id, similarity, mmr, rank). Extension beyond the
        reference."""
        from cs_search_engine_architecture_spark.operators.similarity import (
            mmr_rerank,
        )

        cands = self.semantic_search(
            embeddings, qvec, candidate_k, id_col, predicate=predicate
        ).select(
            F.col("doc_id").alias("id"), F.col("similarity").alias("cos")
        )
        return mmr_rerank(
            embeddings, qvec, k=top_k, lam=lam, id_col=id_col,
            candidates=cands,
        ).select(
            F.col("id").alias("doc_id"),
            F.col("cos").alias("similarity"),
            "mmr",
            "rank",
        )

    def _filtered_arms(
        self, query: str, embeddings: DataFrame, qvec,
        pre_select_k: int, sem_k: int, id_col: str,
        corpus: DataFrame, predicate, doc_id_col: str = "doc_id",
    ) -> tuple[DataFrame, DataFrame]:
        """Both hybrid arms restricted to the corpus rows satisfying
        ``predicate`` — ONE filter-context definition across the union
        (the admitted-doc set comes from the corpus predicate; scores
        on both arms are the unfiltered scores, so any doc the filter
        admits ranks exactly as it does unfiltered). The lexical arm is
        ``filtered_search``; the semantic arm semi-joins the embeddings
        to the admitted ids BEFORE its top-k (filtering after the limit
        would starve the page — the post-filter ANN failure mode)."""
        allowed = self._allowed_ids(corpus, predicate, doc_id_col)
        exact = self.filtered_search(
            query, corpus, predicate, top_k=pre_select_k,
            doc_id_col=doc_id_col,
        )
        emb_f = embeddings.join(
            allowed.select(F.col("doc_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        sem = self.semantic_search(emb_f, qvec, sem_k, id_col)
        return exact, sem

    def _hybrid_union(
        self, query: str, embeddings: DataFrame, qvec,
        pre_select_k: int, sem_k: int, id_col: str,
    ) -> DataFrame:
        """Exact top-``pre_select_k`` ∪ semantic top-``sem_k`` with
        provenance labels (``sea/engine.pyx:612-641``):
        (doc_id, bm25, similarity, provenance)."""
        return self._union_frames(
            self.search(query, pre_select_k),
            self.semantic_search(embeddings, qvec, sem_k, id_col),
        )

    @staticmethod
    def _union_frames(exact: DataFrame, sem: DataFrame) -> DataFrame:
        exact = exact.select("doc_id", F.col("score").alias("bm25"))
        return exact.join(sem, "doc_id", "full_outer").select(
            "doc_id",
            F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
            F.coalesce("similarity", F.lit(0.0)).alias("similarity"),
            F.when(
                F.col("bm25").isNotNull() & F.col("similarity").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("bm25").isNotNull(), F.lit("exact"))
            .otherwise(F.lit("semantic"))
            .alias("provenance"),
        )

    def hybrid_features(self, query: str, union: DataFrame) -> DataFrame:
        """R1 feature frame for a hybrid union frame, reproducing the
        reference's ``merge_postings`` double-count: docs found by BOTH
        paths carry the exact posting's matched tokens AND the semantic
        ``simulate_search_result`` posting's (``sea/posting_list.pyx:
        7-21``), so every matched term contributes twice to bm25 and
        coverage (weight = 2). Semantic-only docs that match no query
        term still get a feature row (zeros + real field lengths from
        the ``doc_lens`` side table — the distributed stand-in for the
        reference's on-the-fly re-tokenization, ``sea/engine.pyx:
        225-277``)."""
        from cs_search_engine_architecture_spark.operators.decode import (
            term_postings_full,
        )
        from cs_search_engine_architecture_spark.operators.ltr import (
            feature_frame,
        )

        terms = self._leaf_terms(query)
        nf = self.meta["num_fields"]
        stats = {
            r["term"]: r["idf"]
            for r in self.term_stats()
            .where(F.col("term").isin(terms))
            .collect()
        }
        frames = []
        for t in terms:
            if t not in stats:
                continue
            frames.append(
                self._term_frame(
                    lambda b, _t=t: term_postings_full(
                        b, _t, self.num_buckets, nf
                    )
                ).withColumn("idf", F.lit(float(stats[t])))
            )
        weights = union.select(
            "doc_id",
            F.when(F.col("provenance") == "both", F.lit(2))
            .otherwise(F.lit(1))
            .alias("w"),
        )
        if frames:
            matched = frames[0]
            for f in frames[1:]:
                matched = matched.unionByName(f)
            matched = matched.join(F.broadcast(weights), "doc_id")
        else:
            matched = self.spark.createDataFrame(
                [],
                "doc_id long, score double, field_freqs array<int>, "
                "field_lens array<int>, positions array<int>, idf double, "
                "w int",
            )
        return feature_frame(
            matched,
            num_query_terms=self._num_query_tokens(query),
            num_fields=nf,
            avg_field_lengths=self.meta["avg_field_lengths"],
            k=self.meta["bm25_k"],
            bs=self.meta["bm25_bs"],
            similarity=union.select("doc_id", "similarity"),
            universe=union,
            doc_lens=self.doc_lens(),
            weight_col="w",
        )

    def combined_search_ann(
        self, query: str, ann_index_path: str, qvec,
        top_k: int = 10, pre_select_k: int = 50,
        sem_k: int | None = None, ltr_weights: str | None = None,
        ann_kind: str = "lsh", n_probe: int = 4,
        corpus: DataFrame | None = None, predicate=None,
        ann_predicate=None, doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Hybrid search with the semantic side served from a PERSISTED
        ANN index (partition-pruned LSH bucket or IVF cells) instead of
        a full-corpus exact scan — the 100 TB shape of the semantic arm
        (the reference matmuls the whole embedding matrix per query,
        ``sea/engine.pyx:555-565``; exact stays available via
        ``combined_search``). Semantics after candidate generation are
        identical: cosine scores, (cos desc, id asc) top-k, union +
        provenance + optional ListNet rerank.

        Filter context: ``predicate`` (+ ``corpus``) restricts the
        LEXICAL arm via ``filtered_search``; ``ann_predicate``
        restricts the ANN arm on columns baked into the index
        (``build_*_index(meta_cols=...)``) BEFORE its top-k. Pass the
        same logical condition in both forms for a consistent admitted
        set — the two arms read different tables (corpus vs persisted
        index), so the predicate must be expressed against each."""
        from cs_search_engine_architecture_spark.operators import similarity

        sem_k = sem_k if sem_k is not None else pre_select_k
        fetch_k = sem_k + self._num_tombstones()  # mask can't shrink top-k
        if ann_kind == "lsh":
            sem = similarity.ann_search(
                self.spark, ann_index_path, qvec, fetch_k,
                predicate=ann_predicate,
            )
        elif ann_kind == "ivf":
            sem = similarity.ivf_search(
                self.spark, ann_index_path, qvec, fetch_k, n_probe=n_probe,
                predicate=ann_predicate,
            )
        else:
            raise ValueError(f"unknown ann_kind {ann_kind!r}")
        sem = sem.select(
            F.col("id").alias("doc_id"), F.col("cos").alias("similarity")
        )
        dead = self._dead_ids()  # updated docs still exist semantically
        if dead is not None:
            sem = (
                sem.join(F.broadcast(dead), "doc_id", "left_anti")
                .orderBy(F.desc("similarity"), F.asc("doc_id"))
                .limit(sem_k)
            )
        if predicate is not None:
            if corpus is None:
                raise ValueError(
                    "combined_search_ann(predicate=...) needs corpus="
                )
            exact = self.filtered_search(
                query, corpus, predicate, top_k=pre_select_k,
                doc_id_col=doc_id_col,
            )
        else:
            exact = self.search(query, pre_select_k)
        return self._hybrid_rank(query, exact, sem, top_k, ltr_weights)

    def combined_search(
        self, query: str, embeddings: DataFrame, qvec,
        top_k: int = 10, pre_select_k: int = 50, id_col: str = "vec_id",
        sem_k: int | None = None, ltr_weights: str | None = None,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """R4 hybrid (``sea/engine.pyx:612-658``).

        With ``ltr_weights``: REFERENCE PARITY — the exact∪semantic
        union is feature-ized (double-count quirk included, on-the-fly
        BM25 features for semantic-only hits) and ALWAYS re-ranked by
        the ListNet MLP (``sea/engine.pyx:643`` → ``_rank_documents``
        ``:500-517``); final order (ltr_score desc, doc_id asc) — the
        deterministic form of torch.argsort's tie handling. Returns
        (doc_id, ltr_score, bm25, similarity, provenance).

        Without weights (legacy fallback, kept for ad-hoc use): order by
        bm25 + similarity. Returns (doc_id, bm25, similarity,
        provenance, score).

        ``predicate`` (+ ``corpus``) restricts BOTH arms to the
        admitted corpus rows with filter-context semantics
        (``_filtered_arms``): per-doc scores/features are identical to
        the unfiltered path, so the filtered hybrid page is exactly the
        unfiltered ranking restricted to the admitted candidates."""
        sem_k = sem_k if sem_k is not None else pre_select_k
        if predicate is not None:
            if corpus is None:
                raise ValueError(
                    "combined_search(predicate=...) needs corpus="
                )
            exact, sem = self._filtered_arms(
                query, embeddings, qvec, pre_select_k, sem_k, id_col,
                corpus, predicate, doc_id_col,
            )
        else:
            exact = self.search(query, pre_select_k)
            sem = self.semantic_search(embeddings, qvec, sem_k, id_col)
        return self._hybrid_rank(query, exact, sem, top_k, ltr_weights)

    def _hybrid_rank(
        self, query: str, exact: DataFrame, sem: DataFrame,
        top_k: int, ltr_weights: str | None,
    ) -> DataFrame:
        """Union + provenance + final ranking, shared by the exact-scan
        and ANN-served hybrid paths."""
        joined = self._union_frames(exact, sem)
        if ltr_weights is None:
            return (
                joined.withColumn("score", F.col("bm25") + F.col("similarity"))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(top_k)
            )
        from cs_search_engine_architecture_spark.operators import ltr

        feats = self.hybrid_features(query, joined)
        order = ltr.feature_order(self.meta["num_fields"])
        scored = ltr.rerank(feats, ltr_weights, order)
        return (
            joined.join(F.broadcast(scored), "doc_id")
            .orderBy(F.desc("ltr_score"), F.asc("doc_id"))
            .limit(top_k)
            .select("doc_id", "ltr_score", "bm25", "similarity", "provenance")
        )

    def combined_search_rrf(
        self, query: str, embeddings: DataFrame, qvec,
        top_k: int = 10, pre_select_k: int = 50, id_col: str = "vec_id",
        sem_k: int | None = None, rrf_k: int = 60,
        corpus: DataFrame | None = None, predicate=None,
        doc_id_col: str = "doc_id",
    ) -> DataFrame:
        """Hybrid fusion by Reciprocal Rank Fusion (Cormack et al.,
        SIGIR'09 — the standard score-free alternative to the
        reference's LTR rerank): score(d) = Σ_arms 1/(rrf_k + rank_d),
        ranks taken within each arm under the engine's total order
        (score desc, doc_id asc). Rank-based fusion is immune to the
        arms' incomparable score scales (BM25 vs cosine), and the
        scores are exactly reproducible — each contribution is one IEEE
        double division on integer operands, summed in a fixed
        exact-then-semantic order, so the oracle mirrors it bit-for-bit.
        The windows run over the ≤ pre_select_k + sem_k union rows
        (serving-sized, never corpus-sized). Returns
        (doc_id, score, provenance). Extension beyond the reference.

        ``predicate`` (+ ``corpus``) restricts both arms to the
        admitted corpus rows BEFORE the per-arm ranks are assigned
        (``_filtered_arms``) — ranks are dense over the admitted
        candidates, the standard filtered-RRF semantics."""
        sem_k = sem_k if sem_k is not None else pre_select_k
        if predicate is not None:
            if corpus is None:
                raise ValueError(
                    "combined_search_rrf(predicate=...) needs corpus="
                )
            exact, sem = self._filtered_arms(
                query, embeddings, qvec, pre_select_k, sem_k, id_col,
                corpus, predicate, doc_id_col,
            )
            union = self._union_frames(exact, sem)
        else:
            union = self._hybrid_union(
                query, embeddings, qvec, pre_select_k, sem_k, id_col
            )
        we = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
        ws = Window.orderBy(F.desc("similarity"), F.asc("doc_id"))
        exact_r = (
            union.where(F.col("provenance") != "semantic")
            .withColumn("r_exact", F.row_number().over(we))
            .select("doc_id", "r_exact")
        )
        sem_r = (
            union.where(F.col("provenance") != "exact")
            .withColumn("r_sem", F.row_number().over(ws))
            .select("doc_id", "r_sem")
        )
        k0 = F.lit(float(rrf_k))
        return (
            exact_r.join(sem_r, "doc_id", "full_outer")
            .select(
                "doc_id",
                (
                    F.coalesce(
                        F.lit(1.0) / (k0 + F.col("r_exact")), F.lit(0.0)
                    )
                    + F.coalesce(
                        F.lit(1.0) / (k0 + F.col("r_sem")), F.lit(0.0)
                    )
                ).alias("score"),
                F.when(
                    F.col("r_exact").isNotNull() & F.col("r_sem").isNotNull(),
                    F.lit("both"),
                )
                .when(F.col("r_exact").isNotNull(), F.lit("exact"))
                .otherwise(F.lit("semantic"))
                .alias("provenance"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )
