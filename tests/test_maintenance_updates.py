"""Round-4 maintenance semantics: per-arm tombstone scoping on the
corpus surface, dead-delta-doc exclusion in resurrection arms, crash
ordering / replay of in-place updates, multi-update-per-id between
compactions (property-tested against a from-scratch rebuild), and the
restored fast-path / msearch serving under pending updates."""

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import indexer

DOCS = [
    (0, "spark shuffle makes wide plans fast"),
    (1, "hash join beats merge join on small tables"),
    (2, "sorted merge join shines for big runs"),
    (3, "the planner picks hash join or merge join"),
    (4, "spark planner prefers broadcast hash join"),
    (5, "a shuffle heavy query with skewed keys"),
    (6, "spark spark spark repeated for frequency"),
    (7, "delta gap varint blocks compress postings"),
]


def _build(spark, tmp_path, name="idx"):
    out = str(tmp_path / name)
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / f"{name}_corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_current_corpus_drops_added_then_deleted(spark, tmp_path):
    """A doc ADDED via add_docs and later DELETED must not resurrect in
    current_corpus (the delta-union arm is masked with dead ids, per-arm
    scoping like compact_index)."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "ephemeral qqadded doc")]))
    indexer.delete_docs(spark, out, [100])
    eng = SearchEngine(spark, out, cache=False)
    ids = {r["doc_id"] for r in eng.current_corpus().collect()}
    assert 100 not in ids
    assert ids == {d for d, _ in DOCS}
    # and an updated doc's NEW version still survives the mask
    indexer.update_docs(spark, out, _df(spark, [(0, "qqupdated text zero")]))
    eng2 = SearchEngine(spark, out, cache=False)
    cur = {r["doc_id"]: r["text"] for r in eng2.current_corpus().collect()}
    assert cur[0] == "qqupdated text zero"
    assert 100 not in cur and len(cur) == len(DOCS)


def test_prefix_search_arm_excludes_dead_delta_docs(spark, tmp_path):
    """Tombstoned delta docs must not occupy the resurrection arm's
    top_k cut and evict an in-place-updated doc from the global top-k."""
    # the prefix term must exist in the BASE dictionary (prefix
    # expansion is frozen-dictionary by design), so seed it in doc 0
    out = str(tmp_path / "idx")
    rows = [(0, "qqalpha seed text")] + DOCS[1:]
    corpus = _df(spark, rows)
    src = str(tmp_path / "idx_corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    indexer.update_docs(spark, out, _df(spark, [(0, "qqalpha once here")]))
    # flood the delta tier with high-scoring prefix matches, then
    # delete them all — without the arm-side exclude they would fill
    # the arm's top-1 .. top-3 slots and push doc 0 out
    dead_rows = [
        (200 + i, "qqalpha qqalpha qqalpha qqalpha qqalpha")
        for i in range(3)
    ]
    indexer.add_docs(spark, out, _df(spark, dead_rows))
    indexer.delete_docs(spark, out, [d for d, _ in dead_rows])
    eng = SearchEngine(spark, out, cache=False)
    got = [r["doc_id"] for r in eng.prefix_search("qqal*", top_k=3).collect()]
    assert 0 in got
    assert not any(d in got for d, _ in dead_rows)


def test_update_crash_states_fail_closed(spark, tmp_path):
    """Every intermediate crash state of update_docs serves at most one
    version: after the tombstone alone the doc is invisible; after
    tombstone+delta (no updated_ids) it is still invisible; never
    double-served. Replay with the same segment converges."""
    out = _build(spark, tmp_path)
    seg = len(indexer._delta_dirs(out))
    # simulate crash state 1: tombstone written, nothing else
    indexer.delete_docs(spark, out, [0])
    eng1 = SearchEngine(spark, out, cache=False)
    assert all(r["doc_id"] != 0 for r in eng1.search("spark", 10).collect())
    # simulate crash state 2: tombstone + delta staged, updated_ids absent
    indexer.add_docs(
        spark, out, _df(spark, [(0, "qqreplay spark text")]),
        check_ids=False, segment=seg,
    )
    eng2 = SearchEngine(spark, out, cache=False)
    assert all(r["doc_id"] != 0 for r in eng2.search("spark", 10).collect())
    assert eng2.search("qqreplay", 10).count() == 0
    # replay the full update (idempotent: same segment slot)
    indexer.update_docs(
        spark, out, _df(spark, [(0, "qqreplay spark text")]), segment=seg
    )
    eng3 = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng3.search("qqreplay", 10).collect()] == [0]
    ranked = [r["doc_id"] for r in eng3.search("spark", 10).collect()]
    assert ranked.count(0) == 1


def test_merge_recovery_drops_uncommitted_tmp(spark, tmp_path):
    """A crashed rebuild's tmp slot (no commit marker) is scratch: it is
    never served and the next maintenance op removes it."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqx one")]))
    tmp = os.path.join(out, indexer._MERGE_TMP_RELDIR)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as fh:
        fh.write("partial")
    assert tmp not in indexer._delta_dirs(out)  # structurally invisible
    eng = SearchEngine(spark, out, cache=False)  # serves fine, ignores tmp
    assert eng.search("qqx", 5).count() == 1
    indexer.add_docs(spark, out, _df(spark, [(101, "qqy two")]))
    assert not os.path.exists(tmp)
    eng2 = SearchEngine(spark, out, cache=False)
    assert eng2.search("qqy", 5).count() == 1


def test_merge_recovery_finishes_committed_swap(spark, tmp_path):
    """With the commit marker present and a complete tmp segment, the
    next maintenance op finishes the swap (old dirs out, tmp -> slot 0)
    and every delta doc is served exactly once."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqm one")]))
    indexer.add_docs(spark, out, _df(spark, [(101, "qqm two")]))
    # run a real merge, then rewind its LAST two steps (rename+unlink)
    # to fabricate the mid-commit crash state
    meta = indexer.merge_deltas(spark, out)
    assert meta is not None
    final = os.path.join(out, "delta_00000")
    tmp = os.path.join(out, indexer._MERGE_TMP_RELDIR)
    os.rename(final, tmp)
    marker = os.path.join(out, "work", "merge_commit")
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("1")
    # recovery happens on the next maintenance entry point
    indexer.merge_deltas(spark, out)
    assert os.path.exists(final) and not os.path.exists(tmp)
    assert not os.path.exists(marker)
    eng = SearchEngine(spark, out, cache=False)
    rows = eng.search("qqm", 10).collect()
    assert sorted(r["doc_id"] for r in rows) == [100, 101]


def test_random_update_sequences_match_rebuild(spark, tmp_path):
    """Property: after ANY sequence of in-place updates (including
    repeated updates of the same id), (a) term membership on the
    maintained index matches the final corpus, and (b) compact_index
    equals a from-scratch build over the final corpus bit-for-bit."""
    rng = random.Random(7)
    vocab = ["spark", "join", "merge", "plan", "block", "qqv", "qqw"]
    out = _build(spark, tmp_path)
    current = {d: t for d, t in DOCS}
    next_id = 100

    def rand_text() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 7)))

    for step in range(6):
        op = rng.random()
        if op < 0.25:
            # add a brand-new doc (delta tier)
            text = rand_text()
            indexer.add_docs(spark, out, _df(spark, [(next_id, text)]))
            current[next_id] = text
            next_id += 1
        elif op < 0.40 and len(current) > 4:
            # delete a doc (either tier)
            victim = rng.choice(sorted(current))
            indexer.delete_docs(spark, out, [victim])
            del current[victim]
        else:
            # update 1-3 existing docs — base- or delta-resident
            batch_ids = rng.sample(sorted(current), rng.randint(1, 3))
            rows = []
            for d in batch_ids:
                text = rand_text()
                current[d] = text
                rows.append((d, text))
            indexer.update_docs(spark, out, _df(spark, rows))

    eng = SearchEngine(spark, out, cache=False)
    for term in vocab:
        got = sorted(
            r["doc_id"] for r in eng.search_df(term).collect()
        )
        want = sorted(
            d for d, t in current.items() if term in t.split()
        )
        assert got == want, f"term {term}: {got} != {want}"
        # fast path (single-term kernel + delta arm) agrees with the
        # compiled join path under pending updates
        fast = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(term, 20).collect()
        ]
        joined = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng._scored(
                {"type": "token", "value": term}
            ).orderBy(F.desc("score"), F.asc("doc_id")).limit(20).collect()
        ]
        assert fast == joined, f"term {term}: fast {fast} != join {joined}"

    # msearch batching stays on under updates and matches per-query —
    # including the batched MIXED-TREE arm (shared term->score map over
    # the unified frame, full-mask exclusion pre-aggregation, delta arm
    # unioned by _serve), which must equal the compiled plans exactly
    queries = {f"q{i}": t for i, t in enumerate(vocab[:4])}
    queries["mx1"] = f"{vocab[0]} and ({vocab[1]} or {vocab[2]})"
    queries["mx2"] = f"{vocab[0]} or not {vocab[3]}"
    queries["mx3"] = f"not {vocab[1]} and not {vocab[2]}"
    batched = {
        (r["query_id"], r["doc_id"], round(r["score"], 9))
        for r in eng.msearch(queries, top_k=20).collect()
    }
    single = {
        (qid, r["doc_id"], round(r["score"], 9))
        for qid, q in queries.items()
        for r in eng.search(q, 20).collect()
    }
    assert batched == single

    # compaction == from-scratch build over the final corpus
    final_rows = sorted(current.items())
    fresh_src = str(tmp_path / "fresh_corpus.parquet")
    _df(spark, final_rows).write.parquet(fresh_src)
    fresh = str(tmp_path / "fresh_idx")
    indexer.build_index(
        spark, _df(spark, final_rows), fresh, fields=["text"],
        analyzer="simple", num_buckets=4, corpus_path=fresh_src,
    )
    compacted = str(tmp_path / "compacted_idx")
    indexer.compact_index(spark, out, compacted)
    ef, ec = (
        SearchEngine(spark, fresh, cache=False),
        SearchEngine(spark, compacted, cache=False),
    )
    for q in ["spark or join", "merge and plan", "qqv", "block or qqw"]:
        a = [(r["doc_id"], r["score"]) for r in ef.search(q, 20).collect()]
        b = [(r["doc_id"], r["score"]) for r in ec.search(q, 20).collect()]
        assert a == b, f"query {q!r}: fresh {a} != compacted {b}"


def test_update_delta_added_doc(spark, tmp_path):
    """Updating a doc that was ADDED via add_docs (delta-resident, not
    in base) retires the old delta version physically — no tombstone,
    no updated_ids entry, so the engine keeps every fast path — and the
    new version serves everywhere."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqfirst version here")]))
    indexer.update_docs(
        spark, out, _df(spark, [(100, "qqsecond version qqfresh")])
    )
    eng = SearchEngine(spark, out, cache=False)
    assert eng.updated_ids is None  # no arm machinery engaged
    assert eng.tombstones is None  # and no mask either
    assert [r["doc_id"] for r in eng.search("qqfresh", 10).collect()] == [100]
    assert eng.search("qqfirst", 10).count() == 0
    cur = {r["doc_id"]: r["text"] for r in eng.current_corpus().collect()}
    assert cur[100] == "qqsecond version qqfresh"

    # unknown id (in neither tier) still raises
    with pytest.raises(ValueError):
        indexer.update_docs(spark, out, _df(spark, [(555, "nope")]))


def test_update_delta_added_then_deleted_doc(spark, tmp_path):
    """added -> deleted -> update = upsert back: the pre-existing
    tombstone stays, the id joins updated_ids so the resurrection arm
    overrides the mask, and the doc serves its newest text."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(200, "qqghost original")]))
    indexer.delete_docs(spark, out, [200])
    indexer.update_docs(
        spark, out, _df(spark, [(200, "qqghost qqrisen anew")])
    )
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("qqrisen", 10).collect()] == [200]
    ranked = [r["doc_id"] for r in eng.search("qqghost", 10).collect()]
    assert ranked.count(200) == 1  # exactly one live version
    assert eng.search("original", 10).count() == 0
    cur = {r["doc_id"]: r["text"] for r in eng.current_corpus().collect()}
    assert cur[200] == "qqghost qqrisen anew"
    # compaction folds it with no special casing
    compacted = str(tmp_path / "compacted")
    indexer.compact_index(spark, out, compacted)
    ec = SearchEngine(spark, compacted, cache=False)
    assert [r["doc_id"] for r in ec.search("qqrisen", 10).collect()] == [200]


def test_update_mixed_base_and_delta_batch(spark, tmp_path):
    """One update batch touching a base doc AND a delta-added doc takes
    both flows at once; each serves its new version, neither leaks an
    old one."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(300, "qqdelta doc text")]))
    indexer.update_docs(
        spark, out,
        _df(spark, [(0, "qqbasenew spark"), (300, "qqdeltanew spark")]),
    )
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("qqbasenew", 10).collect()] == [0]
    assert [r["doc_id"] for r in eng.search("qqdeltanew", 10).collect()] == [300]
    assert eng.search("qqdelta", 10).count() == 0  # old delta text gone
    assert all(
        r["doc_id"] != 0 for r in eng.search("shuffle", 10).collect()
    )  # old base text masked
    ranked = [r["doc_id"] for r in eng.search("spark", 20).collect()]
    assert ranked.count(0) == 1 and ranked.count(300) == 1


def test_reupdate_replay_after_emptied_tier(spark, tmp_path):
    """Crash replay edge: a re-update whose rebuild already emptied the
    delta tier (the updated doc was the ONLY delta doc) must replay
    cleanly — _rebuild_deltas on an empty dir list is a no-op, not an
    IndexError."""
    out = _build(spark, tmp_path)
    indexer.update_docs(spark, out, _df(spark, [(0, "qqv1 text")]))
    # fabricate the crash state: the re-update's rebuild ran (tier
    # emptied — doc 0's v1 was the only delta doc) but the process died
    # before the new delta landed
    for d in indexer._delta_dirs(out):
        shutil.rmtree(d)
    # replay the re-update end to end
    indexer.update_docs(spark, out, _df(spark, [(0, "qqv2 text")]))
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("qqv2", 5).collect()] == [0]
    assert eng.search("qqv1", 5).count() == 0


# ------------------------------------------------------------ round 5


def test_update_delete_upsert_same_base_id(spark, tmp_path):
    """update -> delete -> upsert of the SAME base id: the delete
    retires the id from updated_ids but its stale delta rows stay on
    disk (masked); the upsert must physically retire them — retirement
    is derived from ids with rows STAGED in the delta tier, not from
    updated_ids/base residency — or the resurrection arm double-serves
    both delta versions (old text searchable, the doc twice in one
    top-k, duplicate current_corpus rows)."""
    out = _build(spark, tmp_path)
    indexer.update_docs(spark, out, _df(spark, [(0, "qqmidlife spark crisis")]))
    indexer.delete_docs(spark, out, [0])
    eng0 = SearchEngine(spark, out, cache=False)
    assert eng0.search("qqmidlife", 10).count() == 0  # properly dead
    indexer.update_docs(spark, out, _df(spark, [(0, "qqreborn spark phoenix")]))
    eng = SearchEngine(spark, out, cache=False)
    # old delta text must be gone, new text served exactly once
    assert eng.search("qqmidlife", 10).count() == 0
    assert [r["doc_id"] for r in eng.search("qqreborn", 10).collect()] == [0]
    ranked = [r["doc_id"] for r in eng.search("spark", 20).collect()]
    assert ranked.count(0) == 1
    cur = [r for r in eng.current_corpus().collect() if r["doc_id"] == 0]
    assert len(cur) == 1 and cur[0]["text"] == "qqreborn spark phoenix"
    # compaction folds the final state with no special casing
    compacted = str(tmp_path / "compacted_udu")
    indexer.compact_index(spark, out, compacted)
    ec = SearchEngine(spark, compacted, cache=False)
    assert [r["doc_id"] for r in ec.search("qqreborn", 10).collect()] == [0]
    assert ec.search("qqmidlife", 10).count() == 0


def test_empty_tier_removal_crash_replays(spark, tmp_path, monkeypatch):
    """The exclusion-empties-tier branch of _rebuild_deltas commits via
    the marker BEFORE removing dirs: a crash mid-removal leaves dirs of
    only-stale rows, and recovery at the next maintenance entry finishes
    the removal instead of serving them through the updated_ids arm."""
    import shutil as _shutil

    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqtier one text")]))
    indexer.add_docs(spark, out, _df(spark, [(101, "qqtier two text")]))
    # update both delta-resident docs -> the rebuild excludes BOTH ids,
    # the staged union is empty -> empty-tier branch fires. Crash after
    # the FIRST delta dir is removed.
    real_rmtree = _shutil.rmtree
    state = {"removed": 0}

    def crashing_rmtree(path, *a, **kw):
        p = str(path)
        if "/delta_" in p:
            if state["removed"] >= 1:
                raise RuntimeError("simulated crash mid-removal")
            state["removed"] += 1
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", crashing_rmtree)
    with pytest.raises(RuntimeError, match="simulated crash"):
        indexer.update_docs(
            spark, out,
            _df(spark, [(100, "qqnew one"), (101, "qqnew two")]),
        )
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    # crash state: marker present, one stale delta dir survives
    assert os.path.exists(os.path.join(out, "work", "merge_commit"))
    assert len(indexer._delta_dirs(out)) == 1
    # recovery at the next maintenance entry finishes the removal
    indexer._recover_merge(out)
    assert indexer._delta_dirs(out) == []
    assert not os.path.exists(os.path.join(out, "work", "merge_commit"))
    # a plain (non-replay) update of the now-vanished ids still raises…
    with pytest.raises(ValueError, match="neither the base"):
        indexer.update_docs(
            spark, out, _df(spark, [(100, "qqnew one"), (101, "qqnew two")])
        )
    # …and the replay protocol (explicit segment) lands them cleanly
    indexer.update_docs(
        spark, out,
        _df(spark, [(100, "qqnew one"), (101, "qqnew two")]), segment=0,
    )
    eng = SearchEngine(spark, out, cache=False)
    assert eng.search("qqtier", 10).count() == 0
    got = sorted(r["doc_id"] for r in eng.search("qqnew", 10).collect())
    assert got == [100, 101]


def test_refresh_serves_current_doc_lens_and_dfs(spark, tmp_path):
    """refresh() must drop _doc_lens and _df_cache: after update_docs a
    stale cached doc_lens feeds PRE-update field lengths into LTR
    features for updated docs (a real wrong feature value)."""
    out = _build(spark, tmp_path)
    eng = SearchEngine(spark, out, cache=False)
    eng.doc_lens().collect()          # warm the field-length cache
    eng._term_dfs(["spark", "join"])  # warm the df cache
    long_text = " ".join(["spark"] * 25 + ["qqlong"])
    indexer.update_docs(spark, out, _df(spark, [(0, long_text)]))
    eng.refresh()
    fresh = SearchEngine(spark, out, cache=False)
    got = sorted(tuple(r) for r in eng.doc_lens().collect())
    want = sorted(tuple(r) for r in fresh.doc_lens().collect())
    assert got == want
    # the refreshed df cache sees the delta-aware dictionary
    assert eng._term_dfs(["qqlong"]) == fresh._term_dfs(["qqlong"])
    assert eng._term_dfs(["qqlong"])["qqlong"] == 1
    # LTR features after refresh == a fresh engine's (field lengths!)
    a = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in eng.ltr_features("spark").collect()
    )
    b = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in fresh.ltr_features("spark").collect()
    )
    assert a == b


def test_refresh_after_compact_resets_expansion(spark, tmp_path):
    """In-place compaction swap + refresh(): the cached k-gram index and
    term dictionary must rebuild — a compacted-away term may not keep
    expanding from the stale caches."""
    import shutil as _shutil

    out = _build(spark, tmp_path)
    eng = SearchEngine(spark, out, cache=False)
    # doc 7 holds 'varint'; warm the expansion caches with it present
    assert eng.fuzzy_search("varint", exclude_threshold=1).count() > 0
    assert [r["term"] for r in eng.term_stats().where(
        F.col("term") == "varint").collect()] == ["varint"]
    indexer.delete_docs(spark, out, [7])
    compacted = str(tmp_path / "compact_swap")
    # compact against the CURRENT corpus (rows minus the deletion)
    indexer.compact_index(
        spark, out, compacted, corpus=_df(spark, DOCS[:7]),
    )
    _shutil.rmtree(out)
    _shutil.move(compacted, out)
    eng.refresh()
    fresh = SearchEngine(spark, out, cache=False)
    assert eng.fuzzy_search("varint", exclude_threshold=1).count() == 0
    assert fresh.fuzzy_search("varint", exclude_threshold=1).count() == 0
    assert eng.term_stats().where(F.col("term") == "varint").count() == 0


def test_delta_terms_visible_to_expansion_surfaces(spark, tmp_path):
    """A term that first appears via add_docs expands through
    prefix_search / fuzzy_search / the dictionary BEFORE compaction
    (delta-aware term_stats: df summed across tiers, idf frozen)."""
    import math

    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqnovel spark term")]))
    eng = SearchEngine(spark, out, cache=False)
    # dictionary row: new term, df from the delta, frozen df=0 idf
    row = eng.term_stats().where(F.col("term") == "qqnovel").collect()
    assert len(row) == 1 and row[0]["df"] == 1
    n_base = len(DOCS)
    assert row[0]["idf"] == pytest.approx(math.log((n_base + 0.5) / 0.5))
    # a base term present in the delta sums df across tiers
    spark_df = eng.term_stats().where(F.col("term") == "spark").collect()
    assert spark_df[0]["df"] == 4  # 3 base docs (0, 4, 6) + 1 delta doc
    # prefix expansion reaches the delta-only term pre-compaction
    got = [r["doc_id"] for r in eng.prefix_search("qqnov*", 5).collect()]
    assert got == [100]
    # fuzzy expansion sees it too (typo within jaccard reach)
    fz = [r["doc_id"] for r in eng.fuzzy_search(
        "qqnovel", exclude_threshold=1, top_k=5).collect()]
    assert 100 in fz


def test_wand_routing_survives_deltas_and_updates(spark, tmp_path):
    """WAND strategies stay ON with a populated delta tier and pending
    in-place updates: the kernel runs over BASE blocks (doc-disjointness
    bound holds), tombstones mask, the delta arm unions in — results
    equal the compiled join path exactly."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "spark join qqadded")]))
    indexer.update_docs(
        spark, out, _df(spark, [(0, "spark join qqupdated wide plans")])
    )
    eng = SearchEngine(spark, out, cache=False)
    eng.meta["num_postings"] = 5_000_000  # force WAND routing
    for q, prefix in [
        ("spark or join", "wand_or"),
        ("spark and join", "wand_and"),
    ]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, 20).collect()
        ]
        assert eng.last_strategy.startswith(prefix), eng.last_strategy
        assert eng.last_strategy.endswith("+delta_arm"), eng.last_strategy
        from cs_search_engine_architecture_spark.plans.query_parser import (
            parse_query,
        )

        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng._scored(parse_query(q, analyzer="simple"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20)
            .collect()
        ]
        assert got == want, f"{q}: wand {got} != join {want}"
        # the updated doc serves its NEW version exactly once
        assert [d for d, _ in got].count(0) == 1
        assert 100 in [d for d, _ in got]


def test_auto_maintain_policy_converges(spark, tmp_path):
    """The policy tick: no-op below thresholds; merge when the delta
    tier fragments past the segment cap; in-place compaction when the
    masked fraction crosses — converging to 1 segment / 0 masks, with
    the staged source_corpus keeping delta-added docs visible to
    current_corpus after the fold."""
    out = _build(spark, tmp_path)
    assert indexer.auto_maintain(spark, out)["actions"] == []
    # fragment the delta tier past the cap -> one bit-identical merge
    for i in range(5):
        indexer.add_docs(spark, out, _df(spark, [(100 + i, f"qqseg{i} text")]))
    res = indexer.auto_maintain(spark, out, max_delta_segments=4)
    assert res["actions"] == ["merge"]
    assert res["after"]["delta_segments"] == 1
    eng = SearchEngine(spark, out, cache=False)
    assert eng.search("qqseg3", 5).count() == 1
    # mask fraction past the threshold -> in-place compaction to clean
    indexer.update_docs(
        spark, out,
        _df(spark, [(0, "qqnewzero text"), (1, "qqnewone text")]),
    )
    res = indexer.auto_maintain(spark, out, max_masked_fraction=0.10)
    assert res["actions"] == ["compact"]
    after = res["after"]
    assert after["delta_segments"] == 0
    assert after["tombstones"] == 0 and after["updated_docs"] == 0
    eng2 = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng2.search("qqnewzero", 5).collect()] == [0]
    assert eng2.search("qqseg2", 5).count() == 1
    cur = {r["doc_id"]: r["text"] for r in eng2.current_corpus().collect()}
    assert cur[103] == "qqseg3 text" and cur[0] == "qqnewzero text"
    assert len(cur) == len(DOCS) + 5
    # clean index: the next tick is a no-op again
    assert indexer.auto_maintain(spark, out)["actions"] == []


def test_compact_in_place_crash_recovery(spark, tmp_path):
    """compact_in_place's two crash shapes: an uncommitted staged
    rebuild is scratch (dropped); a committed-but-unswapped one is
    finished by the next maintenance entry."""
    out = _build(spark, tmp_path)
    indexer.add_docs(spark, out, _df(spark, [(100, "qqcip staged text")]))
    tmp, trash, marker = indexer._compact_paths(out)
    # A: no marker -> staged dir is scratch
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as fh:
        fh.write("partial")
    indexer._recover_compact(out)
    assert not os.path.exists(tmp)
    # B: complete staged rebuild + marker, crash before the renames
    indexer.compact_index(spark, out, tmp, stage_corpus_as=out)
    with open(marker, "w") as fh:
        fh.write("1")
    res = indexer.auto_maintain(spark, out)  # entry point runs recovery
    assert res["actions"] == []  # recovered index is already clean
    assert not os.path.exists(tmp) and not os.path.exists(trash)
    assert not os.path.exists(marker)
    assert indexer.load_delta_metas(out) == []
    eng = SearchEngine(spark, out, cache=False)
    assert eng.search("qqcip", 5).count() == 1
    cur = {r["doc_id"]: r["text"] for r in eng.current_corpus().collect()}
    assert cur[100] == "qqcip staged text" and len(cur) == len(DOCS) + 1
