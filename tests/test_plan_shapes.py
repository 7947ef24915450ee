"""Physical-plan regression tests: the plan shapes that make the
operators survive 100 TB (broadcasts, equi-joins, pruned scans,
partial aggregation) must not silently regress.

The analog of the reference's hand-rolled physical tactics (SURVEY.md
§4) — except ours are Catalyst's, so we assert instead of implement.
"""

import pytest

import __spark_entry__ as entrymod
from webextract.operators.extract import extract_pages
from webextract.sources.pages import pages_from_documents

SF = "/root/testdata/sf0.001"


def plan_of(df, execute: bool = False) -> str:
    # execute=True materializes first so AQE's FINAL plan (with its
    # whole-stage-codegen stars) is inspected instead of the
    # isFinalPlan=false placeholder an un-run adaptive plan prints
    if execute:
        df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_pairs_is_equi_join(spark):
    plan = plan_of(entrymod.q_dedup_lsh_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_aggregation(spark):
    plan = plan_of(entrymod.q_dedup_exact(spark, SF))
    assert "partial_min" in plan  # map-side combine before the shuffle


def test_extract_scan_prunes_columns(spark):
    plan = plan_of(extract_pages(pages_from_documents(spark, SF)))
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "text" in read_schema           # needed for html synthesis
    assert "lang" not in read_schema       # pruned
    assert "n_chars" not in read_schema    # pruned


def test_textstats_scan_prunes_columns(spark):
    plan = plan_of(entrymod.q_token_stats(spark, SF))
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_global_topk_is_distributed(spark):
    # top-k must compile to TakeOrderedAndProject, not drag the full
    # dataset through a single-partition window
    for q in ("q_topk_hosts", "q_dedup_jaccard_top"):
        plan = plan_of(getattr(entrymod, q)(spark, SF))
        assert "TakeOrderedAndProject" in plan, q


def test_whole_stage_codegen_in_jvm_paths(spark):
    # text stats never leave the JVM: one codegen stage, no Python node
    plan = plan_of(entrymod.q_token_stats(spark, SF), execute=True)
    assert "*(1)" in plan  # whole-stage-codegen stage marker
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan


def test_tables_scan_prunes_and_single_arrow_stage(spark):
    # cell / block fan-out happens inside ONE MapInArrow stage (no
    # explode shuffle); the scan reads only what page synthesis needs
    for query in (entrymod.q_tables, entrymod.q_layout_regions):
        plan = plan_of(query(spark, SF))
        assert plan.count("MapInArrow") == 1, query.__name__
        read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
        # pruned (synthesis needs doc_id/text/source)
        assert "lang" not in read_schema, query.__name__


def test_simhash_pairs_is_banded_equi_join(spark):
    plan = plan_of(entrymod.q_dedup_simhash_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_guard_reuses_checkpointed_shingles(spark):
    # the shingle explode must appear as a reused checkpoint scan, not
    # four re-derivations: the plan contains "Scan ExistingRDD" nodes
    plan = plan_of(entrymod.q_dedup_jaccard_top(spark, SF))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_line_dedup_no_python_node(spark):
    # line dedup is 100% JVM built-ins
    plan = plan_of(entrymod.q_dedup_lines(spark, SF))
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan
    assert "BatchEvalPython" not in plan


def test_vocab_topk_distributed_topk_with_partial_agg(spark):
    plan = plan_of(entrymod.q_vocab_topk(spark, SF), execute=True)
    assert "TakeOrderedAndProject" in plan   # never a global sort
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_blocklist_is_pure_map_stage(spark):
    plan = plan_of(entrymod.q_blocklist(spark, SF))
    assert "Exchange" not in plan            # zero shuffles
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_page_meta_is_pure_map_stage(spark):
    plan = plan_of(entrymod.q_page_meta(spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_gopher_rules_is_pure_map_stage(spark):
    plan = plan_of(entrymod.q_gopher_rules(spark, SF))
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow"):
        assert node not in plan


def test_domain_blocklist_is_pure_map_stage(spark):
    plan = plan_of(entrymod.q_domain_blocklist(spark, SF))
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow"):
        assert node not in plan


def test_kie_pairs_single_arrow_stage_no_shuffle(spark):
    for query in (entrymod.q_kie_pairs, entrymod.q_list_items):
        plan = plan_of(query(spark, SF))
        assert plan.count("MapInArrow") == 1, query.__name__
        assert "Exchange" not in plan, query.__name__


def test_kmeans_round_shapes(spark):
    """Assignment is MAP-ONLY over the corpus: the k centroids
    collapse to one broadcast row and the argmin runs in-row, so no
    hash exchange ever touches the embeddings; the update's
    (cluster, dim) aggregation partial-combines before its shuffle.
    All JVM — no Python eval anywhere."""
    from webextract.operators.kmeans import (
        assign,
        quantize,
        seed_centroids,
        update,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = quantize(emb).select("vec_id", "qv")
    cent = seed_centroids(q, 8).localCheckpoint()
    assigned = assign(q, cent)
    plan = plan_of(assigned)
    assert "BroadcastExchange" in plan
    # the corpus side is never hash-shuffled to be assigned; the only
    # non-broadcast exchange is the k-row centroid collect_list agg
    scan_on = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in scan_on
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    uplan = plan_of(update(assigned, cent))
    assert "partial_sum" in uplan
    assert "BatchEvalPython" not in uplan and "ArrowEvalPython" not in uplan


def test_bpe_round_shapes(spark):
    """One BPE merge round = a partial-combined pair aggregation, a
    TakeOrderedAndProject argmax (never a global sort/window), and a
    broadcast 1-row join into a codegen fold — no Python anywhere.
    (bpe_learn's OUTPUT plan is checkpoint scans, so the round's
    component plans are what must not regress.)"""
    from webextract.operators.bpe import _apply_merge, _pair_counts, word_freq

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = word_freq(docs)
    pairs = _pair_counts(vocab)
    best = (
        pairs.orderBy(
            entrymod.F.desc("pair_cnt"),
            entrymod.F.asc("l"),
            entrymod.F.asc("r"),
        ).limit(1)
    )
    plan = plan_of(best)
    assert "partial_sum" in plan  # map-side combine on the pair shuffle
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    merged = _apply_merge(vocab, best)
    mplan = plan_of(merged)
    assert "BroadcastExchange" in mplan  # the 1-row argmax side
    assert "BatchEvalPython" not in mplan and "ArrowEvalPython" not in mplan


def test_bpe_apply_plan_shapes(spark):
    """The frozen-apply plan: the merge array rides a BROADCAST
    single-row cross (never a corpus-side cartesian), the vocabulary
    join is an equi-join, and no Python crosses the boundary —
    the replay fold is pure JVM higher-order aggregates."""
    plan = plan_of(entrymod.q_bpe_apply(spark, SF))
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the broadcast 1-row
    # merge-array side
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) in ("BuildRight", "BuildLeft")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pretrain_pack_no_cartesian_range_split_pack(spark):
    """The end-to-end pretraining path: no cartesian products, and
    the chunk prefix-sum keeps the two-phase range-split shape (range
    exchange present — the survivor stream is split into contiguous
    runs, never a whole-shard window). The extraction Arrow stage
    sits behind the survivor localCheckpoint, so it is pinned by the
    extract plan tests; the range exchange itself is inside
    _stream_offsets' checkpoint — its ``_p`` run-id column surviving
    into the consumed scan is the evidence the two-phase path (not a
    whole-shard window) produced the offsets."""
    plan = plan_of(entrymod.q_pretrain_pack(spark, SF), execute=True)
    assert "CartesianProduct" not in plan
    assert "_p#" in plan
