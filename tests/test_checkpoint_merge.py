"""Resumable build + segment merge: crash/resume, idempotence, parity.

FIXTURES.md §6: a build killed after a partial commit must resume by
skipping committed shards and produce an index identical to an
uninterrupted run.
"""

from __future__ import annotations

import pytest

from sparkfts.checkpoint import read_checkpoints, resumable_build
from sparkfts.index import build_index, load_postings
from sparkfts.merge import merge_segments
from sparkfts.query import bm25_index_batch


class _Boom(Exception):
    pass


def _postings_content(spark, d):
    return {
        (r["term"], r["shard"]): (
            bytes(r["doc_ids"]),
            bytes(r["tfs"]),
            bytes(r["doclens"]),
        )
        for r in load_postings(spark, d).collect()
    }


@pytest.fixture(scope="module")
def dirs(spark, corpus, tmp_path_factory):
    resumed = str(tmp_path_factory.mktemp("idx_resumed"))
    direct = str(tmp_path_factory.mktemp("idx_direct"))
    pages = spark.createDataFrame(corpus.to_pandas())

    # crash after the first batch of 3 shards commits
    def injector(done):
        if len(done) >= 3:
            raise _Boom()

    with pytest.raises(_Boom):
        resumable_build(
            pages, resumed, n_shards=8, shards_per_job=3,
            fault_injector=injector,
        )
    ckpts = read_checkpoints(resumed)
    assert sorted(ckpts) == [0, 1, 2]
    for rec in ckpts.values():
        assert rec["status"] == "done"
        assert rec["docs"] > 0 and rec["postings"] > 0
        assert rec["bytes_out"] > 0 and rec["wall_sec"] > 0
        assert rec["lineage"]["n_shards"] == 8

    # resume: must build only the remaining 5 shards
    resumable_build(pages, resumed, n_shards=8, shards_per_job=3)
    assert sorted(read_checkpoints(resumed)) == list(range(8))

    # reference: uninterrupted single-job build
    build_index(pages, direct, n_shards=8)
    return resumed, direct, pages


def test_resume_skips_done(spark, dirs, corpus, tmp_path_factory):
    resumed, _, pages = dirs
    before = read_checkpoints(resumed)
    resumable_build(pages, resumed, n_shards=8)  # everything committed
    after = read_checkpoints(resumed)
    assert before == after  # no shard rebuilt


def test_multisegment_query_matches_direct(spark, dirs, queries):
    resumed, direct, _ = dirs
    qs = [(q["query_id"], q["query"], q["k"]) for q in queries[:15]]
    a = bm25_index_batch(spark, resumed, qs).collect()
    b = bm25_index_batch(spark, direct, qs).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in a] == [
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in b
    ]


def test_merge_equals_direct_build_and_is_idempotent(spark, dirs, queries):
    resumed, direct, _ = dirs
    merge_segments(spark, resumed)
    merged = _postings_content(spark, resumed)
    ref = _postings_content(spark, direct)
    assert merged == ref  # byte-identical to the uninterrupted build
    # merge of merged index is a no-op returning same content
    merge_segments(spark, resumed)
    assert _postings_content(spark, resumed) == ref
    # queries still rank-identical post-merge
    qs = [(q["query_id"], q["query"], q["k"]) for q in queries[:10]]
    a = bm25_index_batch(spark, resumed, qs).collect()
    b = bm25_index_batch(spark, direct, qs).collect()
    assert [(r["rank"], r["doc_id"]) for r in a] == [
        (r["rank"], r["doc_id"]) for r in b
    ]
