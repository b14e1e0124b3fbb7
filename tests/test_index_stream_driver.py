"""The shared index-stream driver: the per-batch skeleton every index
stream's foreachBatch body is built on, and the sidecar protocol
(fsync before rename) every index sidecar is written through."""

from __future__ import annotations

import json
import os

import pytest

from kafka_connect_tablestore_spark.operators.index_maint import (
    ensure_index_params,
)
from kafka_connect_tablestore_spark.streaming.pipeline import (
    _make_semantic_apply,
)


def _marker(index_path, batch_id):
    with open(os.path.join(index_path + ".batches", f"{batch_id}.json")) as f:
        return json.load(f)


def test_index_stream_skeleton_with_stub_step(spark, tmp_path):
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        _index_stream_apply,
    )

    idx = str(tmp_path / "idx")
    calls = []

    def step(frame, n_rows, batch_id):
        calls.append((frame, n_rows, batch_id))
        return {"n_docs": n_rows, "n_extra": 7}

    apply = _index_stream_apply(
        idx, ("doc_id", "text"), {"n_docs": 0, "n_extra": 0}, step
    )
    docs = spark.createDataFrame(
        [(i, f"text {i}", "unused") for i in range(5)],
        "doc_id long, text string, other string",
    )

    # a non-empty batch hands the step its materialized projection and count
    apply(docs, 0)
    assert len(calls) == 1
    frame, n_rows, batch_id = calls[0]
    assert (n_rows, batch_id) == (5, 0)
    assert frame.columns == ["doc_id", "text"]
    # materialized: the step's frame reads the checkpoint, not the source
    assert (
        frame._jdf.queryExecution().logical().getClass().getSimpleName()
        == "LogicalRDD"
    )
    assert sorted(r["doc_id"] for r in frame.collect()) == list(range(5))
    assert _marker(idx, 0) == {"batch_id": 0, "n_docs": 5, "n_extra": 7}

    # a committed batch never reaches the step again
    apply(docs, 0)
    assert len(calls) == 1

    # an empty batch never calls the step and commits the empty fields
    apply(docs.limit(0), 1)
    assert len(calls) == 1
    assert _marker(idx, 1) == {"batch_id": 1, "n_docs": 0, "n_extra": 0}

    # a step that fails leaves no marker, so the replay runs it again
    def failing(frame, n_rows, batch_id):
        raise RuntimeError("crash inside the step")

    with pytest.raises(RuntimeError, match="crash inside the step"):
        _index_stream_apply(idx, ("doc_id", "text"), {}, failing)(docs, 2)
    assert not os.path.exists(os.path.join(idx + ".batches", "2.json"))
    apply(docs, 2)
    assert len(calls) == 2
    assert _marker(idx, 2) == {"batch_id": 2, "n_docs": 5, "n_extra": 7}


def test_index_sidecars_fsynced_before_rename(spark, tmp_path, monkeypatch):
    """A sidecar renamed into place before its bytes are durable can be
    lost to a power cut while the data written after it survives: a lost
    params or centroids file lets a later batch silently re-freeze or
    retrain the index.  Every rename must see its tmp file fsync'd."""
    real_fsync, real_replace = os.fsync, os.replace
    fsynced = set()
    renames = []  # (destination file name, tmp was fsync'd)

    def spy_fsync(fd):
        st = os.fstat(fd)
        fsynced.add((st.st_dev, st.st_ino))
        return real_fsync(fd)

    def spy_replace(src, dst, *args, **kwargs):
        st = os.stat(src)
        renames.append((os.path.basename(dst), (st.st_dev, st.st_ino) in fsynced))
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)

    ensure_index_params(str(tmp_path / "lsh"), {"bands": 4, "n_hashes": 8})
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    sem = str(tmp_path / "sem")
    _make_semantic_apply(
        sem, str(tmp_path / "v"), 0.9, 4, "vec_id", "embedding"
    )(vecs, 0)
    monkeypatch.undo()

    written = {name for name, _ in renames}
    assert {
        "lsh.params.json", "sem.params.json", "sem.centroids.json", "0.json"
    } <= written, renames
    assert [name for name, ok in renames if not ok] == []
