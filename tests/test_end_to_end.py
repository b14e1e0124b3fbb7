"""M0 golden end-to-end test: synthetic change log → engine replay →
final LakeTable state must equal the pure-Python dict-replay oracle,
per-row content sha256 included (the reference's golden read-back pattern,
``functiontest/InsertModeTest.java:165-169``)."""

from __future__ import annotations

import pytest

from kafka_connect_tablestore_spark.config import (
    DeleteMode,
    InsertMode,
    RuntimeErrorTolerance,
    SinkConfig,
)
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.oracle import replay, sha256_hex, state_rows
from kafka_connect_tablestore_spark.sources.synth import synth_changelog

ATTRS = ("commit", "lang", "content")


def oracle_state(events_rows, config):
    state, dlq = replay(events_rows, config, ATTRS)
    return state_rows(state, config, ATTRS), dlq


def engine_state_rows(engine):
    df = engine.state().orderBy("repo", "path")
    return [r.asDict() for r in df.collect()]


def run_case(spark, tmp_path, config, n_events=4000, n_batches=1, p_malformed=0.0):
    events = synth_changelog(
        spark, n_events, seed=7, n_repos=30, paths_per_repo=10, p_malformed=p_malformed
    ).cache()
    engine = CdcEngine(spark, config, str(tmp_path), "repos", ATTRS)
    engine.replay(events, n_batches=n_batches)
    got = engine_state_rows(engine)
    want, dlq = oracle_state([r.asDict() for r in events.collect()], config)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    for g, w in zip(got, want):
        assert g["repo"] == w["repo"] and g["path"] == w["path"], (g, w)
        for c in ATTRS:
            assert g[c] == w[c], (g, w, c)
        assert g["content_sha256"] == w["content_sha256"] == sha256_hex(w["content"])
    events.unpersist()
    return engine, dlq


@pytest.mark.parametrize(
    "insert_mode,delete_mode",
    [
        (InsertMode.PUT, DeleteMode.ROW),
        (InsertMode.PUT, DeleteMode.ROW_AND_COLUMN),
        (InsertMode.UPDATE, DeleteMode.ROW),
        (InsertMode.UPDATE, DeleteMode.ROW_AND_COLUMN),
        (InsertMode.UPDATE, DeleteMode.COLUMN),
    ],
)
def test_replay_matches_oracle(spark, tmp_path, insert_mode, delete_mode):
    config = SinkConfig(insert_mode=insert_mode, delete_mode=delete_mode)
    run_case(spark, tmp_path, config)


def test_multi_batch_replay_matches_single(spark, tmp_path):
    config = SinkConfig(delete_mode=DeleteMode.ROW)
    run_case(spark, tmp_path, config, n_batches=5)


def test_malformed_events_go_to_dlq(spark, tmp_path):
    """Both lineage modes dead-letter the same rows, reach the same state,
    agree on the batch's lineage totals, and refuse the batch under
    tolerance=none."""
    from kafka_connect_tablestore_spark.operators.rowchange import ToleranceError

    events = synth_changelog(
        spark, 4000, seed=7, n_repos=30, paths_per_repo=10, p_malformed=0.05
    )
    sigs, totals = {}, {}
    for flag in (True, False):
        config = SinkConfig(
            delete_mode=DeleteMode.ROW,
            tolerance=RuntimeErrorTolerance.ALL,
            lineage_per_partition=flag,
        )
        engine, oracle_dlq = run_case(
            spark, tmp_path / f"lp{flag}", config, p_malformed=0.05
        )
        dlq = engine.table.read_dlq()
        assert dlq is not None
        assert dlq.count() == len(oracle_dlq)
        assert set(dlq.columns) == {"topic_partition", "offset", "key", "value", "error_info"}
        sigs[flag] = {
            (r["repo"], r["path"]): r["content_sha256"] for r in engine.state().collect()
        }
        parts = engine.table.committed_batches()["replay-0"]["partitions"]
        totals[flag] = {
            k: sum(p[k] for p in parts.values()) for k in ("rows", "errant_rows")
        }
        assert totals[flag]["errant_rows"] == len(oracle_dlq) > 0

        strict = CdcEngine(
            spark,
            SinkConfig(
                delete_mode=DeleteMode.ROW,
                tolerance=RuntimeErrorTolerance.NONE,
                lineage_per_partition=flag,
            ),
            str(tmp_path / f"strict{flag}"),
            "repos",
            ATTRS,
        )
        with pytest.raises(ToleranceError):
            strict.apply_batch(events, "b-0")
        assert "b-0" not in strict.table.committed_batches()
    assert sigs[True] == sigs[False]
    assert totals[True] == totals[False]


def test_tolerance_none_raises(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.rowchange import ToleranceError

    config = SinkConfig(
        delete_mode=DeleteMode.ROW, tolerance=RuntimeErrorTolerance.NONE
    )
    with pytest.raises(ToleranceError):
        run_case(spark, tmp_path, config, p_malformed=0.05)
