"""Self-tests of the benchmark: the printed metric names are BENCHMARK.json's,
corrupted outputs fail the checks, and the traced build is the timed one."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

import checks
import run
import sparklog
import workloads

SPEC = run.load_spec()


def _names(section: str) -> list[str]:
    return [m["name"] for m in SPEC[section]]


# ---------------------------------------------------------------------------
# printed metric names equal BENCHMARK.json
# ---------------------------------------------------------------------------
def test_end_to_end_names_match_spec():
    loop = {"lat": [1.0, 2.0], "attempted": 2, "failed": 0}
    verdict = {"precision": 1.0, "recall": 1.0, "oracle_ok": 3, "oracle_n": 3, "correct": True}
    metrics, status = run.e2e_metrics(3.0, loop, 40, verdict, 100.0, 120, 4)
    line = run.render(SPEC, "end_to_end", metrics, status)
    assert list(line["metrics"]) == _names("end_to_end")
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert line["metrics"]["build_s"]["value"] == 1.5
    assert line["metrics"]["pages_per_core_s"]["value"] == 20.0
    assert line["correct"] and line["attempted"] == 5 and line["failed"] == 0


def test_per_layer_names_match_spec():
    assert workloads.per_layer_names() == _names("per_layer")
    measured = {n: 1.0 for n in _names("per_layer") if n.split(".")[0] not in ("pipeline", "spark")}
    groups = {"extract": dict.fromkeys(sparklog.METRICS, 1.0), "": dict.fromkeys(sparklog.METRICS, 3.0)}
    metrics = run.layer_metrics(measured, {"extract": (1.0, 10)}, groups, 2.0, 0.5, 4)
    line = run.render(SPEC, "per_layer", metrics, {"correct": True, "attempted": 1, "failed": 0})
    assert list(line["metrics"]) == _names("per_layer")
    assert line["metrics"]["pipeline.extract.task_s"]["value"] == 1.0
    assert line["metrics"]["pipeline.extract.rows_out"]["value"] == 10
    assert line["metrics"]["spark.core_busy_ratio"]["value"] == 0.5  # (1 + 3) / (2 * 4)


def test_render_rejects_unlisted_or_missing_metric():
    metrics = dict.fromkeys(_names("end_to_end"), 1.0)
    status = {"correct": True, "attempted": 1, "failed": 0}
    with pytest.raises(RuntimeError):
        run.render(SPEC, "end_to_end", {**metrics, "stray": 1.0}, status)
    metrics.pop("setup_s")
    with pytest.raises(RuntimeError):
        run.render(SPEC, "end_to_end", metrics, status)


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len(json.dumps(SPEC)) < 64 * 1024


# ---------------------------------------------------------------------------
# corrupted outputs fail the checks
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def small_build(spark, tmp_path_factory):
    from nous_spark.datagen import generate_pages
    from nous_spark.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("build"))
    run_pipeline(spark, generate_pages(spark, 200, seed=9), out, run_id="t")
    return out


def test_triple_pr_fails_on_corrupted_triples(spark, small_build, tmp_path):
    from nous_spark.datagen import generate_expected

    expected = generate_expected(spark, 200, seed=9)
    p, r = checks.triple_pr(spark, small_build, expected)
    assert p >= 0.95 and r >= 0.95
    bad = str(tmp_path / "bad")
    spark.read.parquet(os.path.join(small_build, "mentions")).write.parquet(os.path.join(bad, "mentions"))
    triples = spark.read.parquet(os.path.join(small_build, "triples"))
    wrong = F.when(F.crc32("source_url") % 4 == 0, F.lit("dislikes")).otherwise(F.col("pred"))
    triples.withColumn("pred", wrong).write.parquet(os.path.join(bad, "triples"))
    p_bad, r_bad = checks.triple_pr(spark, bad, expected)
    assert p_bad < 0.95 and r_bad < 0.95


def test_recall_oracle_matches_and_detects_a_missing_row(spark, small_build):
    reader = workloads.Reader(
        spark, os.path.join(small_build, "graph_edges"), os.path.join(small_build, "graph_facts")
    )
    reads = [(kind, "email:persona0@example.com", "lives_in") for kind in checks.READ_KINDS]
    assert reader.oracle_check(reads) == (3, 3)
    con = checks.duck_graph(reader.edges_dir, reader.facts_dir)
    try:
        want = checks.canon_rows(checks.duck_rows(con, *reads[1]))
    finally:
        con.close()
    rows = [tuple(r) for r in reader.read(*reads[1])]
    assert rows and checks.canon_rows(rows) == want
    assert checks.canon_rows(rows[1:]) != want


# ---------------------------------------------------------------------------
# pure helpers
# ---------------------------------------------------------------------------
def test_group_metrics_attributes_stages_to_job_groups():
    def stage(sid, run_ms, tasks):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid,
                "Number of Tasks": tasks,
                "Accumulables": [
                    {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                    {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 100},
                ],
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        stage(0, 1000, 2),
        stage(1, 500, 3),
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "b"}},
        stage(2, 250, 1),
    ]
    g = sparklog.group_metrics(events)
    assert g["a"]["run_s"] == 1.5 and g["a"]["tasks"] == 5 and g["a"]["shuffle_write_bytes"] == 200
    assert g["b"]["run_s"] == 0.25
    events[0]["Submission Time"], events[3]["Submission Time"] = 1_000, 5_000
    assert set(sparklog.group_metrics(events, (4.0, 6.0))) == {"b"}


def test_reads_rotate_hot_personas_over_kinds():
    import random

    reads = workloads.pick_reads(random.Random(1), 1000, 12)
    hot = [r for r in reads if re.fullmatch(r"email:persona\d{1,2}@example\.com", r[1])]
    assert len(hot) == 4
    assert {r[0] for r in hot} == set(checks.READ_KINDS)


def test_append_past_the_corpus_adds_new_rows(spark, small_build, tmp_path):
    """Pages past the corpus carry new urls and personas, so the append is
    not the all-duplicates path; replaying the same pages appends nothing."""
    graph_dir = str(tmp_path / "graph")
    for name in workloads.IO_TABLES:
        shutil.copytree(os.path.join(small_build, f"graph_{name}"), os.path.join(graph_dir, name))
    batch = workloads.pages_frame(spark, 200, 250, 9, 0)
    offered, appended, _ = workloads.counted_append(spark, batch, graph_dir)
    assert all(appended[t] > 0 for t in ("nodes", "sources", "edges")), appended
    assert all(appended[t] <= offered[t] for t in workloads.IO_TABLES)
    _, again, _ = workloads.counted_append(spark, batch, graph_dir)
    assert sum(again.values()) == 0, again


def test_grouped_pipeline_tags_every_stage_and_writes_the_plain_build(spark, small_build, tmp_path):
    """The traced build is ``run_pipeline`` itself: each checkpoint's jobs
    carry the stage's job group, and the tables equal the untraced ones."""
    from nous_spark import pipeline
    from nous_spark.datagen import generate_pages
    from nous_spark.streaming import TABLE_KEYS

    real = pipeline.Run.checkpoint
    out = str(tmp_path / "traced")
    walls, _, wall = workloads.grouped_pipeline(spark, generate_pages(spark, 200, seed=9), out)
    assert pipeline.Run.checkpoint is real
    assert set(walls) == set(workloads.STAGES)
    assert all(0 < w <= wall for w, _ in walls.values())
    tracker = spark.sparkContext.statusTracker()
    assert all(tracker.getJobIdsForGroup(stage) for stage in workloads.STAGES)
    for name in workloads.IO_TABLES:
        keys = TABLE_KEYS[name]
        got = spark.read.parquet(os.path.join(out, f"graph_{name}")).select(keys)
        want = spark.read.parquet(os.path.join(small_build, f"graph_{name}")).select(keys)
        assert walls[f"graph_{name}"][1] == want.count()
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
