"""Kill-and-resume at a stage boundary (BASELINE.md resumability target):
a pipeline run SIGKILLed mid-flight resumes from its manifest, completes,
and produces tables identical to an uninterrupted run — zero duplicate
rows (the north_rule's checkpoint/resume contract)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

from pyspark.sql import functions as F

from nous_spark.datagen import generate_pages
from nous_spark.pipeline import GRAPH_TABLES, run_pipeline

N_PAGES = 1500

CHILD = """
import sys
from nous_spark.session import get_spark
from nous_spark.datagen import generate_pages
from nous_spark.pipeline import run_pipeline

out_dir = sys.argv[1]
spark = get_spark(app_name="kill_child", cores=2, shuffle_partitions=4)
pages = generate_pages(spark, {n}, seed=42)
run_pipeline(spark, pages, out_dir, run_id="kr")
print("CHILD_DONE")
"""


def test_kill_mid_run_then_resume(spark, tmp_path):
    out_dir = str(tmp_path / "run")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD.format(n=N_PAGES), out_dir],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # let it get partway (JVM boot ~6s + first stages), then SIGKILL
    manifest = os.path.join(out_dir, "_manifest.json")
    deadline = time.time() + 120
    while time.time() < deadline and proc.poll() is None:
        if os.path.exists(manifest):
            stages = json.load(open(manifest)).get("stages", {})
            if stages:  # at least one stage checkpointed -> kill mid-run
                break
        time.sleep(0.5)
    killed_midway = proc.poll() is None
    if killed_midway:
        proc.send_signal(signal.SIGKILL)
        proc.wait()

    done_before = set(json.load(open(manifest))["stages"]) if os.path.exists(manifest) else set()
    all_stages = {"extract", "mentions", "canonical", "triples"} | {
        f"graph_{t}" for t in GRAPH_TABLES
    }
    if killed_midway:
        assert done_before < all_stages  # genuinely interrupted

    # resume in-process: completes, skipping what finished
    pages = generate_pages(spark, N_PAGES, seed=42)
    tables = run_pipeline(spark, pages, out_dir, run_id="kr")
    done_after = set(json.load(open(manifest))["stages"])
    assert all_stages <= done_after

    # zero-duplicate audit on every graph table
    keys = {
        "nodes": ["entity_id"],
        "identifiers": ["value", "id_type"],
        "facts": ["fact_id"],
        "sources": ["source_id"],
        "edges": ["src", "edge_type", "dst", "pred"],
    }
    for name in GRAPH_TABLES:
        df = tables[name]
        assert df.count() == df.dropDuplicates(keys[name]).count(), name

    # identical to an uninterrupted clean-room run
    clean_dir = str(tmp_path / "clean")
    clean = run_pipeline(spark, pages, clean_dir, run_id="clean")
    for name in ("edges", "facts", "nodes"):
        a, b = tables[name], clean[name]
        if name == "nodes":  # MAP column can't take part in set ops
            a, b = a.drop("metadata"), b.drop("metadata")
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_kill_then_lost_part_file_is_recomputed(spark, tmp_path):
    """A run killed after the mentions checkpoint, then one mentions part
    file deleted: resume must not trust the manifest entry (its footer
    row count no longer matches), recompute the stage, and end equal to
    an uninterrupted run."""
    import pyarrow.parquet as pq

    from nous_spark.pipeline import Run

    out_dir = str(tmp_path / "run")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env["NOUS_SPARK_DRIVER_MEM"] = "1g"  # a second JVM beside the test session's
    err_path = tmp_path / "child.err"
    with open(err_path, "wb") as err:
        proc = subprocess.Popen(
            [sys.executable, "-c", CHILD.format(n=N_PAGES), out_dir],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=err,
        )
    manifest = os.path.join(out_dir, "_manifest.json")
    deadline = time.time() + 300
    while time.time() < deadline and proc.poll() is None:
        if os.path.exists(manifest) and "mentions" in json.load(open(manifest))["stages"]:
            break
        time.sleep(0.2)
    if proc.poll() is None:
        proc.send_signal(signal.SIGKILL)
    proc.wait()
    assert os.path.exists(manifest) and "mentions" in json.load(open(manifest))["stages"], (
        err_path.read_text(errors="replace")[-3000:]
    )

    mentions_dir = os.path.join(out_dir, "mentions")
    parts = sorted(
        f for f in os.listdir(mentions_dir)
        if f.endswith(".parquet") and pq.read_metadata(os.path.join(mentions_dir, f)).num_rows
    )
    os.remove(os.path.join(mentions_dir, parts[0]))
    assert not Run(spark, out_dir, "kr").done("mentions")

    pages = generate_pages(spark, N_PAGES, seed=42)
    tables = run_pipeline(spark, pages, out_dir, run_id="kr")
    clean_dir = str(tmp_path / "clean")
    clean = run_pipeline(spark, pages, clean_dir, run_id="clean")
    pairs = {"mentions": (spark.read.parquet(mentions_dir), spark.read.parquet(f"{clean_dir}/mentions"))}
    pairs.update({name: (tables[name], clean[name]) for name in GRAPH_TABLES})
    for name, (a, b) in pairs.items():
        if name == "nodes":  # MAP column can't take part in set ops
            a, b = a.drop("metadata"), b.drop("metadata")
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
