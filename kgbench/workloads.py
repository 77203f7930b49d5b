"""The workloads: what each materializes, times and checks.

Both workloads are batch KG builds (``pipeline.run_pipeline``) over a
``datagen`` corpus made from the seed; they differ in how much of each
page is boilerplate, which moves the build's cost between layers:

* ``build_boilerplate`` (32 fill sentences a page): pure-Python extraction
  dominates, so an extraction change shows its full effect here.
* ``build_dense`` (no fill): extraction is cheap, and linking, connected
  components, salted HAS_FACT merging and the five concurrent graph
  writes carry the build. An extraction-only change should barely move it.

``run.py`` drives a workload object: ``setup`` (session start is timed
with it), ``op`` in a closed loop with one client, then ``check`` off the
timed path. A traced run calls ``trace`` and ``scaling_leg`` instead.
Every workload runs on ``local[4]`` in this one process.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks

CORES = 4
IO_TABLES = ("nodes", "identifiers", "facts", "sources", "edges")  # the graph tables
STAGES = (
    "extract", "mentions", "canonical", "triples",
    "graph_nodes", "graph_identifiers", "graph_facts", "graph_sources", "graph_edges",
)  # run_pipeline's checkpoint names


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def dir_files_bytes(path: str) -> tuple[int, int]:
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)


# ---------------------------------------------------------------------------
# layer measurements
# ---------------------------------------------------------------------------
def grouped_pipeline(spark: SparkSession, pages: DataFrame, out_dir: str) -> tuple[dict, float, float]:
    """``run_pipeline`` itself, with each stage checkpoint's Spark jobs
    tagged with a job group named after the stage. Returns
    ({stage: (wall_s, rows_out)}, start epoch seconds, wall seconds).
    Jobs outside a checkpoint (the mentions x mapping cache fill, lineage)
    stay untagged; they still count towards ``spark.core_busy_ratio``."""
    from nous_spark import pipeline

    sc = spark.sparkContext
    real = pipeline.Run.checkpoint
    walls: dict[str, tuple[float, int]] = {}

    def checkpoint(run, stage, df, *args, **kwargs):
        # runs in whichever thread run_pipeline checkpoints from; a job
        # group is a property of that thread
        sc.setJobGroup(stage, stage)
        t0 = time.perf_counter()
        try:
            return real(run, stage, df, *args, **kwargs)
        finally:
            walls[stage] = (time.perf_counter() - t0, run.manifest["stages"].get(stage, {}).get("rows", 0))
            sc.setLocalProperty("spark.jobGroup.id", None)

    shutil.rmtree(out_dir, ignore_errors=True)
    pipeline.Run.checkpoint = checkpoint
    try:
        start = time.time()
        t0 = time.perf_counter()
        pipeline.run_pipeline(spark, pages, out_dir, run_id="traced")
        wall = time.perf_counter() - t0
    finally:
        pipeline.Run.checkpoint = real
    return walls, start, wall


def stage_layer_metrics(walls: dict, groups: dict) -> dict[str, float]:
    """``pipeline.<stage>.*``: wall and rows from the checkpoint call, the
    rest from the stage's job group in the event log (``task_s`` is
    executor run time, which includes waiting on Python workers; ``cpu_s``
    is JVM CPU)."""
    out: dict[str, float] = {}
    for name in STAGES:
        g = groups.get(name, {})
        wall, rows = walls.get(name, (0.0, 0))
        prefix = f"pipeline.{name}"
        out[f"{prefix}.wall_s"] = wall
        out[f"{prefix}.task_s"] = g.get("run_s", 0.0)
        for m in ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "tasks"):
            out[f"{prefix}.{m}"] = g.get(m, 0.0)
        out[f"{prefix}.rows_out"] = rows
    return out


def extraction_metrics(pages: list[bytes]) -> dict[str, float]:
    """Per-function cost of the fused extract stage, by direct calls on
    each page's html."""
    from nous_spark.extraction.html import extract_text_str
    from nous_spark.extraction.mentions import extract_mentions_text
    from nous_spark.extraction.triples import extract_triples_text

    t_html = t_men = t_tri = 0.0
    n_men = n_tri = 0
    for html in pages:
        t0 = time.perf_counter()
        text = extract_text_str(html)
        t1 = time.perf_counter()
        n_men += len(extract_mentions_text(text))
        t2 = time.perf_counter()
        n_tri += len(extract_triples_text(text))
        t3 = time.perf_counter()
        t_html += t1 - t0
        t_men += t2 - t1
        t_tri += t3 - t2
    n = len(pages)
    return {
        "extraction.html_us_per_page": t_html / n * 1e6,
        "extraction.mentions_us_per_page": t_men / n * 1e6,
        "extraction.triples_us_per_page": t_tri / n * 1e6,
        "extraction.mentions_per_page": n_men / n,
        "extraction.triples_per_page": n_tri / n,
    }


def read_latency_metrics(lat_by_kind: dict[str, list[float]]) -> dict[str, float]:
    out = {}
    for kind in checks.READ_KINDS:
        ms = [x * 1e3 for x in lat_by_kind.get(kind, [])] or [0.0]
        out[f"graph.{kind}_p50_ms"] = quantile(ms, 0.5)
        out[f"graph.{kind}_p90_ms"] = quantile(ms, 0.9)
    return out


def counted_append(spark: SparkSession, batch: DataFrame, graph_dir: str) -> tuple[dict, dict, float]:
    """One timed ``streaming.assimilate_batch``; returns (offered, appended,
    wall). Its idempotent writer is wrapped to keep each table's offered
    frame, and those are counted after the timed call. They depend only on
    the batch, so the count is what the writes were offered."""
    import nous_spark.streaming as streaming

    frames: dict[str, DataFrame] = {}
    real_write = streaming.idempotent_write

    def keeping_write(df, target, keys, fmt=None):
        frames[os.path.basename(target)] = df
        return real_write(df, target, keys, fmt)

    streaming.idempotent_write = keeping_write
    try:
        t0 = time.perf_counter()
        appended = streaming.assimilate_batch(batch, graph_dir)
        wall = time.perf_counter() - t0
    finally:
        streaming.idempotent_write = real_write
    return {name: df.count() for name, df in frames.items()}, appended, wall


class Reader:
    """Recall reads over a graph directory written by the pipeline."""

    PREDS = ("lives_in", "works_at", "speaks", "enjoys")

    def __init__(self, spark: SparkSession, edges_dir: str, facts_dir: str):
        self.edges_dir, self.facts_dir = edges_dir, facts_dir
        self.edges = spark.read.parquet(edges_dir)
        self.facts = spark.read.parquet(facts_dir)

    def read(self, kind: str, ident: str, pred: str) -> list:
        return checks.spark_read(kind, self.edges, self.facts, ident, pred).collect()

    def oracle_check(self, reads: list[tuple[str, str, str]]) -> tuple[int, int]:
        """(matching, checked) recall answers against DuckDB."""
        con = checks.duck_graph(self.edges_dir, self.facts_dir)
        try:
            ok = 0
            for kind, ident, pred in reads:
                got = checks.canon_rows(tuple(r) for r in self.read(kind, ident, pred))
                want = checks.canon_rows(checks.duck_rows(con, kind, ident, pred))
                ok += got == want
            return ok, len(reads)
        finally:
            con.close()


def pick_reads(rng: random.Random, n_pages: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` (kind, identifier, pred) lookups cycling through the read
    kinds. One in three is on one of the 50 hot personas, rotating over the
    kinds; the rest are on a combo-bio page's own persona (page index
    i % 10 in {4, 6, 7} always carries an email identity)."""
    out = []
    for k in range(n):
        if k % 3 == (k // 3) % 3:
            pid = rng.randrange(50)
        else:
            pid = 1_000_000 + rng.randrange(n_pages // 10) * 10 + rng.choice((4, 6, 7))
        kind = checks.READ_KINDS[k % len(checks.READ_KINDS)]
        out.append((kind, f"email:persona{pid}@example.com", rng.choice(Reader.PREDS)))
    return out


def pages_frame(spark: SparkSession, lo: int, hi: int, seed: int, fill: int) -> DataFrame:
    """Pages [lo, hi) from ``datagen.gen_row``, built on the driver."""
    import pandas as pd

    from nous_spark.datagen import gen_row
    from nous_spark.schemas import PAGES

    rows = [gen_row(i, seed, fill)[0] for i in range(lo, hi)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=PAGES.fieldNames()), PAGES)


def sample_html(lo: int, hi: int, seed: int, fill: int) -> list[bytes]:
    from nous_spark.datagen import gen_row

    return [gen_row(i, seed, fill)[0]["html"] for i in range(lo, hi)]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class Build:
    """Batch KG build over ``N_PAGES`` datagen pages with ``FILL`` fill
    sentences each; op = one ``run_pipeline`` call."""

    N_PAGES: int
    FILL: int
    APPEND_PAGES = 100
    EXTRACT_SAMPLE = 200
    N_ORACLE_READS = 3
    N_TRACED_READS = 15

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.corpus = os.path.join(work, "corpus")
        self.appended: dict[str, int] | None = None

    def setup(self, spark: SparkSession) -> None:
        """Materialize the corpus, then warm up."""
        from nous_spark.datagen import generate_pages

        generate_pages(spark, self.N_PAGES, self.seed, self.FILL).write.parquet(self.corpus)
        self.warm(spark)

    def warm(self, spark: SparkSession) -> None:
        """Read the corpus in this session and build it once, untimed: JIT,
        Python workers, and the plans of every stage at the corpus's size.
        Builds still speed up a little after this (the first timed one runs
        up to ~10% slower than the next); the median of the timed builds
        absorbs that instead of a second warm-up build per run."""
        self.pages = spark.read.parquet(self.corpus)
        self.build(spark, "warm")

    def build(self, spark: SparkSession, name: str) -> float:
        """One ``run_pipeline`` call over the corpus into ``<work>/<name>``;
        its wall seconds."""
        from nous_spark.pipeline import run_pipeline

        out = os.path.join(self.work, name)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        run_pipeline(spark, self.pages, out, run_id=name)
        return time.perf_counter() - t0

    def op(self, spark: SparkSession, i: int) -> float:
        """One build; its wall seconds."""
        name = f"build{i % 2}"
        wall = self.build(spark, name)
        self.last_build = os.path.join(self.work, name)
        return wall

    def has_fact_edges(self, spark: SparkSession) -> int:
        """HAS_FACT edges the last build wrote (the same for every build)."""
        edges = spark.read.parquet(os.path.join(self.last_build, "graph_edges"))
        return edges.filter(F.col("edge_type") == "HAS_FACT").count()

    def check(self, spark: SparkSession) -> dict:
        from nous_spark.datagen import generate_expected

        expected = generate_expected(spark, self.N_PAGES, self.seed)
        p, r = checks.triple_pr(spark, self.last_build, expected)
        reader = Reader(
            spark,
            os.path.join(self.last_build, "graph_edges"),
            os.path.join(self.last_build, "graph_facts"),
        )
        reads = pick_reads(random.Random(self.seed), self.N_PAGES, self.N_ORACLE_READS)
        ok, n = reader.oracle_check(reads)
        # an append of pages past the corpus carries new urls and personas
        fresh = self.appended is None or all(self.appended[t] > 0 for t in ("nodes", "sources", "edges"))
        return {"precision": p, "recall": r, "oracle_ok": ok, "oracle_n": n,
                "correct": p >= 0.95 and r >= 0.95 and ok == n and fresh}

    def trace(self, spark: SparkSession) -> tuple[dict, dict, tuple[float, float]]:
        """The traced part, in a warmed session with the event log on:
        plain builds (the untraced reference) before and after the same
        ``run_pipeline`` with job groups per stage, per-function extraction
        cost, timed recall reads of the graph it wrote, and one
        ``streaming.assimilate_batch`` of pages past the corpus into a copy
        of that graph. Returns the metrics measured outside the event log,
        the traced build's {stage: (wall_s, rows_out)}, and its window as
        (start epoch seconds, wall seconds)."""
        before = self.build(spark, "plain")
        out = os.path.join(self.work, "traced")
        walls, start, traced = grouped_pipeline(spark, self.pages, out)
        # builds keep getting faster as the JIT warms: a plain build on each
        # side of the traced one cancels that drift out of the overhead
        self.plain_build = (before + self.build(spark, "plain")) / 2
        self.last_build = out
        m = {"trace.overhead_s": traced - self.plain_build}
        m.update(extraction_metrics(sample_html(0, self.EXTRACT_SAMPLE, self.seed, self.FILL)))

        reader = Reader(spark, os.path.join(out, "graph_edges"), os.path.join(out, "graph_facts"))
        lat: dict[str, list[float]] = {}
        for kind, ident, pred in pick_reads(random.Random(self.seed), self.N_PAGES, self.N_TRACED_READS):
            t0 = time.perf_counter()
            reader.read(kind, ident, pred)
            lat.setdefault(kind, []).append(time.perf_counter() - t0)
        m.update(read_latency_metrics(lat))

        graph_dir = os.path.join(self.work, "graph")
        for name in IO_TABLES:
            shutil.copytree(os.path.join(out, f"graph_{name}"), os.path.join(graph_dir, name))
        batch = pages_frame(spark, self.N_PAGES, self.N_PAGES + self.APPEND_PAGES, self.seed, self.FILL)
        offered, self.appended, wall = counted_append(spark, batch, graph_dir)
        m["streaming.assimilate_s"] = wall
        for name in IO_TABLES:
            m[f"io.{name}.useful_ratio"] = self.appended.get(name, 0) / max(offered.get(name, 0), 1)
        m["graph.edges_files"], m["graph.edges_bytes"] = dir_files_bytes(os.path.join(graph_dir, "edges"))
        return m, walls, (start, traced)

    def scaling_leg(self, spark: SparkSession) -> float:
        """(1-core build / 4-core build) / 4: ``spark`` is a fresh 1-core
        session, warmed here like the 4-core one before its reference."""
        self.warm(spark)
        return self.build(spark, "one_core") / self.plain_build / CORES


class BuildBoilerplate(Build):
    N_PAGES = 1200
    FILL = 32


class BuildDense(Build):
    N_PAGES = 4000
    FILL = 0


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports."""
    names = list(extraction_metrics([b""]))
    names += list(stage_layer_metrics({}, {}))
    names += ["spark.core_busy_ratio", "spark.scaling_eff_1to4"]
    names += list(read_latency_metrics({})) + ["graph.edges_files", "graph.edges_bytes"]
    names += ["streaming.assimilate_s"] + [f"io.{t}.useful_ratio" for t in IO_TABLES]
    return names + ["trace.overhead_s"]


WORKLOADS = {
    "build_boilerplate": BuildBoilerplate,
    "build_dense": BuildDense,
}
