"""End-to-end KG construction pipeline with checkpointed, resumable stages.

Stage graph (each stage a pure DataFrame transform + a parquet stage
table; Iceberg would swap in via the same writer seam — sources/io.py):

  pages ──extract──> docs(url, warc_ts, lang, text, mentions[], triples[])
        ──mentions──> mentions(url, mention_rank, id_type, id_value, anchor_id)
        ──canonical──> mapping(anchor_id, entity_id)        [connected components]
        ──link──> triples(entity_id, pred, fact_id, ..., source_url)
        ──materialize──> graph/{nodes,identifiers,facts,sources,edges}

Resumability (north_rule): a ``_manifest.json`` in the run directory
records each completed stage's row count and read-back schema;
re-running skips a stage whose table still holds those rows and
re-reads its parquet output with that schema (no inference job) —
combined with idempotent (dedup-keyed) writes, a killed-and-restarted
run produces byte-identical tables with zero duplicate rows. Per-stage
metrics rows (rows_out/tokens/wall, or status='failed' + error_type)
land in ``metrics/`` and per-partition lineage rows in ``lineage/`` —
the analog of the reference's token_usage_events ledger
(usage/models.py:16-63).

Only ``stage_extract`` evaluates Python; every later stage is JVM-only
(tests/test_pipeline.py pins the plans).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nous_spark.extraction.html import extract_text_str
from nous_spark.extraction.mentions import extract_mentions_text
from nous_spark.extraction.triples import extract_triples_text
from nous_spark.linking import (
    canonical_mapping,
    cooccurrence_alias_edges_from_arrays,
    with_anchor_id,
)
from nous_spark.normalize import fact_id_col

GRAPH_TABLES = ("nodes", "identifiers", "facts", "sources", "edges")

DOCS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, "
    "mentions array<struct<id_type:string,id_value:string>>, "
    "triples array<struct<pred:string,fact_type:string,fact_name:string,confidence:double>>"
)


# --------------------------------------------------------------------------
# stage transforms (pure)
# --------------------------------------------------------------------------
def stage_extract(pages: DataFrame) -> DataFrame:
    """html -> text (byte-identical per url) + mentions + triples in ONE
    Arrow-batched mapInPandas pass, no shuffle.

    Fused deliberately: three chained pandas UDFs would each get their
    own PythonRunner (3 Python workers per task — measured 3.5x CPU
    inflation at local[32] from worker fork+import costs alone). One
    fused pass means one worker per task and one Arrow round trip: the
    html bytes never cross the JVM<->Python boundary more than once.

    An optional ``history`` column (prior conversation turns, joined by
    newlines) extends the PAGES contract: when present it is prepended
    to the extraction scan — the batch analog of the reference's history
    section in the extractor prompt (AssimilateKnowledgeRequest.history,
    dtos/knowledge_dto.py:76-80 -> langchain_fact_extractor.py:129-152)
    — while the emitted ``text`` stays the page's OWN extracted text
    (the byte-identity-per-url contract is unchanged).
    """
    has_history = "history" in pages.columns

    def gen(batches):
        import pandas as pd

        from nous_spark.extraction.triples import with_history

        for pdf in batches:
            # the PAGES contract allows html-less rows carrying text
            # directly (input_hint: both columns nullable) — fall back so
            # text-only pages still contribute instead of silently
            # yielding zero mentions/triples
            texts = [
                extract_text_str(h) if h is not None else (t or "")
                for h, t in zip(pdf["html"], pdf["text"])
            ]
            if "history" in pdf.columns:
                scans = [with_history(h, t) for h, t in zip(pdf["history"], texts)]
            else:
                scans = texts
            mentions = [
                [{"id_type": a, "id_value": b} for (a, b) in extract_mentions_text(t)]
                for t in scans
            ]
            triples = [
                [
                    {"pred": p, "fact_type": ft, "fact_name": fn, "confidence": c}
                    for (p, ft, fn, c) in extract_triples_text(t)
                ]
                for t in scans
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "text": texts,
                    "mentions": mentions,
                    "triples": triples,
                }
            )

    cols = ["url", "warc_ts", "lang", "html", "text"] + (
        ["history"] if has_history else []
    )
    return pages.select(*cols).mapInPandas(gen, DOCS_SCHEMA)


def stage_mentions(docs: DataFrame) -> DataFrame:
    m = docs.select(
        "url", "warc_ts", F.posexplode("mentions").alias("mention_rank", "m")
    ).select("url", "warc_ts", "mention_rank", "m.id_type", "m.id_value")
    return with_anchor_id(m)


def stage_canonical(
    mentions: DataFrame,
    docs: DataFrame,
    alias_dict: DataFrame | None = None,
    use_lsh: bool = False,
) -> DataFrame:
    """Co-occurrence alias edges come from ``docs`` (the array-form
    extract output, linking.cooccurrence_alias_edges_from_arrays)."""
    return canonical_mapping(
        mentions, cooccurrence_alias_edges_from_arrays(docs), alias_dict, use_lsh=use_lsh
    )


def stage_link(docs: DataFrame, mapping: DataFrame) -> DataFrame:
    """Attach each page's triples to its subject's canonical entity id.

    The subject is the page's FIRST mention — already the first element
    of the docs row's mentions array, so its entity key is built
    MAP-SIDE (a JVM concat per page, before the triple explode) instead
    of re-joining the exploded mentions table on url. The only join left
    is exploded-triples x mapping on entity_key (the mapping carries the
    plain key alongside its uuid5 anchor, linking.canonical_mapping —
    no Python UDF pass here at all): ``mapping`` has one row per
    distinct identity (<< one per page), so AQE broadcasts it at bench
    scale, and at web scale this is the unavoidable identity-resolution
    shuffle — strictly cheaper than the url self-join it replaces, which
    shuffled the full per-page corpus a second time.
    """
    first = F.element_at("mentions", 1)
    first_key = F.concat_ws(":", first["id_type"], first["id_value"])
    exploded = (
        docs.filter(F.size("mentions") > 0)
        .select(
            "url",
            "warc_ts",
            first_key.alias("entity_key"),
            F.explode("triples").alias("t"),
        )
        .select(
            "url",
            "warc_ts",
            "entity_key",
            F.col("t.pred").alias("pred"),
            F.col("t.fact_type").alias("fact_type"),
            F.col("t.fact_name").alias("fact_name"),
            F.col("t.confidence").alias("confidence"),
        )
    )
    return (
        exploded.join(mapping.select("entity_key", "entity_id"), "entity_key")
        .withColumn("fact_id", fact_id_col(F.col("fact_type"), F.col("fact_name")))
        .select(
            "entity_id",
            "pred",
            "fact_type",
            "fact_name",
            "fact_id",
            "confidence",
            F.col("url").alias("source_url"),
            "warc_ts",
        )
    )


# --------------------------------------------------------------------------
# run orchestration: checkpoints, resume, metrics
# --------------------------------------------------------------------------
def _readback_schema(schema: StructType, partition_by: list[str] | None) -> StructType:
    """The schema ``spark.read.parquet`` infers for a table written from
    ``schema``: file sources read every field (nested ones too) as
    nullable, and hive partition columns come last."""

    def nullable(t: dict | str) -> dict | str:
        if not isinstance(t, dict):
            return t
        if t["type"] == "struct":
            return {**t, "fields": [{**f, "nullable": True, "type": nullable(f["type"])} for f in t["fields"]]}
        if t["type"] == "array":
            return {**t, "elementType": nullable(t["elementType"]), "containsNull": True}
        if t["type"] == "map":
            return {
                **t,
                "keyType": nullable(t["keyType"]),
                "valueType": nullable(t["valueType"]),
                "valueContainsNull": True,
            }
        return t

    parts = partition_by or []
    fields = [f for f in schema.fields if f.name not in parts] + [schema[c] for c in parts]
    return StructType.fromJson(nullable(StructType(fields).jsonValue()))


def _footer_rows(path: str) -> int | None:
    """Rows in a parquet table directory by its footers (hive partition
    subdirectories included); None when a data file is unreadable."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                try:
                    total += pq.read_metadata(os.path.join(root, f)).num_rows
                except (OSError, ValueError):  # truncated / not parquet
                    return None
    return total


class Run:
    """A checkpointed pipeline run rooted at ``out_dir``."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "run"):
        import threading

        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.manifest_path = os.path.join(out_dir, "_manifest.json")
        os.makedirs(out_dir, exist_ok=True)
        self.manifest = self._load_manifest()
        self.metrics: list[dict] = []
        self._lock = threading.Lock()  # checkpoint() may run concurrently

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"run_id": self.run_id, "stages": {}}

    def _save_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)

    def done(self, stage: str) -> bool:
        """Resume trusts a manifest entry only when the table backs it: a
        ``_SUCCESS`` marker and parquet footers summing to the recorded
        row count (read driver-side with pyarrow, no Spark job). A stage
        whose output was deleted or truncated after its entry was
        written is recomputed."""
        entry = self.manifest["stages"].get(stage)
        if entry is None or "schema" not in entry:
            return False
        path = self.path(stage)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        return _footer_rows(path) == entry["rows"]

    def path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def read(self, stage: str) -> DataFrame:
        """The stage table, read with the schema its manifest entry
        recorded: a schema-less parquet read runs a footer job to infer
        it, one serial job per checkpoint."""
        from nous_spark.io import read_table

        schema = StructType.fromJson(self.manifest["stages"][stage]["schema"])
        return read_table(self.spark, self.path(stage), schema=schema)

    def checkpoint(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        tokens_col: Column | None = None,
        operation: str | None = None,
    ) -> DataFrame:
        """Materialize a stage: write the stage table once (io.py seam —
        parquet here, Iceberg on a cluster), mark done, read back.

        If the stage is already done (resume), the compute is skipped
        entirely and the stored result is returned — zero recompute.

        ``tokens_col`` (a per-row token-count expression) piggybacks a
        token sum on the same Observation, and ``operation`` prices it
        at write time (pricing.py, F7/G4): the stage's metrics row then
        carries (tokens, cost_usd DECIMAL(18,8)) like the reference's
        token_usage_events ledger. A write that raises leaves a
        ``status='failed'`` row naming the exception type, then re-raises.
        """
        if self.done(stage):
            return self.read(stage)
        t0 = time.time()
        from pyspark.sql import Observation

        from nous_spark.io import write_table

        # row count (+ token sum) piggybacks on the write job via the
        # Observation API — no separate count job per stage (driver-serial
        # jobs are the scaling-efficiency tax at small corpus sizes).
        obs = Observation(f"ckpt_{stage}")
        metrics_exprs = [F.count(F.lit(1)).alias("rows")]
        if tokens_col is not None:
            metrics_exprs.append(F.sum(tokens_col).alias("tokens"))
        try:
            write_table(
                df.observe(obs, *metrics_exprs),
                self.path(stage),
                mode="overwrite",
                partition_by=partition_by,
            )
            got = obs.get
        except Exception as e:
            self._ledger(stage, t0, status="failed", error_type=type(e).__name__)
            raise
        rows_out = int(got["rows"])
        tokens = int(got["tokens"]) if tokens_col is not None and got.get("tokens") is not None else None
        cost = None
        if tokens is not None and operation is not None:
            from nous_spark.pricing import cost_usd

            cost = cost_usd(operation, tokens)
        entry = {
            "rows": rows_out,
            "schema": _readback_schema(df.schema, partition_by).jsonValue(),
            "finished": time.time(),
        }
        self._ledger(stage, t0, rows_out=rows_out, tokens=tokens, cost=cost)
        with self._lock:
            self.manifest["stages"][stage] = entry
            self._save_manifest()
        return self.read(stage)

    def _ledger(
        self,
        stage: str,
        t0: float,
        rows_out: int | None = None,
        tokens: int | None = None,
        cost=None,
        status: str = "ok",
        error_type: str | None = None,
    ) -> None:
        """One metrics row for a stage that ran in this invocation."""
        with self._lock:
            self.metrics.append(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "rows_out": rows_out,
                    "tokens": tokens,
                    "cost_usd": cost,
                    "started_at": dt.datetime.fromtimestamp(t0, dt.timezone.utc),
                    "finished_at": dt.datetime.now(dt.timezone.utc),
                    "status": status,
                    "error_type": error_type,
                }
            )

    def write_lineage(self, stage: str, df: DataFrame) -> None:
        """Per-partition lineage rows for a materialized stage.

        Written to a per-(run_id, stage) directory with OVERWRITE so a
        resumed/re-invoked run replaces identical rows instead of
        appending duplicates (the idempotent-sink rule applies to the
        bookkeeping tables too)."""
        lineage = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
        )
        path = os.path.join(self.out_dir, "lineage", f"run_id={self.run_id}", f"stage={stage}")
        lineage.drop("run_id", "stage").write.mode("overwrite").parquet(path)

    def flush_metrics(self) -> None:
        """Metrics rows for stages that EXECUTED in this invocation.

        Per-run_id overwrite + merge with previously recorded stages: a
        resume run (which skips stages and produces no metric rows for
        them) keeps the original rows; re-running a stage replaces its
        row — zero duplicates either way.

        Written DRIVER-SIDE with pyarrow: the ledger is a handful of
        rows already materialized on the driver, and routing it through
        a Spark job added two serial driver round trips (createDataFrame
        + collect + write) to every run — pure non-scaling wall-clock at
        bench corpus sizes. Parquet-on-disk layout is unchanged (Spark
        reads it back with the schema below)."""
        if not self.metrics:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.out_dir, "metrics", f"run_id={self.run_id}")
        prior_rows: list[dict] = []
        if os.path.exists(path):
            fresh = {m["stage"] for m in self.metrics}
            prior = pq.read_table(path)
            prior_rows = [r for r in prior.to_pylist() if r["stage"] not in fresh]
        rows = prior_rows + self.metrics
        schema = pa.schema(
            [
                pa.field("run_id", pa.string(), nullable=False),
                pa.field("stage", pa.string(), nullable=False),
                pa.field("rows_out", pa.int64()),
                pa.field("tokens", pa.int64()),
                pa.field("cost_usd", pa.decimal128(18, 8)),
                pa.field("started_at", pa.timestamp("us", tz="UTC")),
                pa.field("finished_at", pa.timestamp("us", tz="UTC")),
                pa.field("status", pa.string()),
                pa.field("error_type", pa.string()),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=schema)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "_tmp.parquet")
        pq.write_table(table, tmp)
        # crash-safe order: atomically replace the canonical part file
        # FIRST (a crash before this point leaves the old ledger intact;
        # after it, the new one), THEN sweep any other leftover part
        # files. Deleting before the replace had a window where only the
        # underscore-prefixed tmp existed — which parquet readers skip as
        # hidden, silently losing the whole ledger.
        os.replace(tmp, os.path.join(path, "part-00000.parquet"))
        for f in os.listdir(path):
            if f.endswith(".parquet") and f != "part-00000.parquet":
                os.remove(os.path.join(path, f))
        self.metrics = []


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run",
    alias_dict: DataFrame | None = None,
    tenant_id: str | None = None,
    use_lsh: bool = False,
) -> dict[str, DataFrame]:
    """Execute (or resume) the full pipeline; returns the graph tables.

    ``tenant_id`` stamps every graph-table row and hive-partitions the
    output on it — the physical-isolation analog of the reference's
    graph-per-tenant (SURVEY.md §1.3); at 10^12 docs each tenant's
    queries prune to its partition directories."""
    run = Run(spark, out_dir, run_id)
    try:
        return _run_stages(run, pages, alias_dict, tenant_id, use_lsh)
    finally:
        # failed stages leave ledger rows too (Run.checkpoint)
        run.flush_metrics()


def _run_stages(
    run: Run,
    pages: DataFrame,
    alias_dict: DataFrame | None,
    tenant_id: str | None,
    use_lsh: bool,
) -> dict[str, DataFrame]:
    # the extract stage is the pipeline's provider-call analog (G1):
    # token-count its output text and price it into the metrics ledger
    docs = run.checkpoint(
        "extract",
        stage_extract(pages),
        tokens_col=F.size(F.split(F.col("text"), r"\s+")),
        operation="extract",
    )
    mentions = run.checkpoint("mentions", stage_mentions(docs))
    mapping = run.checkpoint(
        "canonical", stage_canonical(mentions, docs, alias_dict, use_lsh=use_lsh)
    )

    # mentions x mapping feeds three of the five graph tables — persist it
    # once instead of recomputing the join per table job, and FILL the
    # cache eagerly: if the fill happened lazily inside the five
    # concurrent table jobs, they would contend on the cache partition
    # locks (first-toucher computes, the rest block) — a serialized,
    # poorly-scaling prefix inside every write job. The fill job runs
    # CONCURRENTLY with the triples checkpoint (they share no inputs'
    # outputs), so neither adds serial wall.
    from concurrent.futures import ThreadPoolExecutor

    mentions_mapped = (
        mentions.join(mapping, "anchor_id")
        .select("url", "mention_rank", "id_type", "id_value", "entity_id", "warc_ts")
        .persist()
    )

    from nous_spark.graph import build_entity_tables, build_fact_tables

    def stamp(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("tenant_id", F.lit(tenant_id)) if tenant_id is not None else df
        )

    part = ["tenant_id"] if tenant_id is not None else None
    out: dict[str, DataFrame] = {}
    try:
        # All graph-table writes + lineage run CONCURRENTLY (Spark's
        # scheduler interleaves their jobs across the executor pool)
        # instead of serializing six small writes — AND the mm-only
        # tables (nodes, identifiers) don't wait for the triples stage:
        # they start right after the cache fill, overlapping the triples
        # checkpoint. facts/sources/edges join in once `linked` lands.
        with ThreadPoolExecutor(max_workers=len(GRAPH_TABLES) + 2) as pool:
            fill_fut = pool.submit(mentions_mapped.count)
            ent_tables = build_entity_tables(mentions_mapped)

            def write_after_fill(name: str) -> DataFrame:
                fill_fut.result()
                return run.checkpoint(f"graph_{name}", stamp(ent_tables[name]), part)

            futs = {name: pool.submit(write_after_fill, name) for name in ("nodes", "identifiers")}
            linked = run.checkpoint("triples", stage_link(docs, mapping))

            fact_tables = build_fact_tables(linked, mentions_mapped)
            # cluster edge files by head entity: parquet row-group min/max
            # stats on `src` then prune most files for point recall lookups
            # (the batch analog of the reference's unique B-tree on
            # Entity.id, docs/graph_db_schema_age.md:40) — a local sort,
            # no extra shuffle.
            fact_tables["edges"] = fact_tables["edges"].sortWithinPartitions(
                "src", "edge_type"
            )
            for name in ("facts", "sources", "edges"):
                futs[name] = pool.submit(
                    run.checkpoint, f"graph_{name}", stamp(fact_tables[name]), part
                )
            # lineage is independent of the table writes — same pool, so
            # its job interleaves instead of adding a serial tail
            lineage_fut = pool.submit(run.write_lineage, "triples", linked)
            for name, fut in futs.items():
                out[name] = fut.result()
            lineage_fut.result()
    finally:
        mentions_mapped.unpersist()
    return out
