"""End-to-end near-duplicate pipeline (SURVEY.md §2.3 stage order).

    pages -> extract -> exact-dup collapse -> sketch -> bands
          -> candidates (skew-aware) -> verify -> cluster

Every stage is committed to the checkpoint store before the next starts, so
a rerun with the same config resumes after the last committed stage. Stage
metrics (rows, wall sec, per-partition counts) come back in the run report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.banding import band_table
from ..operators.candidates import candidate_pairs
from ..operators.connected_components import connected_components_auto
from ..operators.exact import collapse_exact_duplicates
from ..operators.signature import sketch_table
from ..operators.verify import verified_edges
from .checkpoint import ParquetCheckpointStore, StageResult


class RunReport:
    """Stage metrics for one pipeline run.

    ``star_buckets`` / ``star_members`` (the over-cap skew lineage) are
    LAZY: reading them runs one small aggregate over the committed band
    table on FIRST access (guide §1.2: don't spend a full band-table pass
    on numbers the caller may never read — the bench path reads only the
    clusters). Access them while the checkpoint store is still alive;
    values are cached after the first read."""

    def __init__(
        self,
        stages: list[StageResult] | None = None,
        cc_iterations: int = 0,
        star_buckets: int = 0,
        star_members: int = 0,
    ):
        self.stages = stages if stages is not None else []
        self.cc_iterations = cc_iterations
        self._stars = (star_buckets, star_members)
        self._star_thunk = None

    def _force_stars(self) -> None:
        if self._star_thunk is not None:
            thunk, self._star_thunk = self._star_thunk, None
            self._stars = thunk()

    @property
    def star_buckets(self) -> int:
        self._force_stars()
        return self._stars[0]

    @star_buckets.setter
    def star_buckets(self, v: int) -> None:
        self._force_stars()
        self._stars = (int(v), self._stars[1])

    @property
    def star_members(self) -> int:
        self._force_stars()
        return self._stars[1]

    @star_members.setter
    def star_members(self, v: int) -> None:
        self._force_stars()
        self._stars = (self._stars[0], int(v))

    def to_dict(self) -> dict:
        return {
            "stages": [
                {
                    "name": s.name,
                    "rows": s.rows,
                    "wall_sec": round(s.wall_sec, 3),
                    "skipped": s.skipped,
                    "n_partitions": len(s.partition_counts),
                }
                for s in self.stages
            ],
            "cc_iterations": self.cc_iterations,
            "star_buckets": self.star_buckets,
            "star_members": self.star_members,
        }


def extract(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages -> docs(url, text): null/short filtering.

    text_source="column" (default) passes the stored text column through
    untouched — the byte-identity invariant the oracle comparison relies
    on. text_source="html" derives text by running the native HTML
    extractor on the html column (the raw-WARC ingest shape); by the same
    invariant both sources yield identical downstream clusters, and
    test_pipeline_from_html_matches_text_column pins that."""
    if cfg.text_source == "html":
        from ..operators.extraction import extracted_text_col

        docs = pages.select("url", extracted_text_col("html").alias("text"))
    else:
        docs = pages.select("url", "text")
    if cfg.normalize != "none":
        from ..functions.unicode_norm import normalize_unicode

        docs = docs.select(
            "url", normalize_unicode(F.col("text"), cfg.normalize.upper()).alias("text")
        )
    if cfg.line_dedup_min_len > 0:
        from ..operators.corpus import line_dedup

        docs = line_dedup(
            docs, id_col="url", min_len=cfg.line_dedup_min_len
        ).select("url", F.col("clean_text").alias("text"))
    return docs.where(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "utf-8")) >= cfg.min_doc_bytes)
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str | None = None,
    store=None,
) -> tuple[DataFrame, RunReport]:
    """Returns (clusters(url, cluster_id), report). Only docs that belong to
    some near-duplicate cluster appear; all other urls are singletons.

    Stage storage is pluggable (round-4): pass ``store`` (anything with
    the CheckpointStore contract — get_or_compute/has/read/manifest, e.g.
    plans.iceberg.IcebergCheckpointStore) to commit stages to a catalog
    instead of the default parquet store built from ``checkpoint_dir``;
    the Iceberg integration test runs this whole pipeline against an
    Iceberg catalog whenever the runtime jar is present."""
    if store is None:
        if checkpoint_dir is None:
            raise ValueError("run_pipeline needs checkpoint_dir or store")
        store = ParquetCheckpointStore(checkpoint_dir, cfg.config_hash())
    report = RunReport()
    rows: dict[str, int] = {}

    def stage(name: str, compute) -> DataFrame:
        df, res = store.get_or_compute(spark, name, compute)
        report.stages.append(res)
        rows[name] = res.rows
        return df

    docs = stage("extract", lambda: extract(pages, cfg))

    reps_and_edges = stage(
        "exact",
        lambda: _exact_stage(docs),
    )
    reps = reps_and_edges.where(F.col("kind") == "rep").select("url", "text")
    exact_edges = reps_and_edges.where(F.col("kind") == "edge").select(
        F.col("url").alias("url_a"), F.col("url_b"), F.lit(1.0).alias("jaccard")
    )

    signatures = stage("signatures", lambda: _sketch_stage(reps, cfg))
    bands = stage("bands", lambda: band_table(signatures, cfg))

    def _candidates():
        pairs, skew = candidate_pairs(bands, cfg)

        def stars() -> tuple[int, int]:
            skew_rows = skew.agg(
                F.count("*").alias("b"),
                F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("m"),
            ).first()
            return int(skew_rows["b"]), int(skew_rows["m"])

        report._star_thunk = stars
        return pairs

    pairs = stage("candidates", _candidates)
    # Row counts already in the manifests bound what the dispatches below
    # would otherwise count with a Spark job. Every candidate url is a
    # signature url, so the distinct url count is at most the smaller of
    # 2 x candidate pairs and signature rows; the exact stage holds one
    # row per representative plus one per exact edge, so its rows bound
    # the exact edges.
    near_edges = stage(
        "edges",
        lambda: verified_edges(
            pairs,
            signatures,
            cfg,
            n_candidate_urls=min(2 * rows["candidates"], rows["signatures"]),
        ),
    )
    all_edges = near_edges.select("url_a", "url_b").union(
        exact_edges.select("url_a", "url_b")
    )

    def _cluster():
        clusters, iters = connected_components_auto(
            all_edges, edge_bound=rows["edges"] + rows["exact"]
        )
        report.cc_iterations = iters
        return clusters

    clusters = stage("clusters", _cluster)
    return clusters, report


def run_pipeline_flow(
    spark: SparkSession, pages: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, RunReport]:
    """Checkpoint-free variant: one chained Catalyst plan from pages to
    edges (barriers only at shuffles), then clustering. Used for throughput
    /scaling measurement where per-stage materialization would swamp the
    signal at sandbox scale; production runs use run_pipeline (checkpointed)
    where stage compute dwarfs commit cost. Same operators, same results.
    """
    from pyspark.storagelevel import StorageLevel

    report = RunReport()
    par = spark.sparkContext.defaultParallelism * 4
    docs = extract(pages, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    reps, exact_edges = collapse_exact_duplicates(docs)
    exact_edges = exact_edges.persist(StorageLevel.MEMORY_AND_DISK)
    # Partitioning note: AQE's byte-based coalescing sizes partitions for
    # IO, but the sketch/band stages are Python-UDF CPU-bound — a "small"
    # 45MB input is minutes of kernel work. Repartition by row count so
    # every core gets UDF work (at 100TB the byte heuristic and the CPU
    # heuristic agree; at sandbox scale they diverge wildly).
    reps = reps.repartition(par)
    # signatures feed BOTH the banding branch and the two verify joins;
    # bands feed the bucket-size agg and both self-join sides — without
    # persists Catalyst recomputes the UDF stages once per consumer
    signatures = _sketch_stage(reps, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_table(signatures, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    pairs, _skew = candidate_pairs(bands, cfg)
    # pairs feed THREE verify consumers (the strategy-dispatch url count,
    # the candidate-url slice, and the scoring scan) — without a persist
    # the window + pairing chain recomputes per consumer (round-8 profile:
    # verify dominated the flow wall 5.4 s of 9, ~half of it recompute)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    near_edges = verified_edges(pairs, signatures, cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    all_edges = near_edges.select("url_a", "url_b").union(
        exact_edges.select("url_a", "url_b")
    )
    clusters, iters = connected_components_auto(all_edges)
    report.cc_iterations = iters
    return clusters, report


def _sketch_stage(reps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """sketch_table, or its sharded variant when the config bounds per-task
    input bytes (outlier 100MB+ pages: same sketch bit-for-bit, bounded
    Arrow batches).

    Partitioning: parquet re-reads plan splits by BYTES (maxPartitionBytes
    file packing), but the sketch UDF is CPU-bound per byte — a checkpoint
    snapshot that packs into fewer splits than cores would underparallelize
    the most expensive stage. Repartition up only when that happens, and
    only to one task per core: one wave of Python tasks. Each Python task
    pays a fixed start-up cost before the UDF runs (about 0.25-0.3 s on a
    4-core VM: the worker calls importlib.invalidate_caches() per task,
    which re-reads the pyspark.zip directory once per zipimporter). An
    identity mapInArrow over 4000 rows measured 279 / 341 / 607 / 1187 ms
    at 1 / 4 / 8 / 16 partitions on local[4], against 48-68 ms for the
    same job without Python, so a second wave at small inputs costs more
    than the balance it buys; fewer sketch tasks also leave fewer
    signature part files for the bands stage to read. At production scale
    snapshots have thousands of splits and this is a no-op (split
    planning only, no job)."""
    par = reps.sparkSession.sparkContext.defaultParallelism
    if reps.rdd.getNumPartitions() < par:
        reps = reps.repartition(par)
    if cfg.shard_chunk_bytes > 0:
        from ..operators.sharding import sketch_table_sharded

        return sketch_table_sharded(reps, cfg.sketch, cfg.shard_chunk_bytes)
    return sketch_table(reps, cfg.sketch)


def _exact_stage(docs: DataFrame) -> DataFrame:
    """Single-parquet encoding of (reps ∪ exact edges) so the exact stage is
    one checkpointed snapshot, with a self-describing schema: kind='rep'
    rows carry (url, text) and a null url_b; kind='edge' rows carry
    (url=url_a, url_b) and a null text. (Round 2 smuggled edge urls through
    the text column; anyone reading the checkpoint parquet had to know the
    pun — now the columns mean what they say.)"""
    reps, exact_edges = collapse_exact_duplicates(docs)
    rep_rows = reps.select(
        F.lit("rep").alias("kind"),
        F.col("url"),
        F.col("text"),
        F.lit(None).cast("string").alias("url_b"),
    )
    edge_rows = exact_edges.select(
        F.lit("edge").alias("kind"),
        F.col("url_a").alias("url"),
        F.lit(None).cast("string").alias("text"),
        F.col("url_b"),
    )
    return rep_rows.union(edge_rows)
