"""Phased, resumable pipeline runner: the phase graph of
``run_pipeline`` (``pipeline.PHASES``, which lists each phase's tables)
under a warehouse materializer.

The reference runs layers 0-4 with a snapshot table per layer
(cmd/matcher-v2/main.go:3389-3421); a crash resumes from the last
snapshot. Here each phase writes its tables to the Warehouse (Iceberg
snapshots when available, versioned parquet + manifest otherwise),
reads them back for the phases after it and records a phase-commit;
`run_phased` skips committed phases. Every persisted table carries
lineage columns (run_id, phase, written-at partition id, engine
version) that trace any output row back to the task that wrote it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import __version__
from ..pipeline import PHASES, InMemory, PipelineConfig, run_graph
from ..sources.catalog import Warehouse

TABLES = frozenset(t for _, _, tables in PHASES for t in tables)


def with_lineage(df: DataFrame, run_id: str, phase: str) -> DataFrame:
    """Per-partition lineage: which run/phase/task-partition wrote each
    row, and when. spark_partition_id is evaluated at write time, so it
    records the physical partition that produced the row."""
    return (df
            .withColumn("_run_id", F.lit(run_id))
            .withColumn("_phase", F.lit(phase))
            .withColumn("_partition_id", F.spark_partition_id())
            .withColumn("_engine_version", F.lit(__version__))
            .withColumn("_written_at", F.current_timestamp()))


def strip_lineage(df: DataFrame) -> DataFrame:
    return df.drop("_run_id", "_phase", "_partition_id",
                   "_engine_version", "_written_at")


class WarehouseMaterializer(InMemory):
    """Phase tables go through the Warehouse: saved with lineage, then
    read back, so every later step (the decision included) reads the
    snapshot rather than re-running the lazy plan behind it. Frames
    that are not tables keep the in-memory policy."""

    def __init__(self, cfg: PipelineConfig, wh: Warehouse, run_id: str,
                 force: bool):
        super().__init__(cfg)
        self.wh, self.run_id, self.force = wh, run_id, force

    def _load(self, name: str) -> DataFrame:
        df = strip_lineage(self.wh.load(name))
        return df.cache() if name in self.CACHE else df

    def run_phase(self, phase: str, tables: tuple, compute) -> dict:
        # resume only if EVERY table exists: an older engine version's
        # commit may list fewer tables (p4 before scored_pairs existed)
        if (not self.force and self.wh.phase_done(phase)
                and all(self.wh.exists(t) for t in tables)):
            out = {t: self._load(t) for t in tables}
            if "audit_candidates" in out:   # carries every decision column
                out["decisions"] = out["audit_candidates"]
            return out
        out = compute()
        self.wh.commit_phase(phase, list(tables))
        return out

    def keep(self, phase: str, name: str, df: DataFrame) -> DataFrame:
        if name not in TABLES:
            return super().keep(phase, name, df)
        self.wh.save(with_lineage(df, self.run_id, phase), name)
        return self._load(name)


def run_phased(spark: SparkSession, docs: DataFrame, gaz: DataFrame,
               wh: Warehouse, run_id: str | None = None,
               cfg: PipelineConfig | None = None,
               force: bool = False) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline phase by phase through the
    Warehouse. A phase whose commit marker exists is NOT recomputed —
    its tables are read back (Iceberg snapshot / parquet version), so a
    resumed p4 returns no ``tuning``/``thresholds_used`` and a resumed
    p6 no ``components``/``consensus``; ``force`` recomputes all."""
    cfg = cfg or PipelineConfig()
    mat = WarehouseMaterializer(cfg, wh, run_id or f"run-{int(time.time())}",
                                force)
    return run_graph({"docs": docs, "gaz": gaz}, cfg, mat)
