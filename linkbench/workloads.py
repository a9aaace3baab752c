"""The two linkage workloads: corpus generation, timed runs, checks.

Both workloads read their inputs only from parquet files that
``synth.write_parquet`` generated from the seed before the session
starts. A workload function returns a :class:`Result`; in a traced run
it also fills the per-layer metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from datetime import datetime
from dataclasses import dataclass, field

import pandas as pd

from ehdc_llpg_address_matching_spark.pipeline import (PipelineConfig,
                                                       run_pipeline)
from ehdc_llpg_address_matching_spark.streaming.ingest import (
    read_document_stream, start_incremental_linkage)
from ehdc_llpg_address_matching_spark.synth import SynthConfig, write_parquet

from ehdc_llpg_address_matching_spark.operators.candidates import \
    prepare_gazetteer

from linkbench import layers
from linkbench.check import (F1_GATE, check_matches, match_digest,
                             pairwise_f1)
from linkbench.spans import job_stats, process_tree_cpu_s

# Sizes keep one invocation near a minute on a 4-core box, since a
# comparison takes ten runs per workload and commit. A pipeline run
# costs ~20 s warm and ~35-40 s cold there almost regardless of size
# (it launches ~140 Spark jobs): a cold batch run takes ~37 s at 2000
# docs and ~41 s at 5000, a cold micro-batch ~25 s at 1000 docs and
# ~29 s at 3000. The larger inputs are less bound by per-job latency,
# whose wall swings most with the host's CPU contention.
SIZES = {
    "batch_link": {"n_docs": 5000, "n_gazetteer": 1000},
    "stream_microbatch": {"n_docs": 3000, "n_gazetteer": 1000,
                          "files": 1},
}
# the config start_incremental_linkage uses when given none
STREAM_CFG = PipelineConfig(enable_vector=False, enable_spatial=False,
                            enable_symspell=False)
# Per-layer metrics of layers a workload does not run, by name prefix.
# They print as 0 and the env line lists them under "not_run". The
# stream's config switches off SymSpell and the spatial and vector
# generators; it never materializes the audit table or writes to a
# Warehouse. batch_link makes no micro-batches.
NOT_RUN = {
    "batch_link": ("stream.",),
    "stream_microbatch": ("p2.symspell.", "p3.spatial.", "p3.vector.",
                          "p4.audit_lev.", "wh."),
}


@dataclass
class Result:
    walls: list[float] = field(default_factory=list)     # timed runs
    cpus: list[float] = field(default_factory=list)      # their CPU time
    n_docs: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    f1: float = float("nan")
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Corpus:
    gazetteer: str
    documents: str
    gold: pd.DataFrame
    gaz_uprns: set
    doc_files: list[str] = field(default_factory=list)


def make_corpus(workload: str, seed: int, root: str,
                n_docs: int | None = None) -> Corpus:
    size = dict(SIZES[workload])
    if n_docs:
        size["n_docs"] = n_docs
        size["n_gazetteer"] = min(size["n_gazetteer"], max(n_docs // 2, 200))
    files = size.pop("files", 0)
    paths = write_parquet(root, SynthConfig(seed=seed, **size))
    gold = pd.read_parquet(paths["gold"])
    gaz_uprns = set(pd.read_parquet(paths["gazetteer"],
                                    columns=["uprn"])["uprn"])
    c = Corpus(paths["gazetteer"], paths["documents"], gold, gaz_uprns)
    if files:
        # the streaming schema: (doc_id, spans) only, one file per batch
        import pyarrow.parquet as pq
        docs = pq.read_table(paths["documents"],
                             columns=["doc_id", "spans"])
        per = -(-docs.num_rows // files)
        os.makedirs(os.path.join(root, "backlog"))
        for i in range(files):
            p = os.path.join(root, "backlog", f"part-{i:04d}.parquet")
            pq.write_table(docs.slice(i * per, per), p)
            c.doc_files.append(p)
    return c


def pinned_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _run_layer_metrics(run_span, cores: int) -> dict:
    st = run_span.stats
    return {
        "run.jobs": st["jobs"], "run.stages": st["stages"],
        "run.tasks": st["tasks"], "run.task_s": st["task_s"],
        "run.cpu_s": st["cpu_s"],
        "run.shuffle_write_bytes": st["shuffle_write_bytes"],
        "run.spill_bytes": st["spill_bytes"],
        "run.core_busy": st["task_s"] / (run_span.wall_s * cores),
    }


def batch_link(spark, corpus: Corpus, seconds: float, tracer=None,
               work: str = "") -> Result:
    """run_pipeline over the whole corpus, timed until ``matches`` is
    collected; runs repeat on fresh frames, with the cache cleared, until
    ``seconds`` have passed. A traced run makes one run, then the layer
    sweep and the warehouse pass on the same inputs."""
    cfg = PipelineConfig()
    res = Result(n_docs=len(corpus.gold))
    doc_ids = set(corpus.gold["doc_id"])
    deadline = time.perf_counter() + seconds
    while True:
        docs = spark.read.parquet(corpus.documents)
        gaz = spark.read.parquet(corpus.gazetteer)
        res.attempted += 1
        t, cpu = time.perf_counter(), process_tree_cpu_s()
        try:
            with tracer.span("run") if tracer else nullcontext() as run_span:
                out = run_pipeline(spark, docs, gaz, cfg)
                matches = out["matches"].select("doc_id", "uprn").toPandas()
        except Exception as e:  # a failed run is counted, not fatal
            res.failed += 1
            res.problems.append(f"run failed: {type(e).__name__}: {e}")
            break
        res.walls.append(time.perf_counter() - t)
        res.cpus.append(process_tree_cpu_s() - cpu)
        historic = {r["uprn"] for r in
                    out["historic_gazetteer"].select("uprn").collect()}
        problems, res.f1 = check_matches(
            matches, doc_ids, corpus.gaz_uprns | historic, corpus.gold)
        if problems:
            res.failed += 1
            res.problems += problems
        if tracer:
            _batch_layers(spark, tracer, run_span, corpus, res, out, docs,
                          gaz, cfg, matches, work)
            break
        spark.catalog.clearCache()
        if time.perf_counter() >= deadline:
            break
    return res


def _batch_layers(spark, tracer, run_span, corpus, res, out, docs, gaz,
                  cfg, matches, work):
    cores = spark.sparkContext.defaultParallelism
    res.layer.update(_run_layer_metrics(run_span, cores))
    res.layer["run.pinned_rdds"] = pinned_rdds(spark)
    # the phased runner below saves the audit table, so audit_lev runs
    res.layer.update(layers.sweep(tracer, out, docs, gaz, cfg, res.n_docs,
                                  audit=True))
    wh_m, wh_matches = layers.warehouse_pass(
        spark, tracer, docs, gaz, cfg, os.path.join(work, "wh"),
        run_span.stats["task_s"])
    res.layer.update(wh_m)
    # runner parity: the phased runner must link every document to the
    # same uprn as run_pipeline, at the same quality
    if match_digest(wh_matches) != match_digest(matches):
        res.problems.append("phased and in-memory runners differ in "
                            "(doc_id, uprn)")
    wh_f1 = pairwise_f1(wh_matches, corpus.gold)
    if not wh_f1 >= F1_GATE:
        res.problems.append(f"phased f1 {wh_f1:.4f} below {F1_GATE}")


def stream_microbatch(spark, corpus: Corpus, seconds: float, tracer=None,
                      work: str = "") -> Result:
    """Drain the backlog through start_incremental_linkage, one file per
    micro-batch (closed loop: a batch starts when the previous ends).
    A drained backlog has no more input, so each invocation drains it
    once; ``seconds`` does not add drains."""
    res = Result(n_docs=len(corpus.gold))
    res.attempted = len(corpus.doc_files)
    gaz = spark.read.parquet(corpus.gazetteer)
    backlog_dir = os.path.dirname(corpus.doc_files[0])
    stream = read_document_stream(spark, backlog_dir,
                                  max_files_per_trigger=1)
    out_dir = os.path.join(work, "stream_out")
    before = pinned_rdds(spark)
    t, t_epoch = time.perf_counter(), time.time()
    cpu = process_tree_cpu_s()
    q = start_incremental_linkage(stream, gaz, out_dir,
                                  os.path.join(work, "stream_ckpt"))
    try:
        q.awaitTermination()
    except Exception as e:  # the query's failure is counted below
        res.problems.append(f"stream failed: {type(e).__name__}: {e}")
    wall = time.perf_counter() - t
    res.cpus.append(process_tree_cpu_s() - cpu)
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    res.failed = res.attempted - len(prog)
    res.walls.append(wall)
    if os.path.isdir(out_dir):
        matches = spark.read.parquet(out_dir).select(
            "doc_id", "uprn").toPandas()
    else:
        matches = pd.DataFrame({"doc_id": [], "uprn": []})
    # F1 is reported, not gated: the streaming schema drops raw_uprn,
    # coordinates and group_key, which batch linkage relies on
    problems, res.f1 = check_matches(matches, set(corpus.gold["doc_id"]),
                                     corpus.gaz_uprns, corpus.gold,
                                     f1_gate=None)
    if problems:
        res.failed = max(res.failed, 1)
        res.problems += problems
    if tracer:
        cores = spark.sparkContext.defaultParallelism
        run_span = tracer.add("run", t, t + wall)
        run_span.stats = job_stats(spark, str(q.runId)).as_dict()
        res.layer.update(_run_layer_metrics(run_span, cores))
        res.layer["run.pinned_rdds"] = pinned_rdds(spark)
        res.layer["stream.batch_latency_s"] = statistics.median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in prog)
        res.layer["stream.add_batch_s"] = statistics.median(
            p["durationMs"]["addBatch"] / 1e3 for p in prog)
        res.layer["stream.jobs_per_batch"] = \
            run_span.stats["jobs"] / max(len(prog), 1)
        res.layer["stream.pinned_rdds_growth"] = pinned_rdds(spark) - before
        for p in prog:
            # progress timestamps are wall-clock; place them on the
            # tracer's clock
            start = t + _epoch(p["timestamp"]) - t_epoch
            tracer.add(f"stream.batch:{p['batchId']}", start,
                       start + p["durationMs"]["triggerExecution"] / 1e3,
                       "run", durationMs=p["durationMs"])
        # The sweep cannot reach the frames foreachBatch builds, so it
        # replays the micro-batch's own call (run_pipeline with the
        # stream's config on a gazetteer prepared once) over the backlog
        # and times each layer on its outputs.
        backlog = spark.read.parquet(backlog_dir)
        with tracer.span("stream.replay"):
            gazp = prepare_gazetteer(gaz).localCheckpoint(eager=True)
            out = run_pipeline(spark, backlog, gaz, STREAM_CFG,
                               gazp_prepared=gazp)
            out["matches"].write.format("noop").mode("overwrite").save()
        res.layer.update(layers.sweep(tracer, out, backlog, gaz,
                                      STREAM_CFG, res.n_docs, audit=False))
    return res


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {"batch_link": batch_link,
             "stream_microbatch": stream_microbatch}

