"""Per-layer measurements for the traced run.

Each layer the workload runs is timed by calling the package's public
function for it on inputs a ``run_pipeline`` call already materialized
(``gazetteer_prepared``, ``docs_normalized``, ``unique_addresses``,
``candidates``, ``audit_candidates``, ``doc_matches``), and sending the
result to a noop sink under its own job group. The scoring sub-stages
are timed in their pipeline order, each on the previous sub-stage's
checkpointed output, because ``run_pipeline`` keeps their intermediate
frames lazy.

The warehouse layer is timed by running ``plans.phases.run_phased`` into
an empty parquet-fallback :class:`RecordingWarehouse`, whose ``save``,
``load`` and ``commit_phase`` record spans.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.functions.symspell import \
    build_dictionary_from_gazetteer
from ehdc_llpg_address_matching_spark.operators import candidates as C
from ehdc_llpg_address_matching_spark.operators import decision as D
from ehdc_llpg_address_matching_spark.operators import scoring as S
from ehdc_llpg_address_matching_spark.operators.blocking import \
    with_blocking_keys
from ehdc_llpg_address_matching_spark.operators.cluster import (
    build_edges, cluster_consensus, connected_components)
from ehdc_llpg_address_matching_spark.operators.rescue import \
    group_fuzzy_rescue
from ehdc_llpg_address_matching_spark.pipeline import normalize_documents
from ehdc_llpg_address_matching_spark.plans.phases import run_phased
from ehdc_llpg_address_matching_spark.session import spread_for_udf
from ehdc_llpg_address_matching_spark.sources.catalog import Warehouse

# the p3 candidate generators and the phased runner's phases, by the
# names the per-layer metrics use
GENERATORS = ("exact", "blocked", "rule_rewrite", "component", "spatial",
              "vector", "hierarchical")
PHASES = ("p1_gazetteer", "p2_normalize", "p3_candidates", "p4_scoring",
          "p5_matches", "p6_cluster")


def generators(cfg, uaddr, gazp):
    """The p3 generators ``cfg`` switches on, by short name, called as
    run_pipeline calls them."""
    make = {
        "exact": lambda: C.cand_exact_canonical(uaddr, gazp),
        "blocked": lambda: C.cand_blocked(
            uaddr, gazp, hot_threshold=cfg.hot_key_threshold,
            n_salt=cfg.n_salt),
        "rule_rewrite": lambda: C.cand_rule_rewrite(uaddr, gazp),
        "component": lambda: C.cand_component_joins(uaddr, gazp),
        "spatial": lambda: C.cand_spatial(
            uaddr, gazp, radius_m=cfg.spatial_radius_m),
        "vector": lambda: C.cand_vector(
            uaddr, gazp, embed_dim=0, top_k=cfg.vector_top_k,
            min_sim=cfg.vector_min_sim),
        "hierarchical": lambda: C.cand_hierarchical(uaddr, gazp),
    }
    off = {"spatial": not cfg.enable_spatial, "vector": not cfg.enable_vector}
    return {g: make[g] for g in GENERATORS if not off.get(g)}


def generator_of(method: str) -> str:
    """Map a candidate ``method`` tag to the generator that emits it."""
    if method == "exact_canonical":
        return "exact"
    if method == "blocked_fuzzy":
        return "blocked"
    if method.startswith("rule_"):
        return "rule_rewrite"
    if method.startswith("hier_"):
        return "hierarchical"
    if method in ("spatial", "vector"):
        return method
    return "component"   # comp_*, business_name, postcode_block


def unique_wins(decided) -> dict[str, int]:
    """Accepted winners that exactly one generator found."""
    wins = dict.fromkeys(GENERATORS, 0)
    for row in D.accepted(decided).select("methods").collect():
        gens = {generator_of(m) for m in row["methods"]}
        if len(gens) == 1:
            wins[gens.pop()] += 1
    return wins


def ckpt(df):
    return df.localCheckpoint(eager=True)


def _noop(df, rows: bool = False) -> int | None:
    """Materialize ``df`` into the noop sink; with ``rows`` also count
    its rows in the same job, through an observation."""
    obs = None
    if rows:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return obs.get["n"] if obs else None


def sweep(tracer, out: dict, docs, gaz, cfg, n_docs: int,
          audit: bool) -> dict:
    """Time once, on ``out`` (a run_pipeline result), every layer that a
    run with ``cfg`` makes: SymSpell and the spatial and vector
    generators only where ``cfg`` switches them on, the audit
    Levenshtein only with ``audit`` (a runner that saves the audit
    table). Returns their ``p1.*`` … ``p6.*`` metrics."""
    m: dict[str, float] = {}
    gazp = out["gazetteer_prepared"]
    docs_n = out["docs_normalized"]
    uaddr = out["unique_addresses"]
    cands = out["candidates"]

    def timed(name, fn, rows=False, skew=False, sink=True):
        """Span ``name`` around ``fn()``; with ``sink`` the returned
        frame goes to the noop sink (and the row count is returned)."""
        with tracer.span(name, skew=skew) as sp:
            r = fn()
            if sink and r is not None:
                r = _noop(r, rows)
        m[f"{name}.wall_s"] = sp.wall_s
        return sp, r

    sp, _ = timed("p1", lambda: C.prepare_gazetteer(gaz))
    m["p1.task_s"], m["p1.jobs"] = sp.stats["task_s"], sp.stats["jobs"]

    sym = None
    if cfg.enable_symspell:
        with tracer.span("p2.symspell") as sp:
            sym = build_dictionary_from_gazetteer(gazp, addr_col="addr_core")
        m["p2.symspell.wall_s"] = sp.wall_s

    sp, _ = timed("p2.normalize", lambda: normalize_documents(docs, sym))
    m["p2.normalize.task_s"] = sp.stats["task_s"]
    m["p2.normalize.cpu_s"] = sp.stats["cpu_s"]

    _, n_unique = timed(
        "p2.unique",
        lambda: with_blocking_keys(C.prepare_unique_addresses(docs_n)),
        rows=True)
    m["p2.unique.dedup_ratio"] = n_unique / n_docs

    # each generator's output is checkpointed, so the union span times
    # union_candidates itself rather than the generators again
    gen_out = {}
    for g, make in generators(cfg, uaddr, gazp).items():
        sp, gen_out[g] = timed(f"p3.{g}", lambda: ckpt(make()), sink=False)
        m[f"p3.{g}.task_s"] = sp.stats["task_s"]
        m[f"p3.{g}.rows_out"] = gen_out[g].count()
    wins = unique_wins(out["audit_candidates"])
    for g in gen_out:
        m[f"p3.{g}.unique_wins"] = wins[g]

    sp, n_cands = timed(
        "p3.union", lambda: C.union_candidates(*gen_out.values()),
        rows=True, skew=True)
    m["p3.union.task_s"] = sp.stats["task_s"]
    m["p3.union.rows_out"] = n_cands
    m["p3.union.shuffle_write_bytes"] = sp.stats["shuffle_write_bytes"]
    m["p3.union.skew"] = sp.stats["skew"]

    # scoring sub-stages in pipeline order, each materialized for the next
    _, pre = timed("p4.prefilter", lambda: ckpt(S.prefilter_pairs(
        S.with_column_features(
            S.attach_pair_attrs(spread_for_udf(cands), uaddr, gazp)))),
        sink=False)
    m["p4.prefilter.keep_ratio"] = pre.count() / max(cands.count(), 1)
    sp, feat = timed("p4.features", lambda: ckpt(S.with_score(
        S.with_pair_features(pre), scorer=cfg.scorer)), sink=False)
    m["p4.features.task_s"] = sp.stats["task_s"]
    m["p4.features.cpu_s"] = sp.stats["cpu_s"]
    _, best = timed("p4.keep_best", lambda: ckpt(
        D.keep_best_per_uprn(D.narrow_for_decision(feat))), sink=False)
    sp, dec = timed("p4.decide", lambda: ckpt(
        D.decide(best, cfg.thresholds, top_k=cfg.top_k_audit)), sink=False)
    m["p4.decide.shuffle_write_bytes"] = sp.stats["shuffle_write_bytes"]
    if audit:
        timed("p4.audit_lev", lambda: S.with_audit_levenshtein(dec))

    def fanout():
        _noop(C.legacy_uprn_matches(docs_n, gazp))
        _noop(C.historic_uprn_matches(docs_n, gazp))
    timed("p5.fanout", fanout)

    dm = out["doc_matches"]
    sp, comps = timed("p6.cc", lambda: ckpt(
        connected_components(build_edges(dm, docs_n))), sink=False)
    m["p6.cc.jobs"] = sp.stats["jobs"]
    timed("p6.consensus", lambda: cluster_consensus(comps, dm, docs_n))
    timed("p6.rescue", lambda: group_fuzzy_rescue(docs_n, dm, gazp))
    for df in (*gen_out.values(), pre, feat, best, dec, comps):
        df.unpersist()
    return m


class RecordingWarehouse(Warehouse):
    """A parquet-fallback Warehouse that records a span per save, load
    and phase commit. A phase's span runs from the previous commit (or
    the warehouse's creation) to its own commit."""

    def __init__(self, spark, root, tracer, parent: str):
        super().__init__(spark, root)
        self.tracer = tracer
        self.parent = parent
        self._mark = time.perf_counter()

    def save(self, df, name, mode="overwrite", partition_by=None):
        t = time.perf_counter()
        super().save(df, name, mode, partition_by)
        self.tracer.add(f"wh.save:{name}", t, time.perf_counter(),
                        self.parent)

    def load(self, name):
        t = time.perf_counter()
        df = super().load(name)
        self.tracer.add(f"wh.load:{name}", t, time.perf_counter(),
                        self.parent)
        return df

    def commit_phase(self, phase, tables):
        super().commit_phase(phase, tables)
        now = time.perf_counter()
        self.tracer.add(f"wh.{phase}", self._mark, now, self.parent,
                        tables=list(tables))
        self._mark = now


def bytes_under(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def warehouse_pass(spark, tracer, docs, gaz, cfg, root: str,
                   run_task_s: float):
    """Run the phased runner once into an empty warehouse. Returns
    (``wh.*`` metrics, its matches as pandas)."""
    with tracer.span("wh.run") as sp:
        wh = RecordingWarehouse(spark, root, tracer, "wh.run")
        out = run_phased(spark, docs, gaz, wh, run_id=tracer.run_id,
                         cfg=cfg)
        matches = out["matches"].select("doc_id", "uprn").toPandas()
    spans = [s for s in tracer.spans if s.parent == "wh.run"]
    m = {f"wh.{p}.wall_s": tracer.get(f"wh.{p}").wall_s for p in PHASES}
    m["wh.save_s"] = sum(s.wall_s for s in spans
                         if s.name.startswith("wh.save:"))
    m["wh.load_s"] = sum(s.wall_s for s in spans
                         if s.name.startswith("wh.load:"))
    m["wh.bytes_written"] = bytes_under(root)
    m["wh.task_s_vs_batch"] = sp.stats["task_s"] / max(run_task_s, 1e-9)
    return m, matches
