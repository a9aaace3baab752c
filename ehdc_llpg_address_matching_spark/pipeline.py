"""End-to-end linkage pipeline (SURVEY.md §3.2's lifecycle, Spark-shaped):

documents -> span extraction -> canonicalize -> components -> SymSpell
-> phonetic -> dedup to unique addresses (J11) -> candidate union
(exact ∪ blocked ∪ spatial ∪ rules ∪ vector) -> pair features (Arrow)
-> weighted score -> conservative validation -> tiered decision ->
fan-out to documents ∪ legacy-UPRN direct matches -> connected
components -> cluster consensus -> matches / audit / metrics.

The DAG is written once, as the six phase functions in ``PHASES``.
Each takes the frames built so far plus the config and passes every
frame it may materialize through ``keep(name, df)``; the materializer
decides what that means. ``InMemory`` (``run_pipeline``) caches or
localCheckpoints; ``plans.phases.WarehouseMaterializer``
(``run_phased``) saves phase tables with lineage, reads them back and
commits the phase, so a crashed run resumes (the reference's layer
snapshots, cmd/matcher-v2/main.go:3389-3421). Both runners honor every
cfg switch by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.normalize import with_normalized
from .functions.symspell import SymSpell, build_dictionary_from_gazetteer
from .operators import candidates as C
from .operators import decision as D
from .operators import scoring as S
from .operators.blocking import with_blocking_keys
from .operators.cluster import (build_edges, canonical_uprn_per_cluster,
                                cluster_consensus, connected_components)
from .sources.documents import span_fingerprint, with_raw_address


@dataclass
class PipelineConfig:
    thresholds: D.Thresholds = field(default_factory=D.Thresholds)
    # 'fuzzy': production D1 weights (fuzzy.go). 'spec': D2 spec-engine
    # weights (scorer.go:52-139, embedding cosine as a 0.45 core term)
    # — pair with Thresholds.spec_tiers() for the reference's
    # recommended tiers. Both share the D3/D4 validator tail.
    scorer: str = "fuzzy"
    # derive the accept threshold from deterministic pseudo-gold before
    # deciding (reference threshold tuner,
    # internal/engine/threshold_tuner.go:37-271)
    auto_tune: bool = False
    spatial_radius_m: float = 100.0
    vector_top_k: int = 10
    vector_min_sim: float = 0.70
    # 'broadcast': collect-and-broadcast GEMM (right for reference-size
    # 72K-row gazetteers). 'ivf': coarse-quantizer path for gazetteers
    # whose embedding matrix can't be broadcast (10^8 rows) — same
    # contract, one shuffle on the cell id (candidates.cand_vector_ivf)
    vector_mode: str = "broadcast"
    ivf_cells: int = 64
    ivf_probe: int = 8
    enable_vector: bool = True
    enable_spatial: bool = True
    enable_symspell: bool = True
    # G3 LLM golden-record corrections: OFF by default — the reference
    # hard-disables the phase in production ("LLM corrections degrade
    # data quality", cmd/matcher-v2/main.go:1651-1656). Enabling also
    # requires injecting llm_fn (operators/golden.py); no model client
    # is bundled.
    enable_llm_golden: bool = False
    llm_fn: object = None
    hot_key_threshold: int = 2000
    n_salt: int = 8
    top_k_audit: int = 10


def normalize_documents(docs: DataFrame, symspell: SymSpell | None) -> DataFrame:
    """Phase 1: derive raw_address from spans, canonicalize, parse,
    correct spellings, phonetic-encode. Adds span_fp for the
    span-sequence invariant check."""
    from .session import spread_for_udf
    d = spread_for_udf(docs)
    for col in ("raw_uprn", "easting", "northing", "group_key"):
        if col not in d.columns:
            d = d.withColumn(col, F.lit(None).cast(
                "double" if col in ("easting", "northing") else "string"))
    d = with_raw_address(d)
    d = d.withColumn("span_fp", span_fingerprint())
    # fused single-ArrowEvalPython normalization (canonicalize + parse
    # + UPRN clean + SymSpell correction + phonetic) — column-for-column
    # identical to the old three-Python-node chain, guide §4.1/§4.2
    return with_normalized(d, raw_col="raw_address", uprn_col="raw_uprn",
                           symspell=symspell)


def generators(cfg: PipelineConfig, uaddr: DataFrame,
               gazp: DataFrame) -> list[DataFrame]:
    """The p3 candidate generators ``cfg`` switches on; the J5
    hierarchical cascade last."""
    gens = [
        C.cand_exact_canonical(uaddr, gazp),
        C.cand_blocked(uaddr, gazp, hot_threshold=cfg.hot_key_threshold,
                       n_salt=cfg.n_salt),
        C.cand_rule_rewrite(uaddr, gazp),
        C.cand_component_joins(uaddr, gazp),
    ]
    if cfg.enable_spatial:
        gens.append(C.cand_spatial(uaddr, gazp, radius_m=cfg.spatial_radius_m))
    if cfg.enable_vector and "embedding" in gazp.columns:
        if cfg.vector_mode == "ivf":
            gens.append(C.cand_vector_ivf(uaddr, gazp,
                                          top_k=cfg.vector_top_k,
                                          min_sim=cfg.vector_min_sim,
                                          n_cells=cfg.ivf_cells,
                                          n_probe=cfg.ivf_probe))
        else:
            gens.append(C.cand_vector(uaddr, gazp, embed_dim=0,
                                      top_k=cfg.vector_top_k,
                                      min_sim=cfg.vector_min_sim))
    gens.append(C.cand_hierarchical(uaddr, gazp))
    return gens


# --------------------------------------------------------------- phases
def p1_gazetteer(f, cfg, keep):
    """Gazetteer prep: original ∪ range-expanded, parsed, keyed."""
    return {"gazetteer_prepared":
            keep("gazetteer_prepared", C.prepare_gazetteer(f["gaz"]))}


def p2_normalize(f, cfg, keep):
    """Document normalization (+ SymSpell vs the gazetteer vocabulary),
    then dedup to unique addresses (J11) with blocking keys."""
    gazp = f["gazetteer_prepared"]
    sym = build_dictionary_from_gazetteer(gazp, addr_col="addr_core") \
        if cfg.enable_symspell else None
    docs_n = keep("docs_normalized", normalize_documents(f["docs"], sym))
    uaddr = keep("unique_addresses",
                 with_blocking_keys(C.prepare_unique_addresses(docs_n)))
    return {"docs_normalized": docs_n, "unique_addresses": uaddr}


def p3_candidates(f, cfg, keep):
    gens = generators(cfg, f["unique_addresses"], f["gazetteer_prepared"])
    return {"candidates": keep("candidates", C.union_candidates(*gens))}


def _tune(f, best, thresholds):
    """A5/§5.4 tuner in the loop (reference threshold_tuner.go:
    246-271): sweep the accept threshold over the scored top-1
    candidates against legacy-UPRN pseudo-gold; adopt the best-F1
    threshold meeting the precision floor. Returns (thresholds, sweep)."""
    from .operators.audit import tune_thresholds
    docs_n, gazp = f["docs_normalized"], f["gazetteer_prepared"]
    gold = (C.legacy_uprn_matches(docs_n, gazp)
            .join(docs_n.select("doc_id", "addr_can", "postcode"),
                  "doc_id")
            .select(F.sha2(F.concat_ws("|", "addr_can", "postcode"),
                           256).alias("addr_id"), "uprn")
            .distinct())
    tuned = tune_thresholds(D.decide(best, thresholds, top_k=1), gold)
    tau = tuned["best"]["threshold"]
    # clamp the WHOLE ladder (high >= medium >= review >= minimum):
    # decide() rejects score < minimum first, so a tau below the floor
    # would otherwise be silently floored and misreported
    medium = min(tau, thresholds.medium)
    used = D.Thresholds(high=tau, medium=medium,
                        review=min(thresholds.review, medium),
                        minimum=min(thresholds.minimum, tau),
                        winner_margin=thresholds.winner_margin)
    sweep = best.sparkSession.createDataFrame(
        [(float(o["threshold"]), int(o["tp"]), int(o["fp"]),
          int(o["fn"]), float(o["precision"]), float(o["recall"]),
          float(o["f1"])) for o in tuned["sweep"]],
        "threshold double, tp long, fp long, fn long, "
        "precision double, recall double, f1 double")
    return used, sweep


def p4_scoring(f, cfg, keep):
    """Pair scoring (column features -> JVM prefilter -> Arrow
    string-sim UDF -> weighted score), keep-best, tiered decision.
    spread_for_udf re-spreads the AQE-coalesced candidate set over the
    session's cores for the Arrow stage (a no-op at real scale). The
    decision runs on NARROW columns; d_core/g_core ride DECISION_COLS so
    the audit Levenshtein needs no second attach join."""
    from .session import spread_for_udf
    uaddr, gazp = f["unique_addresses"], f["gazetteer_prepared"]
    pairs = S.attach_pair_attrs(spread_for_udf(f["candidates"]), uaddr, gazp)
    pairs = S.with_column_features(pairs)
    pairs = S.prefilter_pairs(pairs)
    pairs = S.with_pair_features(pairs)
    pairs = S.with_score(pairs, scorer=cfg.scorer)
    # scored keep-best pairs (pre-decide): the decision's exact input,
    # kept so audits / a resumed run / the linkage_fuzzy oracle can
    # replay decide() without re-running the Arrow scoring UDF
    best = keep("scored_pairs", D.keep_best_per_uprn(D.narrow_for_decision(pairs)))
    out = {"scored_pairs": best}
    thresholds = cfg.thresholds
    if cfg.auto_tune:
        thresholds, out["tuning"] = _tune(f, best, thresholds)
        out["thresholds_used"] = thresholds
    decisions = keep("decisions",
                     D.decide(best, thresholds, top_k=cfg.top_k_audit))
    # the audit-only Levenshtein (F3) stays off the matches path: it
    # runs only when the audit table is materialized
    out["decisions"] = decisions
    out["audit_candidates"] = keep("audit_candidates",
                                   S.with_audit_levenshtein(decisions))
    return out


def p5_matches(f, cfg, keep):
    """Fan-out of accepted address winners to documents, with the
    legacy/historic UPRN-validated matches taking precedence."""
    docs_n, uaddr, gazp = (f["docs_normalized"], f["unique_addresses"],
                           f["gazetteer_prepared"])
    addr_match = D.accepted(f["decisions"]).select(
        "addr_id", "uprn", "score", "confidence",
        F.array_join("methods", "+").alias("method"))
    doc_addr = docs_n.join(
        uaddr.select("addr_can", "postcode", "addr_id"),
        ["addr_can", "postcode"], "left")
    fuzzy_doc = (doc_addr
                 .join(addr_match, "addr_id", "inner")
                 .select("doc_id", "uprn", "method", "score", "confidence"))
    legacy = C.legacy_uprn_matches(docs_n, gazp) \
        .withColumn("confidence", F.lit(1.0))
    # historic-UPRN creation: valid legacy UPRNs ABSENT from the LLPG
    # spawn historic gazetteer records and auto-accept (the reference's
    # largest correction bucket — cmd/bulk-historic-uprns); disjoint
    # from `legacy` by construction
    missing = keep("missing_legacy_uprns",
                   C.missing_legacy_uprns(docs_n, gazp))
    historic = C.historic_uprn_matches(docs_n, gazp, missing=missing) \
        .withColumn("confidence", F.lit(1.0))
    # legacy/historic beat fuzzy (ADDRESS_MATCHING_PROCESS.md:66-72) by
    # an explicit priority, not confidence: a perfect fuzzy match also
    # reaches 1.0 and could win the uprn tie-break
    both = (legacy.withColumn("_prio", F.lit(0))
            .unionByName(historic.withColumn("_prio", F.lit(0)))
            .unionByName(fuzzy_doc.withColumn("_prio", F.lit(1))))
    wd = Window.partitionBy("doc_id").orderBy(
        F.asc("_prio"), F.desc("confidence"), F.desc("score"),
        F.asc("uprn"))
    doc_matches = (both.withColumn("_rn", F.row_number().over(wd))
                   .filter(F.col("_rn") == 1).drop("_rn", "_prio"))
    return {"doc_matches": keep("doc_matches", doc_matches),
            # appendable historic gazetteer rows (migrations/029
            # analog, per cmd/bulk-historic-uprns)
            "historic_gazetteer": keep(
                "historic_gazetteer",
                C.historic_uprn_records(docs_n, gazp, missing=missing))}


def p6_cluster(f, cfg, keep):
    """Connected components, consensus corrections, G2 rescue (and G3
    when enabled), one row per doc, canonical UPRN per cluster, and the
    decision histogram (A1)."""
    from .operators.rescue import group_fuzzy_rescue
    docs_n, doc_matches, gazp = (f["docs_normalized"], f["doc_matches"],
                                 f["gazetteer_prepared"])
    comps = connected_components(build_edges(doc_matches, docs_n))
    consensus = cluster_consensus(comps, doc_matches, docs_n)
    rescue = group_fuzzy_rescue(docs_n, doc_matches, gazp)
    matches = doc_matches.unionByName(
        consensus.withColumn("score", F.col("confidence")),
        allowMissingColumns=True).unionByName(
        rescue.withColumn("score", F.col("confidence")),
        allowMissingColumns=True)
    if cfg.enable_llm_golden:
        # G3 (reference applyGroupLLMMatching, main.go:1992-2213, which
        # ships hard-disabled). Docs consensus/rescue corrected are
        # excluded (the reference's address_match_corrected anti-join)
        from .operators.golden import llm_golden_record_corrections
        llm_corr = (llm_golden_record_corrections(
                        doc_matches, docs_n, gazp, llm_fn=cfg.llm_fn)
                    .join(consensus.select("doc_id"), "doc_id",
                          "left_anti")
                    .join(rescue.select("doc_id"), "doc_id", "left_anti"))
        matches = matches.unionByName(
            llm_corr.withColumn("score", F.col("confidence")),
            allowMissingColumns=True)
    # one row per doc: min_by with negated confidence/score breaks ties
    # toward the MIN uprn, like the doc_matches window; the coalesce
    # keeps a NULL-scored union row (struct NULLs sort smallest) from
    # winning
    matches = (matches
               .groupBy("doc_id")
               .agg(F.min_by(
                   F.struct("uprn", "method", "score", "confidence"),
                   F.struct((-F.coalesce("confidence",
                                         F.lit(0.0))).alias("_c"),
                            (-F.coalesce("score", F.lit(0.0))).alias("_s"),
                            F.col("uprn").alias("_u"))).alias("_m"))
               .select("doc_id", "_m.*"))
    metrics = (f["decisions"].groupBy("decision")
               .agg(F.count("*").alias("n"),
                    F.avg("score").alias("avg_score")))
    return {"components": comps, "consensus": consensus,
            "matches": keep("matches", matches),
            "clusters": keep("clusters",
                             canonical_uprn_per_cluster(comps, doc_matches)),
            "metrics": keep("metrics", metrics)}


# (phase name, phase function, the tables the phase persists)
PHASES = (
    ("p1_gazetteer", p1_gazetteer, ("gazetteer_prepared",)),
    ("p2_normalize", p2_normalize, ("docs_normalized", "unique_addresses")),
    ("p3_candidates", p3_candidates, ("candidates",)),
    ("p4_scoring", p4_scoring, ("scored_pairs", "audit_candidates")),
    ("p5_matches", p5_matches, ("doc_matches", "historic_gazetteer")),
    ("p6_cluster", p6_cluster, ("matches", "clusters", "metrics")),
)


class InMemory:
    """Cache the frames later phases re-scan; eagerly localCheckpoint
    the frames several consumers read: candidates (it also truncates
    the seven-join-tree plan every later action would re-analyze),
    decisions, missing legacy UPRNs, doc_matches, and scored_pairs
    under auto_tune (shared by the probe and the real decision)."""

    CACHE = frozenset({"gazetteer_prepared", "docs_normalized",
                       "unique_addresses"})

    def __init__(self, cfg: PipelineConfig):
        self.checkpoint = {"candidates", "decisions",
                           "missing_legacy_uprns", "doc_matches"}
        if cfg.auto_tune:
            self.checkpoint.add("scored_pairs")

    def run_phase(self, phase: str, tables: tuple, compute) -> dict:
        return compute()

    def keep(self, phase: str, name: str, df: DataFrame) -> DataFrame:
        if name in self.CACHE:
            return df.cache()
        if name in self.checkpoint:
            return df.localCheckpoint(eager=True)
        return df


def run_graph(frames: dict, cfg: PipelineConfig, mat: InMemory) -> dict:
    """Run PHASES with materializer ``mat`` over ``frames`` (``docs``,
    ``gaz``, any phase tables already held); returns every frame."""
    f = dict(frames)
    for phase, fn, tables in PHASES:
        if not all(t in f for t in tables):
            f.update(mat.run_phase(phase, tables, partial(
                fn, f, cfg, partial(mat.keep, phase))))
    # final matched docs with spans preserved (invariant)
    f["result"] = (f["docs_normalized"]
                   .select("doc_id", "spans", "span_fp", "raw_address",
                           "addr_can", "postcode", "group_key")
                   .join(f["matches"], "doc_id", "left"))
    return {k: v for k, v in f.items() if k not in ("docs", "gaz")}


def run_pipeline(spark: SparkSession, docs: DataFrame, gaz: DataFrame,
                 cfg: PipelineConfig | None = None,
                 gazp_prepared: DataFrame | None = None) -> dict[str, DataFrame]:
    """gazp_prepared: an already-prepared (prepare_gazetteer) frame —
    callers that run the pipeline repeatedly over the same gazetteer
    (streaming foreachBatch, threshold sweeps) prepare + persist it
    ONCE and pass it here instead of paying normalization + range
    expansion per run."""
    cfg = cfg or PipelineConfig()
    frames = {"docs": docs, "gaz": gaz}
    if gazp_prepared is not None:
        frames["gazetteer_prepared"] = gazp_prepared
    return run_graph(frames, cfg, InMemory(cfg))
