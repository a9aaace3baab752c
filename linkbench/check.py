"""Correctness checks on the program's outputs (pandas, driver side)."""

from __future__ import annotations

import hashlib

import pandas as pd

F1_GATE = 0.99


def pairwise_f1(matches: pd.DataFrame, gold: pd.DataFrame) -> float:
    """Pairwise F1 of predicted (doc_id, uprn) against the gold labels of
    the same documents. A prediction for a doc whose gold uprn is null
    or different is a false positive; a labelled doc without a
    prediction is a false negative."""
    j = gold[["doc_id", "uprn"]].merge(
        matches[["doc_id", "uprn"]].rename(columns={"uprn": "pred"}),
        on="doc_id", how="left")
    pred, true = j["pred"].notna(), j["uprn"].notna()
    tp = int((pred & true & (j["uprn"] == j["pred"])).sum())
    fp = int((pred & ~(true & (j["uprn"] == j["pred"]))).sum())
    fn = int((true & ~pred).sum())
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    return 2 * p * r / max(p + r, 1e-12)


def match_digest(matches: pd.DataFrame) -> str:
    """sha256 over the sorted (doc_id, uprn) pairs: equal digests mean
    two runners linked every document to the same UPRN."""
    rows = sorted(zip(matches["doc_id"], matches["uprn"].astype(str)))
    return hashlib.sha256(
        "\n".join(f"{d}\t{u}" for d, u in rows).encode()).hexdigest()


def check_matches(matches: pd.DataFrame, doc_ids, known_uprns,
                  gold: pd.DataFrame | None = None,
                  f1_gate: float | None = F1_GATE) -> tuple[list[str], float]:
    """Returns (problems, f1). Checks: at most one row per document,
    only input documents, every uprn in the gazetteer (or the run's
    historic gazetteer), and, when ``f1_gate`` is set, F1 >= the gate."""
    problems = []
    dup = int(matches["doc_id"].duplicated().sum())
    if dup:
        problems.append(f"{dup} documents have more than one match row")
    stray = set(matches["doc_id"]) - set(doc_ids)
    if stray:
        problems.append(f"{len(stray)} match rows for documents not in "
                        "the input")
    unknown = set(matches["uprn"].dropna()) - set(known_uprns)
    if unknown:
        problems.append(f"{len(unknown)} matched uprns are in neither the "
                        "gazetteer nor the historic gazetteer")
    if matches["uprn"].isna().any():
        problems.append("match rows with a null uprn")
    f1 = pairwise_f1(matches, gold) if gold is not None else float("nan")
    if f1_gate is not None and not f1 >= f1_gate:
        problems.append(f"f1 {f1:.4f} below the {f1_gate} gate")
    return problems, f1
