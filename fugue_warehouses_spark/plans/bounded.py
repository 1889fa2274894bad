"""Bounded driver fast paths — one shared contract for a pattern
that had grown in three places with three bound styles:

    a distributed operator may finish a SMALL instance on the driver
    (one Arrow/collect transfer + numpy) when, and only when,
    (1) every relevant cost is ESTIMATED BEFORE the transfer,
    (2) each estimate sits under an explicit budget, and
    (3) the distributed plan remains the fallback above the budget —
        property-tested to produce identical results
        (tests: test_graph.py local/distributed agreement,
        test_similarity.py local-CC vs distributed dedup_near,
        plus the 320k probes that exceed every budget).

Why it exists: at fixture scale the driver path removes whole seconds of
per-job scheduling floor (PageRank 8.3→2.55 s, within-batch CC
5.3→1.7 s), while the explicit budget is what keeps the same
code 100 TB-safe — past the bound the operator plans exactly as if the
fast path didn't exist. The registered sites and their budgets:

| site | costs gated | budget default | fallback |
|---|---|---|---|
| pagerank_local | edges; est. driver bytes | 8M edges; 256 MB | broadcast-rank join loop (graph.py) |
| within_batch_cc | survivor-matrix FLOPs (n²·dim) | 1e11 FLOPs | similarity_pairs + dedup_near (similarity.py) |
| bpe_train_local | merge work (n_merges·vocab symbols); est. driver bytes | 5e6 ops; 256 MB | per-step pair-count shuffle chain (bpe.py) |

Static CONTRACT bounds (a collect whose size is fixed by the
operator's definition, not gated at runtime) are deliberately NOT
routed through here: the Bloom bitset (≤ m_bits/64 rows), centroid
tables (n_centroids rows), and top-k query sets are bounded by
construction and documented at their collect sites.

``decisions`` keeps the last verdict per site so probes/tests can
assert WHICH path ran without monkeypatching internals.
"""

from __future__ import annotations

decisions: dict[str, dict] = {}


def driver_fast_path_ok(site: str, **costs: tuple[float, float]) -> bool:
    """True iff EVERY ``name=(estimate, budget)`` kwarg satisfies
    ``estimate <= budget``. Records the decision (estimates, budgets,
    verdict) in :data:`decisions` under ``site``.

    Callers must pass estimates computed BEFORE any driver transfer
    and must keep a distributed fallback for the False branch — see
    the module docstring for the contract and the registered sites.
    """
    if not costs:
        raise ValueError("at least one (estimate, budget) pair required")
    ok = all(est <= cap for est, cap in costs.values())
    decisions[site] = {
        "costs": {k: {"estimate": v[0], "budget": v[1]} for k, v in costs.items()},
        "taken": ok,
    }
    return ok
