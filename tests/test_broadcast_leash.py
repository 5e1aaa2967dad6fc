"""Source-level leash on FORCED broadcasts: the exact set of
``F.broadcast(...)`` call sites in the package must equal the reviewed
inventory below.

A forced broadcast overrides Catalyst's size-based decision, so every
site is a standing claim that the broadcast side is bounded — the claim
the round-3 review found violated four times (O(users) cohorts /
centroids / verdicts, O(vocab) df), all demoted in round 4.  This leash
makes the next unbounded hint a test failure instead of a review find:
adding a ``broadcast()`` anywhere new (or moving one) fails until the
site is reviewed and added here with its bound.

Keyed on (package-relative path, enclosing function) -> CALL-SITE COUNT
(the round-4 review: a set key would let a second, unreviewed
``broadcast()`` hide inside an already-allowlisted function); per-class
bound rationale lives in the PLANS.md round-4 sweep table ("forced
broadcast of table-sized side" row) and in each site's docstring.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "gotrackmaster_spark")

# Bound classes (see PLANS.md):
#   scalar   – 1-row ungrouped aggregate (the allowlisted BNLJ shape)
#   k-row    – caller-bounded k (top-k ids, centroids, offsets, steps)
#   dict     – query/eval-side dictionary (≤ |query terms| / eval set)
#   covering – polygon/cell covering, cap-demoted at _COVERING_BROADCAST_CAP
#   dim      – TPC-H dimension table (region/nation/date ladder)
#   grid     – fixed-size raster/grid (DEM tiles, quadrat lattice)
ALLOWED: dict[tuple[str, str], int] = {
    # --- driver-query modules -------------------------------------
    ("dq_graph.py", "q_graph_summary"): 2,          # scalar ×2
    ("dq_relational.py", "q_assoc_rules"): 3,       # scalar + k-row rule heads
    ("dq_relational.py", "q_bloom_semijoin"): 1,    # bloom bit set (fixed size)
    ("dq_relational.py", "q_funnel_steps"): 3,      # scalar step counts ×3
    ("dq_relational.py", "q_kendall_tau"): 2,       # scalar
    ("dq_relational.py", "q_ks_statistic"): 1,      # scalar
    ("dq_relational.py", "q_pps_sample"): 2,        # scalar total + shard offsets
    ("dq_relational.py", "q_regional_revenue"): 4,  # dim ×4
    ("dq_relational.py", "q_shipping_priority"): 1, # dim
    ("dq_relational.py", "q_small_qty_revenue"): 1, # dim
    ("dq_relational.py", "q_tz_localized"): 1,      # dim (tz polygons)
    ("dq_relational.py", "q_value_mad"): 1,         # scalar median attach
    ("dq_relational.py", "q_zipf_check"): 1,        # scalar
    ("dq_spatial.py", "q_trajectory_jaccard"): 1,   # k-row capped cell lists
    ("dq_text.py", "q_term_pmi"): 1,                # scalar corpus size
    ("dq_text.py", "q_tile_top_terms"): 1,          # dict (per-tile top terms)
    ("dq_text.py", "q_vocab_growth"): 1,            # k-row shard offsets
    # --- operators -------------------------------------------------
    ("functions/sketch.py", "cms_estimate"): 1,     # k-row probe tokens
    ("operators/dedup.py", "decontaminate"): 1,     # dict eval shingles
    ("operators/dedup.py", "delta_jaccard_pairs"): 1,  # new-batch shingles
    ("operators/dedup.py", "embedding_ivf_topk"): 1,   # k centroids
    ("operators/dedup.py", "embedding_lsh_topk"): 1,   # bounded-Q queries
    ("operators/dedup.py", "embedding_near_dups_bruteforce"): 1,  # capped side
    ("operators/dedup.py", "embedding_topk"): 1,    # bounded-Q queries ×2
    ("operators/dedup.py", "jaccard_pairs"): 1,     # k-row stop-shingle ids
    ("operators/dedup.py", "minhash_lsh_dups"): 1,  # k-row stop-band ids
    ("operators/dedup.py", "ppjoin_pairs"): 1,      # dict prefix tokens
    ("operators/search.py", "bm25_scores"): 2,      # scalar + dict query df
    ("operators/search.py", "phrase_search"): 1,    # dict phrase terms
    ("operators/search.py", "stratum_tv_pairs"): 2, # scalar stratum sizes ×2
    ("operators/spatial.py", "_rank_with_exact_fallback"): 2,  # k-row fallback ids
    ("operators/spatial.py", "_with_moments"): 1,   # scalar global moments
    ("operators/spatial.py", "areal_disaggregate"): 2,  # covering ×2
    ("operators/spatial.py", "bilinear_dem_join"): 1,   # grid DEM tiles
    ("operators/spatial.py", "clark_evans"): 1,     # scalar
    ("operators/spatial.py", "cross_ripley_k"): 1,  # scalar class counts
    ("operators/spatial.py", "dem_elevation_fix"): 1,   # grid DEM tiles
    ("operators/spatial.py", "emerging_hotspots"): 1,   # scalar epoch stats
    ("operators/spatial.py", "gravity_residuals"): 3,   # scalar + margins ×3
    ("operators/spatial.py", "hausdorff_cell_pairs"): 1,  # k-row capped cells
    ("operators/spatial.py", "join_counts_median_thr"): 1,  # scalar median ×2
    ("operators/spatial.py", "knn_join"): 1,        # query rings (bounded-Q)
    ("operators/spatial.py", "knox_statistic"): 2,  # scalar ×1 (1-row counts)
    ("operators/spatial.py", "map_match_join"): 1,  # covering (road segments)
    ("operators/spatial.py", "nn_gfunction"): 1,    # scalar
    ("operators/spatial.py", "point_in_polygon_anti"): 1,  # covering
    ("operators/spatial.py", "point_in_polygon_join"): 1,  # covering
    ("operators/spatial.py", "quadrat_test"): 1,    # scalar
    ("operators/spatial.py", "ripley_k"): 1,        # scalar
    ("operators/spatial.py", "within_radius_join"): 1,  # covering
    ("operators/timeseries.py", "interval_join"): 1,    # covering (intervals)
    ("plans/checkpoint.py", "resume_pending"): 1,   # k-row done partitions
    ("sources/gpx.py", "scan_tracks"): 1,           # k-row file-rank offsets
}


def _sites() -> Counter:
    """AST-level scan: actual ``broadcast(...)`` Call nodes only (the
    name appearing in docstrings or comments does not count), counted
    per (file, enclosing function)."""
    found = Counter()
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())
            hits = []
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = (
                    fn.attr if isinstance(fn, ast.Attribute)
                    else fn.id if isinstance(fn, ast.Name)
                    else None
                )
                if name == "broadcast":
                    hits.append(node.lineno)
            if not hits:
                continue
            spans = []
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    spans.append((node.lineno, node.end_lineno, node.name))
            for h in hits:
                encl = "<module>"
                best_start = -1
                for s, e, name in spans:
                    if s <= h <= e and s > best_start:
                        encl, best_start = name, s
                found[(rel, encl)] += 1
    return found


def test_forced_broadcast_sites_match_reviewed_inventory():
    found = _sites()
    diffs = {
        k: (ALLOWED.get(k, 0), found.get(k, 0))
        for k in set(ALLOWED) | set(found)
        if ALLOWED.get(k, 0) != found.get(k, 0)
    }
    assert not diffs, (
        "forced-broadcast inventory drift — (site): (reviewed, found); a count "
        f"above the reviewed one is a NEW unreviewed broadcast: {sorted(diffs.items())}"
    )
