"""Broadcast-hint policy sweep (static, no Spark session).

Policy (SURVEY.md §6 / README "Broadcast-hint policy"): an unconditional
`F.broadcast(...)` hint is allowed ONLY on a frame whose cardinality is
provably bounded by construction — a caller-provided query/key set, a
centroid/probe table bounded by n_cells/K, a codebook/LUT (256 × subs), a
one-row corpus count, or a capped hot-shingle list. Frames whose row count
scales with corpus size, duplicate rate, or contamination rate must go
through a `broadcast_*` flag that falls back to a shuffle join (AQE converts
back to broadcast at runtime from MEASURED size) — the
`dedup_keep_canonical` contract (operators/graph.py).

This test pins every `F.broadcast(` site in the package: a new site fails
the sweep until it is classified here with its boundedness argument. This is
the regression gate the round-4 verdict asked for — `ngram_jaccard_pairs`
once broadcast its per-corpus-document `sizes` frame (a driver-OOM at 1e9
docs) and the pattern must not come back.
"""

import os
import re

PKG = os.path.join(os.path.dirname(__file__), "..", "change_data_capturer_ms_spark")

# (relative file, normalized source line) -> why the broadcast side is bounded.
ALLOWED = {
    # --- bounded query/probe/key sets (caller-provided, small by contract) ---
    ("operators/similarity.py", "return _rank_by_cosine(c.crossJoin(F.broadcast(q)), k)"):
        "brute-force baseline: broadcast = the query batch",
    ("operators/similarity.py", "return _rank_by_cosine(c.join(F.broadcast(q), [\"bucket\"]), k, \"bucket\")"):
        "LSH probe: broadcast = the query batch",
    ("operators/similarity.py", "return _rank_by_cosine(cand.join(vecs, \"neighbor_id\").join(F.broadcast(q), \"query_id\"), k)"):
        "PQ re-rank: broadcast = the query batch",
    ("operators/embed_index.py", "return _rank_by_cosine(idx.join(F.broadcast(q), [\"bucket\"]), k)"):
        "index probe: broadcast = the query batch",
    ("lake/table.py", "return base.join(F.broadcast(key_df), m.key_cols, \"inner\")"):
        "lookup_many: broadcast = the caller's key list",
    # --- centroid / probe tables bounded by n_cells / K ---
    ("operators/similarity.py", "return _rank_by_cosine(assigned.join(F.broadcast(probes), [\"cell\"]), k, \"cell\")"):
        "IVF probe list: nprobe rows per query",
    ("operators/similarity.py", "return df.crossJoin(F.broadcast(cent)).withColumn(\"dist\", dist)"):
        "IVF/semdedup corpus and query assignment: K / n_cells centroid rows "
        "(semdedup clamps n_cells <= 4096)",
    ("operators/similarity.py", "assigned.join(F.broadcast(cell_sizes), \"cell\")"):
        "semdedup cell sizes: n_cells rows",
    # --- codebooks / LUTs (256 codes x n_sub) ---
    ("operators/similarity.py", "subs = _subvectors(c, \"v\", m, w, \"vec\").join(F.broadcast(codebook), \"sub\")"):
        "PQ codebook: 256 x n_sub rows",
    ("operators/similarity.py", "qsubs = _subvectors(q, \"qv\", m, w, \"query_id\").join(F.broadcast(codebook), \"sub\")"):
        "PQ codebook: 256 x n_sub rows",
    ("operators/similarity.py", "codes.join(F.broadcast(lut), [\"sub\", \"code\"])"):
        "PQ ADC lookup table: 256 x n_sub x queries rows",
    # --- one-row / capped metadata ---
    ("operators/text.py", "scored = stats.join(F.broadcast(n_docs)).select("):
        "TF-IDF: ONE corpus-count row",
    ("operators/dedup_docs.py", "sh_join = sh.join(F.broadcast(hot), \"shingle\", \"left_anti\")"):
        "hot-shingle list: shingles with df > df_cap (tiny by construction)",
    # --- eval-set-bounded (benchmarks are thousands of items by contract) ---
    ("operators/contamination.py", "doc_sh.join(F.broadcast(eval_sh), \"h\")"):
        "decontamination probe: eval-suite shingles (eval sets are small by contract)",
    # --- flag-guarded data-proportional sides (default True, shuffle fallback) ---
    ("operators/graph.py", "losers = F.broadcast(losers)"):
        "flag-guarded: dedup_keep_canonical(broadcast_losers=...)",
    ("operators/dedup_docs.py", "losers = F.broadcast(losers)"):
        "flag-guarded: dedup_dataset(broadcast_losers=...)",
    ("operators/similarity.py", "losers = F.broadcast(losers)"):
        "flag-guarded: semdedup(broadcast_losers=...)",
    ("operators/contamination.py", "flagged = F.broadcast(flagged)"):
        "flag-guarded: decontaminate(broadcast_flagged=...)",
}


def _broadcast_sites():
    sites = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                for line in f:
                    if "F.broadcast(" in line:
                        sites.add((rel, line.strip()))
    return sites


def test_every_broadcast_site_is_classified():
    sites = _broadcast_sites()
    unknown = sites - set(ALLOWED)
    assert not unknown, (
        "unclassified F.broadcast( sites — prove the side is bounded by "
        f"construction (or flag-guard it) and add it to ALLOWED: {sorted(unknown)}"
    )


def test_no_stale_allowlist_entries():
    sites = _broadcast_sites()
    stale = set(ALLOWED) - sites
    assert not stale, f"ALLOWED entries no longer in source: {sorted(stale)}"


def test_flag_guarded_sites_are_actually_guarded():
    """The four data-proportional sides must sit under an `if broadcast_*:`
    guard — a regression to an unconditional hint reorders the lines and
    breaks this structural check."""
    guards = {
        "operators/graph.py": "if broadcast_losers:",
        "operators/dedup_docs.py": "if broadcast_losers:",
        "operators/similarity.py": "if broadcast_losers:",
        "operators/contamination.py": "if broadcast_flagged:",
    }
    for rel, guard in guards.items():
        src = open(os.path.join(PKG, rel)).read()
        pat = re.escape(guard) + r"\n\s+\w+ = F\.broadcast\("
        assert re.search(pat, src), f"{rel}: broadcast not under `{guard}`"
