"""Evidence-priority sweep ordering, recomputed at import time.

The driver sweeps ``__spark_entry__.queries()`` in dict order under a
~50-key/round budget and records results in ``CORRECTNESS_r{N}.json``.
The ordering contract (VERDICT r3 item 2 / r4 item 7 / r5 item 1):

1. every key WITHOUT green latest driver evidence (new, never swept,
   stale-error, or check-type changed) sorts FIRST, and
2. the ever-green tail rotates OLDEST-EVIDENCE-FIRST (round number of
   each key's latest green row, ascending; stable by prior order).

Through round 8 this list was a static splice refreshed once per round
by ``scripts/retier_key_order.py --write`` — which meant the rotation
sentinel test went red at EVERY round boundary, because the driver
writes ``CORRECTNESS_r{N}.json`` after the tree is stamped (VERDICT r8
"What's wrong" #1, same mechanism in r7). The fix is structural: the
static list is now only a stability baseline (``_KEY_ORDER_BASE``), and
the effective order is recomputed HERE from the evidence files present
at import. A post-commit evidence drop re-tiers itself on next import;
no human step can be late.

``scripts/retier_key_order.py --write`` remains as a cosmetic refresh
of the baseline (keeps the literal in ``__spark_entry__.py`` readable
and the git diff meaningful); it is no longer load-bearing.
"""

from __future__ import annotations

import json
from pathlib import Path

# Keys a standing VERDICT done-condition named ("Done = green
# CORRECTNESS row") must never slip out of the sweep budget; designated
# carry keys are ones whose semantics are redundantly pinned by
# independent-python invariant tests and well-evidenced oracle families.
SWEEP_FIRST = {
    "evt_state_intervals", "etl_publish_funnel",  # VERDICT r5 items 5/6
    "agg_quantile_sketch", "llm_semdedup",
    "agg_bloom_membership", "snk_zorder_layout",
}
CARRY_OK = {"agg_weighted_avg", "fn_base64_roundtrip", "evt_interarrival_hist"}

# Keys whose REGISTERED implementation changed in round N: driver
# evidence from rounds < N was earned by the OLD plan, so it is not
# current green evidence — the key re-tiers to the needy band until a
# round-≥N CORRECTNESS row lands (then this entry is dead weight and
# can be dropped at the next cosmetic refresh). Honest alternative to
# editing driver-owned CORRECTNESS files (VERDICT r9 items 2/6: the
# tumbling µs-layout dispatch and the correlated-subquery window
# promotion both rewired their registered plan in r10).
EVIDENCE_INVALIDATED: dict[str, int] = {
    "sql_correlated_subquery": 10,
    # r11: sum_filled -> FP-exact sum_filled_e4 (schema + value change,
    # r10 ADVICE #2)
    "win_fill_forward": 11,
    # r11 weak-burn rewrites (VERDICT r10 item 2): pairs-first
    # collect, single-parse from_json/variant, marker-prefilter
    # lang_id — registered plans changed, evidence re-earned
    "agg_collect_sorted": 11,
    "fn_from_json_struct": 11,
    "fn_variant_json": 11,
    "txt_lang_id": 11,
    # r11: map->dense-array bitmap + xxhash64 positions (34x -> 4.7x
    # at x100; the map element_at linear scan was the scale bug)
    "join_bloom_prefilter": 11,
    # r16 (supersedes these keys' r13 entries, whose CORRECTNESS rows
    # were earned on the bucketed / µs-staged layout plans): the layout
    # dispatch is deleted, so each key always runs its one ad-hoc plan.
    # Evidence re-earned on that plan.
    "join_inner": 16,
    "join_anti": 16,
    "join_cross_small": 16,
    "join_multiway_5": 16,
    "evt_tumbling_hour": 16,
    # r13 (VERDICT r12 item 4): registered band shape flipped to the
    # production 8x2 (sublinear-in-docs, measured through x100) for
    # the whole shared-candidate-plan family; 16x1 twin test-pinned
    "llm_dedup_ngram": 13,
    "llm_dedup_clusters": 13,
    "llm_dedup_keep_list": 13,
    # r15 (VERDICT r14 item 5): of the ten r14 registered-plan
    # rewrites, the driver's r14 rotation independently hash-verified
    # only evt_dau_wau_rolling and txt_repetition_filter; the other
    # eight re-tier to the needy band so every r14 plan change earns
    # a driver CORRECTNESS row on the NEW plan.
    "llm_tfidf_topk": 14,
    "evt_funnel": 14,
    "evt_new_vs_returning": 14,
    "agg_gini": 14,
    "dq_pk_uniqueness": 14,
    "geo_od_matrix": 14,
    # r15 split-hoist rewrites: registered gram builds changed again
    # (llm_rouge_overlap was already unverified from r14; the
    # txt_repetition_filter r14 row was earned by the pre-hoist plan)
    "llm_rouge_overlap": 15,
    "txt_repetition_filter": 15,
    # r15: the long-unit form's sux/suy sum casts widened
    # (14,0)/(17,0) -> (15,0)/(18,0) per r14 ADVICE — same values by
    # construction, but the registered plan changed again, so its r14
    # evidence (none) stays invalid through r15.
    "agg_corr_cov": 15,
    # r17: the 30-minute gap is compared in exact microseconds instead
    # of whole seconds (a 1800.4 s gap no longer merges two sessions)
    "evt_sessionize_lag": 17,
}


def latest_evidence(repo: Path) -> dict[str, tuple[int, dict]]:
    """Newest CORRECTNESS row per key: key -> (round, row).

    Files are read in round order so a later file's row wins; a
    malformed file is skipped rather than breaking the driver import
    (the static baseline order still applies to any key it covered).
    """
    latest: dict[str, tuple[int, dict]] = {}
    paths = []
    for path in repo.glob("CORRECTNESS_r*.json"):
        try:
            paths.append((int(path.stem.split("_r")[1]), path))
        except ValueError:
            continue
    for rnd, path in sorted(paths):
        try:
            rows = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(rows, dict):
            for key, row in rows.items():
                if isinstance(row, dict):
                    latest[key] = (rnd, row)
    return latest


def is_green(key: str, row: dict, oracles: dict, rnd: int | None = None) -> bool:
    """A row is current green evidence for its key.

    A rows-only pass (err == "no_oracle") only counts while the key is
    STILL rows-only; once an oracle exists the check type changed and
    the key needs a fresh hash-checked row. When the evidence round is
    known, a row older than the key's ``EVIDENCE_INVALIDATED`` round
    was earned by a superseded implementation and does not count.
    """
    if rnd is not None and rnd < EVIDENCE_INVALIDATED.get(key, 0):
        return False
    if row.get("err") == "no_oracle":
        return key not in oracles and (row.get("spark_rows") or 0) > 0
    return row.get("err") is None and bool(row.get("hash_match"))


def retier(
    base: list[str],
    queries: dict,
    oracles: dict,
    evidence: dict[str, tuple[int, dict]],
) -> list[str]:
    """Order registry keys by evidence priority (see module docstring)."""
    prior = {k: i for i, k in enumerate(base)}
    needy = [
        k for k in queries
        if k not in evidence or not is_green(k, evidence[k][1], oracles, evidence[k][0])
    ]
    green = [
        k for k in queries
        if k in evidence and is_green(k, evidence[k][1], oracles, evidence[k][0])
    ]
    # needy: verdict-mandated first, designated carries last; within a
    # band, brand-new keys (no prior rank) first, then prior order
    needy.sort(
        key=lambda k: (
            (0 if k in SWEEP_FIRST else 2 if k in CARRY_OK else 1),
            k in prior,
            prior.get(k, 0),
            k,
        )
    )
    # green: oldest evidence round first, stable by prior order
    green.sort(key=lambda k: (evidence[k][0], prior.get(k, 10**9), k))
    return needy + green


def retier_from_repo(base: list[str], queries: dict, oracles: dict, repo: Path) -> list[str]:
    return retier(base, queries, oracles, latest_evidence(repo))
