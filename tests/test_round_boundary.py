"""Round-boundary simulation (VERDICT r8 items 1 and 7).

The driver writes ``CORRECTNESS_r{N}.json`` AFTER the round's tree is
stamped, so through r8 the static ``_KEY_ORDER`` went stale at every
round boundary and the rotation sentinel was red at judge time twice
running. Since r9 the effective order is recomputed at import
(atd_dockless_processing_spark/retier.py); these tests simulate the
post-commit evidence drop and assert the whole ordering contract stays
green with the new file present — the structural end of that bug class.
"""

from __future__ import annotations

import importlib
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atd_dockless_processing_spark import ORACLES, QUERIES  # noqa: E402
from atd_dockless_processing_spark.retier import (  # noqa: E402
    EVIDENCE_INVALIDATED,
    is_green,
    latest_evidence,
    retier,
)


def _assert_contract(order: list[str], evidence: dict) -> None:
    """Both ordering invariants, re-implemented independently of retier
    internals: needy-before-green, then oldest-evidence-first."""
    assert set(order) == set(QUERIES) and len(order) == len(set(order))
    green_rounds = [
        evidence[k][0]
        for k in order
        if k in evidence and is_green(k, evidence[k][1], ORACLES, evidence[k][0])
    ]
    needy_ranks = [
        i for i, k in enumerate(order)
        if k not in evidence
        or not is_green(k, evidence[k][1], ORACLES, evidence[k][0])
    ]
    if needy_ranks and green_rounds:
        first_green = next(
            i for i, k in enumerate(order)
            if k in evidence and is_green(k, evidence[k][1], ORACLES, evidence[k][0])
        )
        assert max(needy_ranks) < first_green
    assert all(a <= b for a, b in zip(green_rounds, green_rounds[1:]))


def test_retier_pure_function_with_synthetic_next_round():
    """A synthetic r+1 evidence round over a 50-key slice must re-sort
    those keys to the green tail (newest evidence) and keep both
    invariants — without touching disk."""
    evidence = latest_evidence(REPO)
    assert evidence, "no CORRECTNESS files in repo"
    # the next drop is earned by this tree, so it is no older than the
    # newest round in which a registered plan changed
    next_round = max(
        max(rnd for rnd, _ in evidence.values()) + 1,
        max(EVIDENCE_INVALIDATED.values()),
    )
    base = retier(sorted(QUERIES), QUERIES, ORACLES, evidence)
    swept = base[:50]
    synth = dict(evidence)
    for k in swept:
        synth[k] = (next_round, {"err": None, "hash_match": True})
    order = retier(base, QUERIES, ORACLES, synth)
    _assert_contract(order, synth)
    # the freshly-swept keys now sit at the very end of the green tier
    assert order[-len(swept):] == [k for k in order if k in set(swept)]


def test_entry_retiers_itself_after_evidence_drop():
    """The real thing: drop a CORRECTNESS_r{N+1}.json file into the
    repo (as the driver does post-commit), re-import __spark_entry__,
    and assert the effective _KEY_ORDER is already consistent with the
    new evidence — no human retier step in between."""
    # keep the globbed path itself — re-formatting with {:02d} would
    # miss an unpadded driver drop (r9 review finding #4)
    by_round = sorted(
        (int(p.stem.split("_r")[1]), p)
        for p in REPO.glob("CORRECTNESS_r*.json")
    )
    assert by_round, "no CORRECTNESS files in repo"
    latest_round, latest_path = by_round[-1]
    synth_path = REPO / f"CORRECTNESS_r{latest_round + 1:02d}.json"
    assert not synth_path.exists(), f"stray {synth_path.name} — clean up first"
    synth_path.write_text(latest_path.read_text())
    try:
        entry = importlib.reload(importlib.import_module("__spark_entry__"))
        evidence = latest_evidence(REPO)
        _assert_contract(entry._KEY_ORDER, evidence)
        assert list(entry.queries()) == entry._KEY_ORDER
    finally:
        synth_path.unlink()
        entry = importlib.reload(importlib.import_module("__spark_entry__"))
    # restored: the reloaded order is consistent with the real files
    _assert_contract(entry._KEY_ORDER, latest_evidence(REPO))


def test_retier_skips_malformed_evidence_file(tmp_path):
    """A truncated/garbage evidence file must not break the driver's
    import — it is skipped and the remaining rounds still order."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": {"err": None, "hash_match": True}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("{ truncated")
    (tmp_path / "CORRECTNESS_rXX.json").write_text("{}")
    ev = latest_evidence(tmp_path)
    assert ev == {"a": (1, {"err": None, "hash_match": True})}


@pytest.mark.tripwire
def test_no_key_evidence_older_than_five_rounds():
    """Evidence-age alarm (VERDICT r10 item 5): the retier provably
    fronts stale-oldest keys, so under the driver's ~50-key/round
    sweep budget no key's latest GREEN evidence should ever lag the
    newest evidence round by more than 5 rounds. If this rings, the
    sweep budget shrank or the rotation broke — both need a human, so
    a red test is the right alarm (the bar is fresh green, not union
    green). Keys currently invalidated/needy are excluded: the retier
    places them at the very head of the next sweep by construction
    (asserted by the ordering-contract tests above)."""
    evidence = latest_evidence(REPO)
    assert evidence, "no CORRECTNESS files in repo"
    current = max(rnd for rnd, _ in evidence.values())
    too_old = sorted(
        k
        for k in QUERIES
        if k in evidence
        and is_green(k, evidence[k][1], ORACLES, evidence[k][0])
        and evidence[k][0] < current - 5
    )
    assert not too_old, (
        f"{len(too_old)} keys' latest green evidence is >5 rounds stale "
        f"(newest evidence round = r{current}): {too_old[:10]}"
    )
