"""bench.py driver contract: one JSON line with metric/value/unit/
queries/sf — run at the smallest SF so the test stays fast."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_emits_contract_json():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001", SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
        cwd=str(REPO),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    doc = json.loads(line)
    assert doc["unit"] == "sec"
    assert doc["metric"] == "bench_12q_total"
    assert doc["sf"] == 0.001
    assert isinstance(doc["value"], (int, float)) and doc["value"] > 0
    assert len(doc["queries"]) == 12
    assert abs(sum(doc["queries"].values()) - doc["value"]) < 0.01
    # r11 noise-hardening fields: the DuckDB pair is measured and
    # recorded at ANY sf, but the drift check (and its re-run loop)
    # applies only at sf0.1 where BASELINE's 0.393 s denominator was
    # measured — at sf0.001 the baseline/drift must be None and no
    # epoch may have been discarded (r11 review finding #2)
    assert isinstance(doc["duckdb_pair_s"], (int, float))
    assert doc["duckdb_pair_s"] > 0
    assert doc["duckdb_baseline_s"] is None
    assert doc["pair_drift"] is None
    # pair_noisy (r12 advice) only has meaning where the drift gate
    # applies — at any other sf it must be None, mirroring pair_drift
    assert doc["pair_noisy"] is None
    assert doc["noisy_epochs_discarded"] == 0
    # the side probe records either one compute time per query or the
    # error that stopped it — never a silently empty map
    assert len(doc.get("compute_ms", {})) == 12 or doc.get("compute_ms_error")


def test_key_order_matches_registry():
    """_KEY_ORDER must stay a permutation of the registry: a key
    implemented but left out of the order would silently sort last
    (still swept), but a typo'd name in the order would rank a
    nonexistent key — both should fail loudly here."""
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry
    from atd_dockless_processing_spark import ORACLES, QUERIES

    assert set(entry._KEY_ORDER) == set(QUERIES)
    assert len(entry._KEY_ORDER) == len(set(entry._KEY_ORDER))
    assert set(ORACLES) <= set(QUERIES)
    assert list(entry.queries()) == entry._KEY_ORDER


def test_key_order_not_stale():
    """Evidence-priority tiering regression guard (round-3 verdict
    item 2): every registry key WITHOUT a green row in its latest
    CORRECTNESS_r*.json evidence must sort before every key WITH
    one, so the driver's ~50-key sweep budget always buys new
    scoreboard evidence. This test fails the moment a new
    CORRECTNESS round lands and _KEY_ORDER isn't re-tiered."""
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry
    from atd_dockless_processing_spark import ORACLES, QUERIES

    # the production rule, not a re-implementation: this test pins the
    # ORDERING contract, and a hand-copied is_green already proved it
    # drifts (it needed the same EVIDENCE_INVALIDATED patch in lockstep
    # — r10 review finding #6)
    from atd_dockless_processing_spark.retier import is_green

    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.split("_r")[1])
        for key, row in json.loads(path.read_text()).items():
            latest[key] = (rnd, row)

    def green(key: str, rnd: int, row: dict) -> bool:
        return is_green(key, row, ORACLES, rnd)

    # mirror queries(): a key missing from _KEY_ORDER ranks first
    # (new operator, no evidence) rather than KeyError-ing this test
    rank = {k: i for i, k in enumerate(entry._KEY_ORDER)}
    needs_evidence = [k for k in QUERIES if k not in latest or not green(k, *latest[k])]
    has_green = [k for k in QUERIES if k in latest and green(k, *latest[k])]
    if not needs_evidence or not has_green:
        return  # nothing to order between
    worst_needy = max(rank.get(k, -1) for k in needs_evidence)
    best_green = min(rank.get(k, -1) for k in has_green)
    stragglers = sorted(k for k in needs_evidence if rank.get(k, -1) > best_green)
    assert worst_needy < best_green, (
        f"_KEY_ORDER is stale: evidence-lacking keys rank after green keys: {stragglers}"
    )


def test_green_tier_rotates_oldest_evidence_first():
    """Round-4 verdict item 7: the tree keeps changing every round,
    so the sweep budget left over after the evidence-needed block
    must re-validate the STALEST green keys first. Within the green
    tier, _KEY_ORDER must be non-decreasing in the round number of
    each key's latest green evidence — re-tiering is required the
    moment a new CORRECTNESS round makes the rotation stale."""
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry
    from atd_dockless_processing_spark import ORACLES, QUERIES

    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.split("_r")[1])
        for key, row in json.loads(path.read_text()).items():
            latest[key] = (rnd, row)

    from atd_dockless_processing_spark.retier import is_green

    green_rounds = [
        latest[k][0]
        for k in entry._KEY_ORDER
        if k in QUERIES
        and k in latest
        and is_green(k, latest[k][1], ORACLES, latest[k][0])
    ]
    out_of_order = [
        (a, b) for a, b in zip(green_rounds, green_rounds[1:]) if a > b
    ]
    assert not out_of_order, (
        f"green tier not oldest-evidence-first: {len(out_of_order)} inversions, "
        f"first={out_of_order[:3]}"
    )


def test_bench_queries_hit_the_table_cache(spark):
    """Every bench query must read the provider's cached table, not
    re-scan parquet. Regression guard for the round-5 find: the SQL
    GROUPING SETS rewrite re-aliases its child subtree during
    analysis, so CacheManager's canonicalized match fails and a
    query over a view of a cached DataFrame silently re-scans the
    source (agg_grouping_sets ran 3.5x slower in the bench until it
    moved to the DataFrame groupingSets API). Asserts the substituted
    plan shows InMemoryTableScan for each bench key."""
    from bench import BENCH_SET
    from atd_dockless_processing_spark import QUERIES
    import atd_dockless_processing_spark.tables as tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    cache = {}

    def provider(s, d, name):
        key = (d, name)
        if key not in cache:
            tables.set_table_provider(None)
            try:
                df = tables.load(s, d, name).repartition(2).cache()
                df.count()
                cache[key] = df
            finally:
                tables.set_table_provider(provider)
        return cache[key]

    tables.set_table_provider(provider)
    try:
        misses = []
        for metric, key in BENCH_SET.items():
            plan = (
                QUERIES[key](spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            if "InMemoryTableScan" not in plan:
                misses.append(metric)
        assert not misses, f"bench queries bypassing the table cache: {misses}"
    finally:
        tables.set_table_provider(None)
        for df in cache.values():
            df.unpersist()


def test_bench_no_per_query_regression_between_rounds():
    """Bench drift tripwire (r7 verdict item 8): compare the two
    latest recorded BENCH_r*.json files per query and fail on a
    >25% AND >25 ms regression — so a grouping_sets-style slide is
    caught at round start by the builder, not at round end by the
    judge. The absolute guard keeps 50 ms dispatch-floor queries
    from tripping on scheduler jitter; genuine plan regressions
    (e.g. a lost broadcast: 108 -> 271 ms in the r7 A/B) clear both
    bars. Box-speed shifts move EVERY query together — if >half the
    queries 'regress', that's host variance, not a plan slide, and
    the test reports it as a skip instead."""
    import pytest

    # only plain per-round records: the driver also writes variant
    # artifacts like BENCH_r14_c8.json (low-core scaling run), which
    # are not comparable to the 32-core rounds and must not parse as
    # a round number
    rounds = sorted(
        (p for p in REPO.glob("BENCH_r*.json") if p.stem.split("_r")[1].isdigit()),
        key=lambda p: int(p.stem.split("_r")[1]),
    )
    if len(rounds) < 2:
        pytest.skip("fewer than two recorded bench rounds")
    prev_doc = json.loads(rounds[-2].read_text())["parsed"]
    last_doc = json.loads(rounds[-1].read_text())["parsed"]
    prev, last = prev_doc["queries"], last_doc["queries"]
    shared = sorted(set(prev) & set(last))
    assert shared, (rounds[-2].name, rounds[-1].name)
    regressed = [
        (q, prev[q], last[q])
        for q in shared
        if last[q] > prev[q] * 1.25 and last[q] - prev[q] > 0.025
    ]
    if len(regressed) > len(shared) / 2:
        pytest.skip(f"host-variance shift, not a plan slide: {regressed}")
    assert not regressed, (
        f"per-query bench regression {rounds[-2].name} -> {rounds[-1].name}: "
        f"{regressed}"
    )


def test_baseline_constant_pinned_to_doc():
    """BASELINE_12Q_S in bench.py duplicates the measured total that
    BASELINE.md documents as the 2x gate's denominator (r12 advice:
    a baseline re-measure that updates the doc but not the constant
    would silently skew the pair-drift gate). Parse both texts — no
    bench import, no Spark — and require them equal to the ms."""
    import re

    bench_src = (REPO / "bench.py").read_text()
    m = re.search(r"^BASELINE_12Q_S\s*=\s*([0-9.]+)", bench_src, re.M)
    assert m, "BASELINE_12Q_S constant missing from bench.py"
    const_s = float(m.group(1))

    doc = (REPO / "BASELINE.md").read_text()
    # BASELINE.md is append-only (a re-measure appends a new total
    # row rather than editing the old one — the scale_index.py
    # last-row-wins rule), so pin to the LAST match, not the first
    hits = re.findall(
        r"total, 12-query representative set\*\*\s*\|\s*\*\*[^0-9]*([0-9]+(?:\.[0-9]+)?)\s*ms\*\*",
        doc,
    )
    assert hits, "12-query total row missing from BASELINE.md"
    doc_s = float(hits[-1]) / 1000.0
    assert abs(const_s - doc_s) < 5e-4, (
        f"bench.py BASELINE_12Q_S={const_s} != BASELINE.md {doc_s} — "
        "update BOTH when the baseline is re-measured"
    )
