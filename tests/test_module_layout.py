"""Engine layout guard: code is grouped by operator family.

A key's prefix names what it does, and each prefix has one home
module, so a reader looking for ``agg_*`` opens one file. Modules
named after the round that wrote them must not come back.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atd_dockless_processing_spark import QUERIES  # noqa: E402

PKG = "atd_dockless_processing_spark"

FAMILY = {
    "agg": ("operators.aggregates",),
    "join": ("operators.joins",),
    "evt": ("operators.events",),
    "win": ("operators.windows",),
    "set": ("operators.sets",),
    "srt": ("operators.sorts",),
    "prj": ("operators.projection",),
    "flt": ("operators.projection",),
    "txt": ("operators.text",),
    "llm": ("operators.llm", "operators.dedup_ann"),
    "geo": ("operators.geo",),
    "mm": ("operators.multimodal",),
    "dq": ("operators.quality",),
    "gph": ("operators.graph",),
    "sql": ("operators.sql",),
    "udf": ("operators.udfs",),
    "udaf": ("operators.udfs",),
    "udtf": ("operators.udfs",),
    "etl": ("operators.etl",),
    "fn": ("functions.scalars",),
    "src": ("sources.scans",),
    "snk": ("sources.sinks",),
    "stm": ("streaming.stream_queries",),
}

# A Python DataSource stream reader: it shares the DataSource
# machinery of src_python_datasource in sources/scans.py.
EXCEPTIONS = {"stm_python_stream_source": "sources.scans"}


def test_no_round_named_modules():
    stems = sorted(p.stem for p in (REPO / PKG).rglob("*.py"))
    assert not [s for s in stems if s.startswith("pipeline_") or s == "breadth"]


def test_keys_live_in_their_family_module():
    misplaced = {}
    for key, fn in QUERIES.items():
        mod = fn.__module__.removeprefix(PKG + ".")
        allowed = (
            (EXCEPTIONS[key],) if key in EXCEPTIONS
            else FAMILY.get(key.split("_")[0], ())
        )
        if mod not in allowed:
            misplaced[key] = mod
    assert not misplaced
