"""Driver-gate registry: merge + self-rotating sweep order.

The queries themselves live in domain modules (qkernel / qunits /
qrel / qsketch here, plus textops / simsearch / multimodal /
htmlops); this module merges their registries, keeps the pinned
full-kernel gates first, and orders everything else by the round
it last had a green driver CORRECTNESS row (never-gated first,
stalest next) — see _sweep_order.
"""

from __future__ import annotations

from . import htmlops, multimodal, qkernel, qrel, qsketch, qunits
from . import simsearch, textops

# Back-compat view: the split domain registries merged, so
# queries.REGISTRY / queries.ORACLES keep working for tests.
def _merge(*regs: dict) -> dict:
    out: dict = {}
    for reg in regs:
        dup = out.keys() & reg.keys()
        assert not dup, f"duplicate query names across registries: {dup}"
        out.update(reg)
    return out


# The driver's per-round correctness sweep caps at ~50 queries taken in
# dict order, while the registry holds ~85 — so ordering decides which
# queries get a driver CORRECTNESS row each round. The sweep order is
# SELF-ROTATING: the full-kernel cross-engine gates stay pinned at the
# front (they must be green every round), and every other query sorts by
# the round it last had a green CORRECTNESS row (never-gated first,
# oldest next), read from the repo's own CORRECTNESS_r*.json files — so
# cumulative driver coverage converges over rounds with no manual list


REGISTRY: dict = _merge(qkernel.REGISTRY, qunits.REGISTRY,
                        qrel.REGISTRY, qsketch.REGISTRY)
ORACLES: dict = _merge(qkernel.ORACLES, qunits.ORACLES,
                       qrel.ORACLES, qsketch.ORACLES)


_ALWAYS_GATE = [
    "extract_spans_oracle", "extract_spans_rich_lite",
    "extract_spans_rot_text", "extract_spans_forms", "extract_spans_encoded",
    "extract_spans_paged_oracle", "extract_spans_paged_tail",
    "extract_spans_rich", "rich_structure", "extract_page_range",
]


def _last_gated_rounds(names) -> dict[str, int]:
    import glob
    import json
    import os
    import re

    roots = {os.getcwd(),
             os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))}
    last = {k: -1 for k in names}
    for root in roots:
        for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            try:
                with open(path) as fh:
                    data = json.load(fh)
            except Exception:
                continue
            if not isinstance(data, dict):
                continue
            for k, v in data.items():
                if k in last and isinstance(v, dict) and v.get("rows_match"):
                    last[k] = max(last[k], rnd)
    return last


def _sweep_order(merged: dict) -> dict:
    last = _last_gated_rounds(merged.keys())
    pinned = [k for k in _ALWAYS_GATE if k in merged]
    rest = sorted((k for k in merged if k not in pinned),
                  key=lambda k: (last[k], k))
    out = {k: merged[k] for k in pinned}
    out.update({k: merged[k] for k in rest})
    return out


def all_queries() -> dict:
    return _sweep_order(_merge(REGISTRY, textops.REGISTRY, simsearch.REGISTRY,
                               multimodal.REGISTRY, htmlops.REGISTRY))


def all_oracles() -> dict[str, str]:
    return _sweep_order(_merge(ORACLES, textops.ORACLES, simsearch.ORACLES,
                               multimodal.ORACLES, htmlops.ORACLES))

