"""Driver-facing query registry package.

Each sibling module registers (PySpark query, DuckDB oracle SQL) pairs via
the ``@query`` decorator in :mod:`modeltracking_spark.queries.common`.
``load_registries()`` imports every query module and returns the filled
``QUERIES`` / ``ORACLES`` dicts — the single entry point used by
``__spark_entry__.py``.

``PRIORITY`` puts the track×grid pipeline's queries first, in pipeline
order: track geometry, grid snap, the along-track profile, the grid
readers, the depth display axis and KMZ placemark ingest. Everything
not named in ``PRIORITY`` follows in module registration order.
"""

from __future__ import annotations

import importlib
import sys

from modeltracking_spark.queries.common import ORACLES, QUERIES

#: every module that registers queries; imported lazily by load_registries
QUERY_MODULES = (
    "modeltracking_spark.queries.core",
    "modeltracking_spark.queries.timegeo",
    "modeltracking_spark.queries.joins_q",
    "modeltracking_spark.queries.aggs_q",
    "modeltracking_spark.queries.track_q",
    "modeltracking_spark.queries.dedup_q",
    "modeltracking_spark.queries.text_q",
    "modeltracking_spark.queries.suites_q",
    "modeltracking_spark.queries.sim_q",
    "modeltracking_spark.queries.stream_q",
    "modeltracking_spark.queries.multimodal_q",
    "modeltracking_spark.queries.extras_q",
    "modeltracking_spark.queries.corpus_q",
)

#: the track×grid queries, in pipeline order
PRIORITY: tuple[str, ...] = (
    "track_step_haversine",
    "track_resample_arclength",
    "track_bounding_box",
    "grid_snap_nearest_node",
    "profile_along_track_temp",
    "profile_multivariable_pivot",
    "profile_flatten_roundtrip",
    "profile_nearest_node",
    "grid_datasource_scan",
    "grid_netcdf_scan",
    "grid_netcdf_packed_scan",
    "dap_grid_mode_scan",
    "depth_display_axis",
    "xpath_placemark_fields",
)


def load_registries() -> tuple[dict, dict]:
    """Import all query modules (idempotent) and return (QUERIES, ORACLES)
    re-ordered by ``PRIORITY`` (unlisted entries keep registration order).

    One broken module must not zero the whole registry (the round-2
    failure mode), so imports are individually guarded; failures are
    reported on stderr and the remaining modules still register.
    """
    for mod in QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except Exception as exc:  # pragma: no cover - defensive
            print(f"[queries] failed to import {mod}: {exc!r}", file=sys.stderr)
    missing = [p for p in PRIORITY if p not in QUERIES]
    if missing:  # pragma: no cover - defensive
        print(f"[queries] PRIORITY names not registered: {missing}", file=sys.stderr)
    ordered = [p for p in PRIORITY if p in QUERIES]
    ordered += [n for n in QUERIES if n not in PRIORITY]
    q = {n: QUERIES[n] for n in ordered}
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    return q, o
