"""Sinks (SURVEY.md rows S9, F7).

- ``to_topojson_history``: the reference's WRITE_TOPOJSON_HISTORY
  output mode (map-geom-reconstruction.js:257-275), backed by the
  pure-Python topology encoder in functions/topojson.py.
"""

from __future__ import annotations


def to_topojson_history(
    features: list[dict], quantization: int | None = None
) -> str:
    """WRITE_TOPOJSON_HISTORY encoding (map-geom-reconstruction.js:
    257-275): ``topojson.topology(newHistoryObject)`` over the
    per-version history FEATURE ARRAY (the reference passes the array
    itself, so objects are keyed "0", "1", … — reproduced). The
    encoder is the pure-Python topology implementation in
    functions/topojson.py; the reference passes no quantization."""
    import json

    from ..functions.topojson import topology

    return json.dumps(
        topology(features, quantization),
        separators=(",", ":"),
        # Arrow-native inputs carry coordinates as numpy arrays
        default=lambda o: o.tolist(),
    )
