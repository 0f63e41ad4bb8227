"""Proves tests/oracle_reconstruct.py is a genuinely INDEPENDENT
stage-4 oracle (VERDICT r2 item #1):

1. no-engine-imports: the oracle module must not import the engine
   kernel (_reconstruct_core / reconstruction) even transitively.
2. equivalence: on the full synthetic corpus the independent oracle's
   rows equal the engine kernel's rows column-for-column (the columns
   the driver's pages_reconstruct expected table hashes).
3. mutation sensitivity: a deliberate semantics bug injected into the
   engine kernel (CHANGESET_THRESHOLD 60 -> 0) makes the two DIVERGE,
   i.e. the oracle would catch it instead of mirroring it.
"""

from __future__ import annotations

import os
import sys

import pytest

from osm_wayback_spark.operators import _reconstruct_core as core
from osm_wayback_spark.operators.reconstruction import rows_for_feature
from tests.oracle import (
    add_history_oracle,
    build_index,
    extract_all,
    node_locations_oracle,
)
from tests.oracle_reconstruct import reconstruct_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = 0.001
KEYS = (
    "element_type", "id", "version", "minor_version",
    "valid_since", "valid_until", "geometry",
)


@pytest.fixture(scope="module")
def corpus():
    versions, locs, features = build_index(extract_all(SF))
    histories = add_history_oracle(versions, features)
    nested = node_locations_oracle(histories, features, locs)
    return features, histories, nested


def _both(features, histories, nested):
    """(oracle_rows, engine_rows) projected to the hashed columns,
    order-insensitive within a feature (both emit in stream order,
    but we sort to compare as sets like the driver's value hash)."""
    orc, eng = [], []
    for key, feat in features.items():
        hist = histories.get(key) or []
        nl = nested.get(key)
        geom = feat.get("geometry")
        orc.extend(
            tuple(r[k] for k in KEYS)
            for r in reconstruct_rows(key[0], key[1], geom, hist, nl)
        )
        eng.extend(
            tuple(r[k] for k in KEYS)
            for r in rows_for_feature(key[0], key[1], geom, hist, nl)
        )
    return sorted(orc, key=repr), sorted(eng, key=repr)


def test_no_engine_imports():
    # Fresh interpreter state not needed: assert the module's own
    # globals never reference the engine, and that importing it alone
    # does not pull the engine package in.
    import importlib
    import subprocess

    import ast

    tree = ast.parse(open(os.path.join(REPO, "tests", "oracle_reconstruct.py")).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert all("osm_wayback" not in a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert "osm_wayback" not in (node.module or "")
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, '.'); "
         "import tests.oracle_reconstruct; "
         "bad = [m for m in sys.modules if 'osm_wayback_spark' in m]; "
         "print(','.join(bad))"],
        capture_output=True, text=True, cwd=REPO, check=True,
    )
    assert proc.stdout.strip() == "", proc.stdout
    importlib  # quiet linters


def test_equivalence_full_corpus(corpus):
    features, histories, nested = corpus
    orc, eng = _both(features, histories, nested)
    assert len(orc) > 1000  # non-trivial corpus
    assert orc == eng


def test_mutated_kernel_diverges(corpus, monkeypatch):
    """Inject the classic off-by-threshold bug into the ENGINE only;
    the independent oracle must disagree somewhere."""
    features, histories, nested = corpus
    monkeypatch.setattr(core, "CHANGESET_THRESHOLD", 0)
    orc, eng = _both(features, histories, nested)
    assert orc != eng


def test_mutated_minor_pruning_diverges(corpus, monkeypatch):
    """Second mutation class: minor-changeset collapse window."""
    features, histories, nested = corpus
    monkeypatch.setattr(core, "MINOR_CHANGESET_VERSION_THRESHOLD", 10**9)
    orc, eng = _both(features, histories, nested)
    assert orc != eng
