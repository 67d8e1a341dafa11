"""Golden-staleness guard: regenerate the committed gate goldens in a tmp
dir — with make_goldens' own verification against networkx / the REAL
reference — and assert byte-level value equality with the committed
parquet. A golden that drifts from the current engine or
testdata can never silently pass the gate again: this test fails first."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.01"


def _load_make_goldens():
    spec = importlib.util.spec_from_file_location(
        "make_goldens", REPO / "scripts" / "make_goldens.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["make_goldens"] = mod
    spec.loader.exec_module(mod)
    return mod


def _read_sorted(path):
    pdf = pd.read_parquet(path)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _assert_same(fresh, name):
    a, b = _read_sorted(fresh), _read_sorted(REPO / "goldens" / name)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_reference_free_goldens_match_committed(spark, tmp_path):
    """The goldens verified against networkx alone, so they are checked
    where the reference package is absent."""
    if not Path(SF_DIR).exists():
        pytest.skip(f"{SF_DIR} is absent")
    mg = _load_make_goldens()
    import __spark_entry__ as entrymod

    # each make_* verifies against its independent oracle before writing
    for make, name in [
        (mg.make_coreness, "coreness_sf0.01.parquet"),
        (mg.make_msf, "msf_sf0.01.parquet"),
        (mg.make_betweenness, "betweenness_sf0.01.parquet"),
    ]:
        make(spark, entrymod, SF_DIR, tmp_path / name)
        _assert_same(tmp_path / name, name)


def test_goldens_match_committed(spark, tmp_path):
    """The two textrank goldens, verified against the reference."""
    if not Path(SF_DIR).exists():
        pytest.skip(f"{SF_DIR} is absent")
    mg = _load_make_goldens()
    mg.conftest.importorskip_reference()
    mg._serial_pools()
    import __spark_entry__ as entrymod

    for weight_comb, name in [
        ("sum", "textrank_sf0.01.parquet"),
        ("gcvalue", "textrank_gcvalue_sf0.01.parquet"),
    ]:
        mg.make_textrank(
            spark, entrymod, SF_DIR, tmp_path / name, weight_comb=weight_comb
        )
        _assert_same(tmp_path / name, name)
