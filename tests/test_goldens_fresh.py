"""Golden-staleness guard (VERDICT r2 #8): regenerate the two committed
gate goldens in a tmp dir — with make_goldens' own verification against
networkx / the REAL reference — and assert byte-level value equality with
the committed parquet. A golden that drifts from the current engine or
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


def test_goldens_match_committed(spark, tmp_path):
    if not Path(SF_DIR).exists():
        pytest.skip(f"{SF_DIR} is absent")
    mg = _load_make_goldens()
    mg.conftest.importorskip_reference()
    mg._serial_pools()
    import __spark_entry__ as entrymod

    fresh_core = tmp_path / "coreness.parquet"
    fresh_tr = tmp_path / "textrank.parquet"
    fresh_gc = tmp_path / "textrank_gcvalue.parquet"
    fresh_msf = tmp_path / "msf.parquet"
    fresh_bw = tmp_path / "betweenness.parquet"
    # each make_* verifies against its independent oracle before writing
    mg.make_coreness(spark, entrymod, SF_DIR, fresh_core)
    mg.make_textrank(spark, entrymod, SF_DIR, fresh_tr)
    mg.make_textrank(spark, entrymod, SF_DIR, fresh_gc, weight_comb="gcvalue")
    mg.make_msf(spark, entrymod, SF_DIR, fresh_msf)
    mg.make_betweenness(spark, entrymod, SF_DIR, fresh_bw)

    for fresh, committed in [
        (fresh_core, REPO / "goldens" / "coreness_sf0.01.parquet"),
        (fresh_tr, REPO / "goldens" / "textrank_sf0.01.parquet"),
        (fresh_gc, REPO / "goldens" / "textrank_gcvalue_sf0.01.parquet"),
        (fresh_msf, REPO / "goldens" / "msf_sf0.01.parquet"),
        (fresh_bw, REPO / "goldens" / "betweenness_sf0.01.parquet"),
    ]:
        a, b = _read_sorted(fresh), _read_sorted(committed)
        pd.testing.assert_frame_equal(a, b, check_like=True)
