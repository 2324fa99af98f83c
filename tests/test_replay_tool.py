"""Unit contracts for the driver-parity comparator in
tools/replay_contract.py — no SparkSession, milliseconds.

The tool is the local mirror of the driver's correctness gate, so
its cell-stringification semantics ARE the gate semantics:

- numerics stay dtype-strict ("9999" != "9999.0") — the strictness
  that caught the DuckDB HUGEINT→float64 degradation;
- temporals normalize (date pads to midnight) — mirroring the
  driver's observed tolerance (r05 passed monthly_growth's
  date-vs-timestamp schema);
- column order is canonicalized by sorting names, rows by value.
"""

from __future__ import annotations

import datetime
import importlib.util
import os

import pandas as pd

_SPEC = importlib.util.spec_from_file_location(
    "replay_contract",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "replay_contract.py",
    ),
)
rc = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(rc)


def test_int_float_reprs_stay_distinct():
    # the HUGEINT failure class: same value, different dtype
    import numpy as np

    assert rc._cell(np.int64(9999)) == "9999"
    assert rc._cell(np.float64(9999.0)) == "9999.0"
    assert rc._cell(np.int64(9999)) != rc._cell(np.float64(9999.0))


def test_date_pads_to_midnight_timestamp():
    d = datetime.date(2024, 3, 1)
    t = pd.Timestamp("2024-03-01 00:00:00")
    assert rc._cell(d) == "2024-03-01 00:00:00"
    assert rc._cell(d) == rc._cell(t)
    # a real (non-midnight) timestamp still differs from the date
    assert rc._cell(d) != rc._cell(pd.Timestamp("2024-03-01 08:00:00"))


def test_datetime_not_padded():
    dt = datetime.datetime(2024, 3, 1, 12, 30)
    assert rc._cell(dt) == "2024-03-01 12:30:00"


def test_frame_rows_sorts_columns_and_rows():
    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    assert rc._frame_rows(a) == rc._frame_rows(b)
    assert rc._hash_rows(rc._frame_rows(a)) == rc._hash_rows(
        rc._frame_rows(b)
    )


def test_hash_distinguishes_values():
    a = pd.DataFrame({"a": [1, 2]})
    b = pd.DataFrame({"a": [1, 3]})
    assert rc._hash_rows(rc._frame_rows(a)) != rc._hash_rows(
        rc._frame_rows(b)
    )


def test_first_divergence_reports_position():
    a = [("1",), ("2",), ("3",)]
    b = [("1",), ("9",), ("3",)]
    i, ra, rb = rc._first_divergence(a, b)
    assert i == 1 and "2" in ra and "9" in rb
    # length mismatch past the common prefix
    i, ra, rb = rc._first_divergence(a, a[:2])
    assert i == 2 and rb == "<end>"


def test_merge_golden_prunes_stale_keys():
    # a targeted --golden-write drops hashes of queries removed from
    # the registry instead of letting stale keys linger
    existing = {"kept": "h1", "renamed_old": "h2", "updated": "h3"}
    new_hashes = {"updated": "h3b", "added": "h4"}
    registry = ["kept", "updated", "added", "never_run"]
    merged, stale = rc.merge_golden(existing, new_hashes, registry)
    assert merged == {"kept": "h1", "updated": "h3b", "added": "h4"}
    assert stale == ["renamed_old"]
