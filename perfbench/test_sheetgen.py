"""Tests for the seeded wide-sheet generator.

    python3 -m pytest perfbench/test_sheetgen.py -q

The benchmark itself checks the prediction against real pipeline runs
(every ``choir_pipeline`` run compares the audit row and the warehouse
tables with it); these tests pin the generator's coverage and the
counting rules without starting Spark.
"""

from __future__ import annotations

import csv
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sheetgen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = [1, 2, 3, 17, 1234]


def _body(values):
    return values[1:]


@pytest.mark.parametrize("seed", SEEDS)
def test_same_seed_same_sheet(seed):
    assert sheetgen.generate(seed) == sheetgen.generate(seed)


def test_seeds_differ():
    assert sheetgen.generate(1)[0] != sheetgen.generate(2)[0]


@pytest.mark.parametrize("seed", SEEDS)
def test_covers_the_data_contract_cases(seed):
    values, _ = sheetgen.generate(seed)
    header, body = values[0], _body(values)
    dates = header[4:]
    assert any(re.fullmatch(r"\d\d\.\d\d\.\d\d", h) for h in dates)
    assert any(re.fullmatch(r"\d{4}-\d\d-\d\d", h) for h in dates)
    assert any(re.fullmatch(r"\d{5}", h) for h in dates)

    members = [r for r in body if r[0] not in ("", "Song") and r[3]]
    names = [r[3] for r in members]
    assert len(set(names)) < len(names)  # duplicate chorister names
    tags = {r[0] for r in members}
    for prefix in ("ex", "ex ", "ex-"):
        assert any(
            t.startswith(prefix) and t[len(prefix):] in sheetgen.PARTS for t in tags
        )
    # mid-range join: a blank first cell for someone who joined later
    assert any(len(r) > 4 and r[4] == "" for r in members)

    cells = [c for r in body for c in r[4:]]
    assert any(re.fullmatch(r"\d+,\d+", c) for c in cells)  # comma decimals
    assert any(r[0] == "" and r[3] for r in body)  # blank Tag
    assert any(r[0] and r[0] != "Song" and not r[3] for r in body)  # blank Who

    songs = [r for r in body if r[0] == "Song"]
    titles = [r[3] for r in songs]
    assert len(set(titles)) < len(titles)  # duplicate song titles
    assert any(c in sheetgen.JUNK_CELLS for r in songs for c in r[4:])
    assert any(len(r) < len(header) for r in body)  # ragged rows


@pytest.mark.parametrize("seed", SEEDS)
def test_member_cells_never_abort_the_strict_parse(seed):
    values, _ = sheetgen.generate(seed)
    for r in _body(values):
        if r[0] not in ("", "Song") and r[3]:
            for c in r[4:]:
                assert c == "" or float(c.replace(",", ".")) >= 0


@pytest.mark.parametrize("seed", SEEDS)
def test_prediction_follows_the_counting_rules(seed):
    values, expected = sheetgen.generate(seed)
    members = [r for r in _body(values) if r[0].strip() not in ("", "Song") and r[3].strip()]
    n_dates = len(values[0]) - 4
    assert expected["rows_dim_chorister"] == len(members)
    assert expected["rows_fact_attendance"] == len(members) * n_dates
    # each row of the override name fans out to two assignment rows
    overrides = sum(r[3] == sheetgen.OVERRIDE_ROW for r in members)
    assert overrides >= 1
    assert expected["rows_dim_chorister_assignment"] == len(members) + overrides
    assert 0 < expected["rows_fact_song_time"] < expected["rows_dim_song"] * n_dates


def test_prediction_on_the_repository_fixture():
    """The counts ``run_pipeline`` reports in its audit row for
    tests/fixtures/raw_wide.csv."""
    with open(os.path.join(ROOT, "tests", "fixtures", "raw_wide.csv")) as f:
        values = list(csv.reader(f))
    assert sheetgen.predict(values) == {
        "rows_dim_chorister": 8,
        "rows_dim_chorister_assignment": 11,
        "rows_dim_song": 4,
        "rows_fact_attendance": 56,
        "rows_fact_song_time": 12,
    }
