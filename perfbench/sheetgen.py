"""Seeded wide-sheet generator for the choir pipeline benchmark.

Builds a wide sheet (the ``values.get`` rows: a header, then one row
per member or song) that exercises the data-contract cases a
successful pipeline run handles, and predicts the audit row counts the
run must report:

- duplicate chorister names (later rows get ``name | joined`` ids) and
  duplicate song titles (later rows get ``title (n)`` ids);
- comma decimals (``2,5``) next to dot decimals and integers;
- ``ex`` / ``ex `` / ``ex-`` tags for members who left;
- mid-range joins: a member's cells before their join date are blank;
- rows with a blank Tag or a blank Who, which no dimension keeps;
- junk song cells (``x``, ``?``, ``н/д``), which the lenient minutes
  parse drops;
- mixed date headers: ``dd.mm.yy``, ISO ``yyyy-mm-dd`` and spreadsheet
  serial numbers;
- ragged rows: trailing empty cells are omitted, as the API does.

:func:`write_csv` saves it as the sheet's CSV export.

Every chorister cell is blank or a non-negative number, so the strict
hours parse never aborts the run.

Run ``python3 perfbench/sheetgen.py --seed 7 --out sheet.csv`` to
write a sheet and print its predicted counts.
"""

from __future__ import annotations

import argparse
import csv
import json
import random
import re
from datetime import date, timedelta

FIRST_NAMES = [
    "Анна", "Мария", "Ольга", "Полина", "Елена", "Ирина", "Наталья",
    "Татьяна", "Дарья", "Ксения", "Иван", "Пётр", "Алексей", "Сергей",
    "Дмитрий", "Михаил", "Андрей", "Николай", "Павел", "Юрий",
]
LAST_NAMES = [
    "Иванова", "Петрова", "Соколова", "Кузнецова", "Попова", "Смирнова",
    "Волкова", "Зайцева", "Орлова", "Лебедева", "Козлов", "Морозов",
    "Новиков", "Фёдоров", "Егоров", "Павлов", "Степанов", "Никитин",
]
SONG_TITLES = [
    "Калинка", "Катюша", "Ой мороз", "Ave Maria", "Однозвучно гремит",
    "Вечерний звон", "Коробейники", "Stabat Mater", "Ноченька",
    "Не для меня", "Тёмная ночь", "Gaudeamus", "Лучинушка", "Ой то не вечер",
]
PARTS = ["Soprano", "Alto", "Tenor", "Bass"]
EX_PREFIXES = ["ex", "ex ", "ex-"]
JUNK_CELLS = ["x", "?", "н/д"]
# Names with a hard-coded voice-part history in operators/dims.py: each
# raw row of such a name fans out to two assignment rows.
OVERRIDE_NAMES = {"мария_дидуренко", "полина_калач", "митя_чернаков"}
OVERRIDE_ROW = "Мария Дидуренко"

# Sheet size: a year of weekly rehearsals for a large choir, 13,000
# chorister cells. Twice the members (500 x 52) made a cold run on a
# 4-vCPU, 15.7 GB machine take about 90 s instead of 76 s and raised
# the peak resident memory of the driver JVM from 4.5 GB to 11 GB.
N_CHORISTERS = 250
N_DATES = 52
N_SONGS = 40

_SERIAL_EPOCH = date(1899, 12, 30)


def _fmt_date(d: date, style: str) -> str:
    if style == "dmy":
        return d.strftime("%d.%m.%y")
    if style == "iso":
        return d.isoformat()
    return str((d - _SERIAL_EPOCH).days)


def _fmt_hours(rng: random.Random) -> str:
    return rng.choice(["2", "2", "2", "1", "1.5", "2,5", "1,5", "3"])


def _normalized(name: str) -> str:
    """Mirror of functions.columns.normalize_name."""
    out = re.sub(r"\s+", "_", name.strip().lower())
    return re.sub(r"[^\w_]+", "", out)


def _parses(cell) -> bool:
    """Mirror of functions.columns.parse_decimal_comma: null unless the
    trimmed, comma-to-dot cell is a number."""
    if cell is None:
        return False
    try:
        float(str(cell).strip(" ").replace(",", "."))
        return True
    except ValueError:
        return False


def generate(seed: int) -> tuple[list[list], dict[str, int]]:
    """Return (values, predicted audit counts) for ``seed``."""
    rng = random.Random(seed)
    start = date(2024, 1, 7) + timedelta(weeks=rng.randrange(0, 20))
    dates = [start + timedelta(weeks=i) for i in range(N_DATES)]
    styles = ["dmy", "iso", "serial"]
    header_styles = [styles[i % 3] for i in range(N_DATES)]
    rng.shuffle(header_styles)
    header = ["Tag", "Joined", "tgid", "Who"] + [
        _fmt_date(d, s) for d, s in zip(dates, header_styles)
    ]

    rows: list[list] = []
    names: list[str] = []
    for i in range(N_CHORISTERS):
        if i == 0:
            name = OVERRIDE_ROW
        elif i % 9 == 0 and names:
            name = rng.choice(names)  # duplicate name, different join
        else:
            name = f"{rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}"
        names.append(name)
        part = rng.choice(PARTS)
        # every fifth member has left: ex / ex_ / ex- tags in turn
        tag = EX_PREFIXES[(i // 5) % 3] + part if i % 5 == 2 else part
        # Mid-range joins: a third of the members join after the first
        # rehearsal and have blank cells before that.
        join_idx = rng.randrange(1, N_DATES // 2) if i % 3 == 1 else 0
        joined = _fmt_date(dates[join_idx], rng.choice(["dmy", "serial"]))
        tgid = rng.choice(["", f"@user{i}", f"user_{i}"])
        p_attend = rng.uniform(0.3, 0.95)
        cells = [
            _fmt_hours(rng) if j >= join_idx and rng.random() < p_attend else ""
            for j in range(N_DATES)
        ]
        rows.append([tag, joined, tgid, name] + cells)

    # Rows no dimension keeps: blank Tag (with a name), blank Who.
    rows.insert(
        rng.randrange(len(rows)),
        ["", "", "", "Пустой Тег"] + ["1"] * N_DATES,
    )
    rows.insert(
        rng.randrange(len(rows)),
        [rng.choice(PARTS), _fmt_date(dates[0], "dmy"), "", ""] + ["1"] * N_DATES,
    )

    titles = [rng.choice(SONG_TITLES) for _ in range(N_SONGS)]
    titles[-1] = titles[0]  # at least one duplicate title
    for k, t in enumerate(titles):
        cells = []
        for j in range(N_DATES):
            r = rng.random()
            if k == 1 and j == 0:
                cells.append("45,5")
            elif k == 1 and j == 1:
                cells.append(JUNK_CELLS[0])
            elif r < 0.45:
                cells.append("")
            elif r < 0.55:
                cells.append(rng.choice(JUNK_CELLS))
            else:
                cells.append(rng.choice(["15", "20", "30", "45,5", "12.5"]))
        rows.append(["Song", "", "", t] + cells)

    # Ragged rows: the API omits trailing empty cells.
    values = [header]
    for r in rows:
        while r and r[-1] == "":
            r = r[:-1]
        values.append(r)
    return values, predict(values)


def predict(values: list[list]) -> dict[str, int]:
    """Audit row counts a successful run over ``values`` reports, by
    the dimension and fact rules of operators/dims.py and facts.py."""
    header, body = values[0], values[1:]
    n_dates = len(header) - 4

    def cell(row, i):
        return row[i] if i < len(row) else None

    def text(row, i):
        v = cell(row, i)
        return "" if v is None else str(v).strip(" ")

    choristers = [
        r for r in body
        if text(r, 0) not in ("", "Song") and text(r, 3) != ""
    ]
    song_rows = [r for r in body if text(r, 0) == "Song"]
    named_songs = [r for r in song_rows if text(r, 3) != ""]
    assignments = sum(
        2 if _normalized(text(r, 3)) in OVERRIDE_NAMES else 1
        for r in choristers
    )
    # fact_song_time zips the i-th Song row (named or not) with the
    # i-th dim_song row, so only the first len(dim_song) rows count.
    song_cells = sum(
        _parses(cell(r, 4 + j))
        for r in song_rows[: len(named_songs)]
        for j in range(n_dates)
    )
    return {
        "rows_dim_chorister": len(choristers),
        "rows_dim_chorister_assignment": assignments,
        "rows_dim_song": len(named_songs),
        "rows_fact_attendance": len(choristers) * n_dates,
        "rows_fact_song_time": song_cells,
    }


def write_csv(values: list[list], path: str) -> None:
    """The sheet's CSV export: header row first, ragged rows as is."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(values)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    values, counts = generate(args.seed)
    write_csv(values, args.out)
    print(json.dumps(counts))


if __name__ == "__main__":
    main()
