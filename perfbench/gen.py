"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the dashboard's ``events``
table and the CronJob's wide habit-sheet drops, together with the drops'
final-state model that the correctness gate compares the warehouse
against. Nothing touches Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EVENTS_START = dt.datetime(2024, 1, 1)  # the panels' hard-coded ranges sit in January 2024
EVENTS_DAYS = 30


def write_events(out_dir: str, n_rows: int, seed: int, n_files: int) -> int:
    """Write ``events`` (the schema of the repository's test fixture) as a
    directory of ``n_files`` parquet files, ts-ordered like an append-only
    log. Returns the bytes written."""
    rng = np.random.default_rng(seed)
    span_us = EVENTS_DAYS * 86_400_000_000
    start_us = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_rows)) + start_us
    n_users = max(10, n_rows * 3 // 200)
    table = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_rows)]),
    })
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return sum(e.stat().st_size for e in os.scandir(path))


# Wide sheet columns of examples/habits.yml: header -> (habit id, type).
HABITS = {
    "Sleep (Number of hours)": ("sleep_hours", "number"),
    "Nutrition": ("nutrition_score", "number"),
    "Mood": ("mood_score", "number"),
    "Meditation (Number of Minutes)": ("meditation_minutes", "number"),
    "Workout": ("workout", "bool"),
    "Water (How many litres?)": ("water_liters", "number"),
    "Skin Care": ("skin_care", "bool"),
    "How authentically did you live this day?": ("authenticity_score", "number"),
}
HEADER = ["Timestamp", "Email Address", "Report Date", *HABITS, "Notes"]
PIPELINE_CONFIG = {
    "timezone": "America/Chicago",
    "email_column": "Email Address",
    "date_column": "Report Date",
    "habits": {col: {"id": hid, "type": typ} for col, (hid, typ) in HABITS.items()},
    "notes_columns": ["Notes"],
    "source": "sheets",
}
TRUTHY = {"yes", "true", "1", "y", "t", "on"}
FEED_START = dt.date(2025, 1, 1)
LATE_WINDOW = 7  # days back a late edit may reach
LATE_SHARE = 0.2  # users who edit an earlier day in a drop
NOTES = ("slept badly", "long run", "rest day", "travel", "felt great", "busy at work")


def report_day(cell: str) -> dt.date:
    if "/" in cell:
        m, d, y = cell.split("/")
        return dt.date(int(y), int(m), int(d))
    return dt.date.fromisoformat(cell)


def _coerce(cell: str, typ: str) -> float | None:
    """The value a cell becomes, or None when it produces no event."""
    if not cell.strip():
        return None
    if typ == "bool":
        return 1.0 if cell.strip().lower() in TRUTHY else 0.0
    try:
        return float(cell)
    except ValueError:
        return None


def count_events(rows: list[list[str]]) -> int:
    """Events the rows normalize to: one per non-blank, parseable cell."""
    return sum(_coerce(cell, typ) is not None
               for row in rows for cell, (_, typ) in zip(row[3:-1], HABITS.values()))


class HabitFeed:
    """The form-response sheet as a sequence of CSV drops, one per cron
    cycle. Each drop holds ``days`` new report days of ``users`` users,
    late edits of the LATE_WINDOW days before them and a few verbatim
    re-submissions. Blank cells and unparseable numbers are part of the
    input, as on a real sheet.

    ``model`` is the final state the warehouse must reach:
    (email, habit, day) -> (value, notes), last write wins, blank or
    unparseable cells leave the old value, and a blank note keeps the old
    note."""

    def __init__(self, seed: int, users: int, days: int):
        self.rng = random.Random(seed)
        self.users = [f"user{u:04d}@example.com" for u in range(users)]
        self.days = days
        self.cycle = 0
        self.model: dict[tuple[str, str, dt.date], tuple[float, str | None]] = {}
        self.sent: list[list[str]] = []  # earlier rows, for verbatim re-submissions

    def _cell(self, typ: str, col: str) -> str:
        r = self.rng.random()
        if r < 0.08:
            return ""
        if typ == "bool":
            return self.rng.choice(("Yes", "No", "yes", "no", "TRUE", "false"))
        if r < 0.10:
            return "n/a"
        if col.startswith("Sleep"):
            return str(self.rng.randrange(8, 21) / 2)
        if col.startswith("Meditation"):
            return str(self.rng.randrange(0, 61))
        if col.startswith("Water"):
            return str(self.rng.randrange(1, 9) / 2)
        return str(self.rng.randrange(1, 11))

    def _row(self, user: str, day: dt.date, partial: bool) -> list[str]:
        rng = self.rng
        email = user.upper() if rng.random() < 0.1 else user
        if rng.random() < 0.1:
            email = f"  {email} "
        date = f"{day.month}/{day.day}/{day.year}" if rng.random() < 0.5 else day.isoformat()
        cells = [
            "" if partial and rng.random() < 0.6 else self._cell(typ, col)
            for col, (_, typ) in HABITS.items()
        ]
        note = rng.choice(NOTES) if rng.random() < 0.3 else ""
        return [f"{self.last_day.isoformat()} 21:{self.cycle % 60:02d}:00", email, date, *cells, note]

    def _apply(self, row: list[str]) -> None:
        email = row[1].strip().lower()
        day = report_day(row[2])
        note = f"Notes: {row[-1]}" if row[-1].strip() else None
        for cell, (hid, typ) in zip(row[3:-1], HABITS.values()):
            value = _coerce(cell, typ)
            if value is None:
                continue
            old = self.model.get((email, hid, day))
            keep = note if note is not None else (old[1] if old else None)
            self.model[(email, hid, day)] = (value, keep)

    def next_drop(self) -> list[list[str]]:
        """Rows of the next drop, in file order; updates ``model``."""
        rng = self.rng
        first = FEED_START + dt.timedelta(days=self.cycle * self.days)
        self.last_day = first + dt.timedelta(days=self.days - 1)
        rows = []
        for user in self.users:
            for d in range(self.days):
                if rng.random() < 0.9:
                    rows.append(self._row(user, first + dt.timedelta(days=d), False))
            if self.cycle and rng.random() < LATE_SHARE:
                back = rng.randrange(1, min(LATE_WINDOW, self.cycle * self.days) + 1)
                rows.append(self._row(user, first - dt.timedelta(days=back), True))
        if self.sent:
            rows.extend(rng.sample(self.sent, min(len(self.sent), max(1, len(rows) // 50))))
        # one row per (user, day) in a drop: the in-file order tie-break
        # is the pipeline's business, not the benchmark's
        seen, unique = set(), []
        for row in rows:
            key = (row[1].strip().lower(), report_day(row[2]))
            if key not in seen:
                seen.add(key)
                unique.append(row)
        for row in unique:
            self._apply(row)
        self.sent.extend(unique)
        self.cycle += 1
        return unique

    def write_drop(self, path: str, rows: list[list[str]]) -> int:
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            w.writerows(rows)
        return os.path.getsize(path)
