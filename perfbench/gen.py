"""Seeded input generators and the pure-Python reference models.

Everything here is deterministic in ``seed`` (string-seeded ``random``,
which does not depend on hash randomisation) and runs without Spark, so the
benchmark's own tests can check it alone.

Posts follow the reference fixture's shape: a dropped preamble, then 5-7
weekday blocks. A training day opens with ``<Weekday> (Session <n>)``,
which is both the day marker and segment 1. It carries a warm-up and 2-5
lettered segments. A rest day is a bare ``<Weekday> (Rest Day)`` line.
Body text carries the HTML entities the stripper decodes. Body lines never
match a day or segment marker, so every day block yields exactly one record.

The CDC table is 32 key-clustered files. Key ``k`` is present at build iff
``k % 10 < 5``, so ``k % 10 >= 5`` keys are free for inserts. Base values
are a pure function of (seed, k), so the model stores only the keys the
change batches touched.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# ---------------------------------------------------------------- posts

POSTS_PER_BATCH = 40
POSTS_PER_PAGE = 10
PAGES_PER_BATCH = POSTS_PER_BATCH // POSTS_PER_PAGE

WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
ORDINALS = ["One", "Two", "Three", "Four", "Five", "Six", "Seven"]
LETTERS = ["A.", "B.", "C.", "D.", "E."]
# no weekday names, no 'session', no 'warm-up': body lines must not mark
MOVES = [
    "Snatch", "Clean &amp; Jerk", "Power Clean", "Back Squat", "Front Squat",
    "Snatch Pull", "Push Press", "Romanian Deadlift", "Overhead Squat",
    "Snatch Balance", "Hang Snatch", "Split Jerk", "Good Morning",
]
SCHEMES = [
    "Every 2 minutes, for 16 minutes (8 sets):",
    "Every 90 seconds, for 6 minutes (4 sets):",
    "Build to a heavy single &#8211; then 2 x 2 at 90%",
    "3 Rounds &#8211; 10 Air Squats + 10 Push-Ups",
    "5 x 5 @ 75% &#8211; rest 2:00 between sets",
    "Coach&#8217;s note: &quot;move fast under the bar&quot;",
]
FIRST_MONDAY = dt.date(2015, 1, 5)
# a batch holds recent posts: their weeks trail the batch's own week by up
# to SPREAD_WEEKS - 1, so every batch touches SPREAD_WEEKS weeks
SPREAD_WEEKS = 3
MONTH_NAMES = [
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
]
FILLER = (
    "<p>Program notes &#8211; read before training. Scale loads to the "
    "day&#8217;s readiness; record every top set &amp; note bar speed. "
    "Questions go to the coaching thread &#8230;</p>\n"
)


def _rng(seed: int, *parts) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


def _body_line(rng: random.Random) -> str:
    return (
        f"{rng.choice(MOVES)} &#8211; {rng.choice(SCHEMES)} "
        f"{rng.randint(55, 95)}% x {rng.randint(1, 5)} reps, tempo {rng.randint(10, 40)}X1"
    )


def post_batch(seed: int, batch_no: int) -> tuple[list[dict], list[tuple[int, str, str]]]:
    """One batch of raw WordPress posts and the records the pipeline must
    produce from them: ``(post_id, date, session)`` per day block."""
    rng = _rng(seed, "posts", batch_no)
    week0 = _rng(seed, "weeks").randrange(300) + batch_no
    posts, expected = [], []
    for i in range(POSTS_PER_BATCH):
        post_id = batch_no * 1000 + i + 1
        monday = FIRST_MONDAY + dt.timedelta(weeks=week0 - rng.randrange(SPREAD_WEEKS))
        sunday = monday - dt.timedelta(days=1)
        mname = MONTH_NAMES[monday.month - 1]
        d2 = min(monday.day + 5, 28)
        slug = f"{mname}-{monday.day}-{d2}-{monday.year}-weightlifting-program-{post_id}"
        title = f"{mname.title()} {monday.day}-{d2}, {monday.year} &#8211; Weightlifting Program"
        html = [FILLER * 4]
        n_days = rng.randint(5, 7)
        for d in range(n_days):
            day = WEEKDAYS[d]
            date = (sunday + dt.timedelta(days=d + 1)).isoformat()
            if d > 0 and rng.random() < 0.2:
                html.append(f"<p>{day} (Rest Day)</p>\n")
                expected.append((post_id, date, "rest day"))
                continue
            marker = f"{day} (Session {ORDINALS[d]})"
            expected.append((post_id, date, marker))
            html.append(f"<p><strong>{marker}</strong><br />\nSuggested Warm-Up<br />\n")
            html.append("<br />\n".join(_body_line(rng) for _ in range(3)) + "</p>\n")
            for letter in LETTERS[: rng.randint(2, 5)]:
                lines = [_body_line(rng) for _ in range(rng.randint(3, 6))]
                html.append(f"<p>{letter}<br />\n" + "<br />\n".join(lines) + "</p>\n")
        posts.append(
            {
                "id": post_id,
                "date": f"{sunday.isoformat()}T17:00:00",
                "slug": slug,
                "title": {"rendered": title},
                "content": {"rendered": "".join(html), "protected": False},
                "link": f"https://example.invalid/{slug}/",
                "categories": [213],
                "yoast_head": FILLER,
            }
        )
    return posts, expected


def weeks(expected: list[tuple[int, str, str]]) -> list[str]:
    """The Monday-based weeks (ISO dates) the records fall in."""
    days = {dt.date.fromisoformat(d) for _, d, _ in expected}
    return sorted({(d - dt.timedelta(days=d.weekday())).isoformat() for d in days})


def write_pages(pages_dir: str, seed: int, batch_no: int) -> tuple[int, list]:
    """Write a batch as ``page-<n>.json`` files; return its first page
    number and the expected records."""
    posts, expected = post_batch(seed, batch_no)
    first = batch_no * PAGES_PER_BATCH + 1
    for p in range(PAGES_PER_BATCH):
        chunk = posts[p * POSTS_PER_PAGE : (p + 1) * POSTS_PER_PAGE]
        with open(os.path.join(pages_dir, f"page-{first + p}.json"), "w") as f:
            json.dump(chunk, f)
    return first, expected


# ---------------------------------------------------------------- CDC

CDC_FILES = 32
CDC_SPAN = 62_500  # keys per file; half of them present
CDC_WINDOW = 16_000  # keys per change batch: ~5k change rows
CDC_MARGIN = 1_000
CDC_SLOTS = (CDC_SPAN - 2 * CDC_MARGIN) // CDC_WINDOW
STATUSES = ("F", "O", "P")


def base_row(seed: int, k: int) -> tuple[str, float]:
    """(status, val) of key ``k`` in the freshly built table."""
    h = (k * 2_654_435_761 + (seed % 1_000_003) * 97_531) % 1_000_003
    return STATUSES[h % 3], h / 100.0


def base_columns(seed: int, f: int):
    """Columns of base file ``f`` as numpy arrays: keys in
    ``[f * CDC_SPAN, (f + 1) * CDC_SPAN)`` with ``k % 10 < 5``."""
    import numpy as np

    k = np.arange(f * CDC_SPAN, (f + 1) * CDC_SPAN, dtype=np.int64)
    k = k[k % 10 < 5]
    h = (k * 2_654_435_761 + (seed % 1_000_003) * 97_531) % 1_000_003
    status = np.array(STATUSES, dtype=object)[h % 3]
    return k, status, h / 100.0


def window(seed: int, op_no: int) -> tuple[int, int]:
    """Closed key interval of change batch ``op_no``: a fresh slot inside
    one file, away from its edges, so each batch targets exactly one file
    and no two batches share keys."""
    files = list(range(CDC_FILES))
    _rng(seed, "files").shuffle(files)
    if op_no >= CDC_FILES * CDC_SLOTS:
        raise ValueError(f"op {op_no}: only {CDC_FILES * CDC_SLOTS} windows")
    f, slot = files[op_no % CDC_FILES], op_no // CDC_FILES
    lo = f * CDC_SPAN + CDC_MARGIN + slot * CDC_WINDOW
    return lo, lo + CDC_WINDOW - 1


def change_batch(seed: int, op_no: int) -> list[tuple]:
    """Rows ``(k, op, seq, status, val)`` of change batch ``op_no``, in
    q_cdc_apply's mix over the batch's window: update every 3rd present
    key, delete every 21st (the delete's higher seq wins over an update),
    insert every 4th free key, plus 1% NULL keys and 1% same-seq repeats
    of updates with another value."""
    rng = _rng(seed, "cdc", op_no)
    lo, hi = window(seed, op_no)
    seq = (op_no + 1) * 10
    rows = []
    for k in range(lo, hi + 1):
        if k % 10 < 5:
            if k % 3 == 0:
                rows.append((k, "U", seq + 1, rng.choice(STATUSES), round(rng.uniform(0, 10_000), 2)))
            if k % 21 == 0:
                rows.append((k, "D", seq + 2, None, None))
        elif k % 4 == 1:
            rows.append((k, "U", seq + 3, rng.choice(STATUSES), round(rng.uniform(0, 10_000), 2)))
    n = len(rows)
    updates = [r for r in rows if r[1] == "U"]
    for _ in range(n // 100):
        k, op, s, status, val = rng.choice(updates)
        rows.append((k, op, s, status, round(val + rng.uniform(1, 100), 2)))
    for _ in range(n // 100):
        rows.append((None, "U", seq + 1, rng.choice(STATUSES), round(rng.uniform(0, 10_000), 2)))
    rng.shuffle(rows)
    return rows


class CdcModel:
    """The table ``make_cdc_apply`` maintains, in plain Python: key →
    (status, val). SQL NULL keys never match and are dropped; a batch
    collapses to the last change per key by seq, ties broken by the other
    columns descending with NULLs last; a delete of an absent key deletes
    nothing."""

    def __init__(self, seed: int):
        self.seed = seed
        self.changed: dict[int, tuple | None] = {}

    def get(self, k: int):
        if k in self.changed:
            return self.changed[k]
        return base_row(self.seed, k) if k % 10 < 5 else None

    @staticmethod
    def _desc_key(row):
        # Spark's DESC puts NULLs last: rank NULL below every value
        _, op, seq, status, val = row
        return (seq, [(v is not None, v if v is not None else 0) for v in (op, status, val)])

    def apply(self, rows: list[tuple]) -> tuple[dict, int]:
        """Apply a change batch; return (merge stats, NULL-key rows dropped)."""
        winners: dict[int, tuple] = {}
        n_null = 0
        for r in rows:
            if r[0] is None:
                n_null += 1
            elif r[0] not in winners or self._desc_key(r) > self._desc_key(winners[r[0]]):
                winners[r[0]] = r
        stats = {"matched": 0, "inserted": 0, "deleted": 0, "dup_target_rows_collapsed": 0}
        for k, (_, op, _, status, val) in winners.items():
            present = self.get(k) is not None
            if op == "D":
                stats["deleted"] += present
                self.changed[k] = None
            else:
                stats["matched" if present else "inserted"] += 1
                self.changed[k] = (status, val)
        return stats, n_null

    def rows_in(self, lo: int, hi: int) -> dict[int, tuple]:
        out = {}
        for k in range(lo, hi + 1):
            v = self.get(k)
            if v is not None:
                out[k] = v
        return out
