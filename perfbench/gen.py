"""Seeded input generator for the visits-ETL workloads.

Writes ``report_*.txt`` files in the reference layout (FIXTURES.md F-A) and
returns the ground truth the ETL outputs are checked against: per file the
expected ``bitacora`` status and counts, and per email the expected
``visitantes`` row. The engine only ever sees the files; the truth stays in
the benchmark process.

Every valid row's ``Fecha envio`` falls inside the month of ``PROCESS_DATE``
so the merge's year/month counter rules are deterministic, and files get
strictly increasing modification times so a file stream admits them in name
order, the same order the batch driver lists them in.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass, field

from pipeline_etl_website_visits_spark.etl import schema as S

PROCESS_DATE = "2026-03-31"
_YEAR, _MONTH = 2026, 3

ZIPF_S = 1.1  # skew of email draws over the pool
INVALID_SHARE = 0.15  # share of rows with at least one failed check

BAD_EMAILS = ["", "   ", "no-at-sign.com", ".leading@dot.com", "a@b", "a@-bad.com"]
BAD_DATES = ["2026-03-05 14:30", "5/3/2026 9:05", "05/03/2026 24:01", "05/13/2026 10:00"]
DATE_COLS = ["Fecha envio", "Fecha open", "Fecha click"]

# Invalid-row kinds as (bad email?, number of bad dates). The errores rows a
# row yields are the failed checks: email + bad dates.
INVALID_KINDS = [(True, 0), (False, 1), (True, 2), (False, 2), (True, 3)]


@dataclass
class FileTruth:
    """Expected ``bitacora`` outcome of one report file."""

    name: str
    status: str
    valid: int = 0
    invalid: int = 0
    errores: int = 0
    rows: int = 0
    nbytes: int = 0


@dataclass
class Visitor:
    """Expected ``visitantes`` row: (first, last, total, year, month)."""

    first: datetime.date
    last: datetime.date
    total: int
    year: int
    month: int


@dataclass
class Truth:
    """Expected outcome of every file and the expected ``visitantes`` rows."""

    files: dict[str, FileTruth] = field(default_factory=dict)
    visitors: dict[str, Visitor] = field(default_factory=dict)


def email_of(i: int) -> str:
    """Pool member ``i``: valid, unique, mixed case with dots and ``+``."""
    return (f"user{i}@example.com", f"User{i}@Example.com",
            f"user.{i}@mail.example.org", f"user+{i}@example.net")[i % 4]


class EmailSampler:
    """Zipf(``ZIPF_S``) draws over a pool of ``pool`` emails, hot ranks shuffled."""

    def __init__(self, rng: random.Random, pool: int):
        self.rng = rng
        self.ids = list(range(pool))
        rng.shuffle(self.ids)
        weights = [1.0 / (k ** ZIPF_S) for k in range(1, pool + 1)]
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.cum.append(acc)

    def draw(self, n: int) -> list[int]:
        picks = self.rng.choices(range(len(self.ids)), cum_weights=self.cum, k=n)
        return [self.ids[k] for k in picks]


def _date(rng: random.Random) -> tuple[str, datetime.date]:
    d = rng.randint(1, 28)
    return (f"{d:02d}/{_MONTH:02d}/{_YEAR} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}",
            datetime.date(_YEAR, _MONTH, d))


def _row(rng: random.Random, email: str, dates: list[str], valid: bool) -> str:
    # F-A's non-numeric int generator ("x") is for error rows: ints are not
    # validated, and only valid rows are cast.
    opens = rng.choice(["0", str(rng.randint(1, 50))] + ([] if valid else ["x"]))
    cells = [
        email, rng.choice(["-", "t1", "t2"]), rng.choice(["", "-", "b"]), rng.choice(["", "-", "0"]),
        dates[0], dates[1], opens, str(rng.randint(0, 10)), dates[2],
        str(rng.randint(0, 30)), str(rng.randint(0, 5)),
        f"https://example.com/a{rng.randint(0, 999)};https://example.com/b",
        f"10.0.{rng.randint(0, 255)}.{rng.randint(0, 255)}; 10.1.0.1",
        rng.choice(["Chrome", "Firefox", "-"]), rng.choice(["Windows", "Linux", "-"]),
    ]
    return ",".join(cells)


def _write(path: str, lines: list[str], mtime: int) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, (mtime, mtime))
    return len(data)


def random_kinds(rng: random.Random, n_rows: int) -> list:
    """Row kinds for one file: ``None`` for a valid row, else an invalid kind."""
    return [rng.choice(INVALID_KINDS) if rng.random() < INVALID_SHARE else None
            for _ in range(n_rows)]


def _report(rng: random.Random, sampler: EmailSampler, name: str,
            kinds: list) -> tuple[list[str], FileTruth, dict[int, list[datetime.date]]]:
    """One well-formed report: lines, its truth, and valid dates per email id."""
    lines = [",".join(S.VALID_COLUMNS)]
    ft = FileTruth(name, S.STATUS_OK, rows=len(kinds))
    seen: dict[int, list[datetime.date]] = {}
    for eid, kind in zip(sampler.draw(len(kinds)), kinds):
        if kind is not None:
            bad_email, n_bad = kind
            email = rng.choice(BAD_EMAILS) if bad_email else email_of(eid)
            bad_cols = set(rng.sample(DATE_COLS, n_bad))
            dates = [rng.choice(BAD_DATES) if c in bad_cols else _date(rng)[0] for c in DATE_COLS]
            ft.invalid += 1
            ft.errores += int(bad_email) + n_bad
        else:
            envio, day = _date(rng)
            dates = [envio] + [rng.choice(["", _date(rng)[0]]) for _ in DATE_COLS[1:]]
            email = email_of(eid)
            if rng.random() < 0.05:
                email = f" {email} "
            seen.setdefault(eid, []).append(day)
            ft.valid += 1
        lines.append(_row(rng, email, dates, kind is None))
    if ft.errores:
        ft.status = S.STATUS_OK_WITH_ERRORS
    return lines, ft, seen


def _merge(truth: Truth, batch: dict[int, list[datetime.date]]) -> None:
    """Apply one commit unit's valid rows to the expected snapshot, with the
    merge rules of ``operators.merge.visitantes_merge`` at ``PROCESS_DATE``."""
    for eid, days in batch.items():
        key, n, lo, hi = email_of(eid), len(days), min(days), max(days)
        v = truth.visitors.get(key)
        if v is None:
            truth.visitors[key] = Visitor(lo, hi, n, n, n)
            continue
        same_year = v.last.year == _YEAR
        same_month = same_year and v.last.month == _MONTH
        truth.visitors[key] = Visitor(v.first, max(v.last, hi), v.total + n,
                                      v.year + n if same_year else n,
                                      v.month + n if same_month else n)


class Reports:
    """Report files drawn from one email pool, and the truth of every commit
    unit applied so far, in the order the drivers apply them."""

    def __init__(self, seed: int, pool: int, seeded: dict[str, Visitor] | None = None):
        self.rng = random.Random(seed)
        self.sampler = EmailSampler(self.rng, pool)
        self.truth = Truth(visitors=dict(seeded or {}))
        self.mtime = 1_700_000_000

    def _file(self, path: str, lines: list[str], ft: FileTruth) -> None:
        self.mtime += 10
        ft.nbytes = _write(path, lines, self.mtime)
        self.truth.files[ft.name] = ft

    def write(self, out_dir: str, name: str, n_rows: int = 0,
              kinds: list | None = None) -> dict[int, list[datetime.date]]:
        """One well-formed report; returns its valid dates per email id."""
        os.makedirs(out_dir, exist_ok=True)
        if kinds is None:
            kinds = random_kinds(self.rng, n_rows)
        lines, ft, seen = _report(self.rng, self.sampler, name, kinds)
        self._file(os.path.join(out_dir, name), lines, ft)
        return seen

    def batch_day(self, out_dir: str, prefix: str, n_files: int, n_rows: int,
                  planted: bool = False) -> None:
        """Files for the batch driver, each its own commit unit; ``planted``
        adds one file with a bad layout and one with only a header."""
        for i in range(n_files):
            _merge(self.truth, self.write(out_dir, f"{prefix}_{i:03d}.txt", n_rows))
        if not planted:
            os.makedirs(out_dir, exist_ok=True)
            return
        header = [c for c in S.VALID_COLUMNS if c != "Opens"]
        row = ",".join(["user1@example.com"] + ["-"] * (len(header) - 1))
        name = f"{prefix}_{n_files:03d}_badlayout.txt"
        self._file(os.path.join(out_dir, name), [",".join(header)] + [row] * 3,
                   FileTruth(name, S.STATUS_LAYOUT_FAIL, rows=3))
        name = f"{prefix}_{n_files + 1:03d}_empty.txt"
        self._file(os.path.join(out_dir, name), [",".join(S.VALID_COLUMNS)],
                   FileTruth(name, S.STATUS_OK))

    def stream_backlog(self, out_dir: str, prefix: str, n_files: int, n_rows: int,
                       per_trigger: int) -> None:
        """Files for the stream driver, committed ``per_trigger`` at a time."""
        batch: dict[int, list[datetime.date]] = {}
        for i in range(n_files):
            for eid, days in self.write(out_dir, f"{prefix}_{i:03d}.txt", n_rows).items():
                batch.setdefault(eid, []).extend(days)
            if (i + 1) % per_trigger == 0 or i == n_files - 1:
                _merge(self.truth, batch)
                batch = {}


def write_visitors(path: str, visitors: dict[str, Visitor]) -> None:
    """``visitors`` as a parquet file in the ``visitantes`` schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vs = visitors.values()
    pq.write_table(pa.table({
        "email": pa.array(list(visitors), pa.string()),
        "fechaPrimeraVisita": pa.array([v.first for v in vs], pa.date32()),
        "fechaUltimaVisita": pa.array([v.last for v in vs], pa.date32()),
        "visitasTotales": pa.array([v.total for v in vs], pa.int64()),
        "visitasAnioActual": pa.array([v.year for v in vs], pa.int64()),
        "visitasMesActual": pa.array([v.month for v in vs], pa.int64()),
    }), path)


def snapshot(seed: int, pool: int, rows: int) -> dict[str, Visitor]:
    """A ``visitantes`` snapshot of ``rows`` pool emails whose last visits
    fall earlier in the year than ``PROCESS_DATE``."""
    rng = random.Random(seed)
    seeded: dict[str, Visitor] = {}
    for eid in rng.sample(range(pool), rows):
        month = rng.randint(1, 5)
        year = month + rng.randint(0, 10)
        seeded[email_of(eid)] = Visitor(
            datetime.date(2025, rng.randint(1, 12), rng.randint(1, 28)),
            datetime.date(_YEAR, rng.randint(1, _MONTH - 1), rng.randint(1, 28)),
            year + rng.randint(0, 20), year, month)
    return seeded
