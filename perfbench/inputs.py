"""Seeded tenant CSV inputs and the answers expected for them.

Each tenant gets a pool of rendered CSV rows drawn from ``--seed``.
An upload is a distinct seeded selection of pool rows, so every upload
is fresh data while writing it costs only a join of pre-rendered lines.

The expected answers are computed here, apart from the program: money
strings are parsed with ``Decimal`` and the fact formulas of
FIXTURES.md section 3 are applied in plain Python.
"""

from __future__ import annotations

import csv
import io
import random
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal
from math import gcd

# Raw CSV headers, as tenants send them (FIXTURES.md section 1).
HEADERS = {
    "corporate": [
        "Row ID", "Year", "Department Title", "Job Class Title",
        "Employment Type", "Base Pay", "Overtime Pay",
        "Longevity Bonus Pay", "Average Benefit Cost",
    ],
    "education": [
        "last_name", "first_name", "district", "school", "primary_job",
        "fte", "experience_total", "certificate", "salary",
    ],
    "hospital": [
        "Provider Name", "Provider City", "Provider State", "DRG Definition",
        " Total Discharges ", " Average Total Payments ",
        " Average Medicare Payments ",
    ],
}

# One client per industry tenant: (client_id, industry, password).
TENANTS = (
    ("acme_corp", "corporate", "pw-corporate"),
    ("nj_schools", "education", "pw-education"),
    ("st_mary", "hospital", "pw-hospital"),
)

# Fixed per-tenant stream offsets so a tenant's data depends only on
# the seed (``hash()`` of a string is salted per process).
_STREAM = {"corporate": 1, "education": 2, "hospital": 3}

# The ad-hoc query every tenant runs through ``Engine.sql``. Totals are
# whole cents, so a threshold ending in half a cent is never a tie,
# whatever the rounding of the double arithmetic.
SQL_THRESHOLD = Decimal("60000.005")
SQL_QUERY = (
    "SELECT job_title, count(*) AS n, sum(total_amount) AS s FROM fct "
    f"WHERE total_amount > {SQL_THRESHOLD} GROUP BY job_title"
)


def _money(rng: random.Random, cents: int) -> str:
    """Render cents the way payroll exports do: mostly ``$85,432.10``,
    sometimes plain ``85432.10``."""
    whole, frac = divmod(cents, 100)
    if rng.random() < 0.7:
        return f"${whole:,}.{frac:02d}"
    return f"{whole}.{frac:02d}"


def _parse_money(s: str) -> Decimal:
    """Empty -> 0 (the zero-fill of FIXTURES.md section 5)."""
    s = s.replace("$", "").replace(",", "")
    return Decimal(s) if s else Decimal(0)


def _titles(
    rng: random.Random, prefix: str, n: int, commas: bool
) -> tuple[list[str], list[float]]:
    """``n`` job titles with Zipf-like weights, so a report has a few
    big groups and a long tail. ``commas`` puts a comma in every third
    title, as in Medicare DRG names, so the CSV carries quoted fields."""
    titles = [
        f"{prefix} {rng.choice('ABCDEFGH')}{i:03d}"
        + (", W MCC" if commas and i % 3 == 0 else "")
        for i in range(n)
    ]
    return titles, [1.0 / (i + 1) ** 0.8 for i in range(n)]


def _corporate_row(rng, i, titles, weights):
    base = rng.randrange(2_000_000, 15_000_000)
    over = None if rng.random() < 0.2 else rng.randrange(0, 3_000_000)
    longev = None if rng.random() < 0.6 else rng.randrange(0, 300_000)
    benefit = None if rng.random() < 0.1 else rng.randrange(500_000, 3_000_000)
    return [
        str(100000 + i), str(rng.randrange(2013, 2017)),
        f"Department {rng.randrange(25):02d}",
        rng.choices(titles, weights)[0],
        rng.choice(("Full Time", "Part Time", "Per Event")),
        _money(rng, base),
        "" if over is None else _money(rng, over),
        "" if longev is None else _money(rng, longev),
        "" if benefit is None else _money(rng, benefit),
    ]


def _education_row(rng, i, titles, weights):
    return [
        f"Last{rng.randrange(5000)}", f"First{rng.randrange(800)}",
        f"District {rng.randrange(40):02d}", f"School {rng.randrange(300):03d}",
        rng.choices(titles, weights)[0],
        "" if rng.random() < 0.2 else rng.choice(("1.0", "0.5", "0.8", "0.99")),
        "" if rng.random() < 0.1 else str(rng.randrange(0, 36)),
        rng.choice(("Standard", "Provisional", "Emergency")),
        "" if rng.random() < 0.05 else str(rng.randrange(40_000, 120_001)),
    ]


def _hospital_row(rng, i, titles, weights):
    total = rng.randrange(300_000, 5_000_000)
    medicare = rng.randrange(total // 2, total)
    return [
        f"Provider {rng.randrange(900):03d} Medical Center",
        f"City {rng.randrange(200):03d}", rng.choice(("CA", "NY", "TX", "FL", "NJ")),
        rng.choices(titles, weights)[0],
        str(rng.randrange(11, 501)),
        f"{total // 100}.{total % 100:02d}",
        f"{medicare // 100}.{medicare % 100:02d}",
    ]


def total_amount(industry: str, row: list[str]) -> Decimal:
    """The fact table's ``total_amount`` for one raw row (FIXTURES.md
    section 3)."""
    if industry == "corporate":
        return sum((_parse_money(v) for v in row[5:9]), Decimal(0))
    if industry == "education":
        salary = Decimal(row[8]) if row[8] else Decimal(0)
        years = Decimal(row[6]) if row[6] else Decimal(0)
        bonus = salary * Decimal("0.05") if years > 15 else Decimal(0)
        return salary + bonus
    return Decimal(row[4]) * Decimal(row[5])


@dataclass
class Expected:
    """What the program must answer for one upload."""

    rows: int
    headcount: Counter
    totals: dict[str, Decimal]
    sql: dict[str, tuple[int, Decimal]]

    @property
    def total(self) -> Decimal:
        return sum(self.totals.values(), Decimal(0))


@dataclass
class TenantPool:
    """Pre-rendered CSV lines of one tenant with each line's answer."""

    client_id: str
    industry: str
    password: str
    rng: random.Random
    lines: list[str] = field(default_factory=list)
    titles: list[str] = field(default_factory=list)
    amounts: list[Decimal] = field(default_factory=list)
    steps: list[int] = field(default_factory=list)

    def upload(self, path: str, n: int) -> Expected:
        """Write a fresh upload of ``n`` distinct pool rows to ``path``
        and return its expected answers."""
        size = len(self.lines)
        if not 0 < n <= size:
            raise ValueError(f"upload of {n} rows from a pool of {size}")
        start = self.rng.randrange(size)
        step = self.rng.choice(self.steps)
        idx = [(start + k * step) % size for k in range(n)]
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(self.header)
            f.write("".join(self.lines[i] for i in idx))
        headcount: Counter = Counter()
        totals: dict[str, Decimal] = {}
        sql: dict[str, tuple[int, Decimal]] = {}
        for i in idx:
            t, amt = self.titles[i], self.amounts[i]
            headcount[t] += 1
            totals[t] = totals.get(t, Decimal(0)) + amt
            if amt > SQL_THRESHOLD:
                c, s = sql.get(t, (0, Decimal(0)))
                sql[t] = (c + 1, s + amt)
        return Expected(n, headcount, totals, sql)

    @property
    def header(self) -> str:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerow(HEADERS[self.industry])
        return buf.getvalue()


_MAKERS = {
    "corporate": (_corporate_row, "Job Class", 90, 3, False),
    "education": (_education_row, "Teacher", 60, 4, False),
    "hospital": (_hospital_row, "DRG", 120, 3, True),
}


def make_pools(seed: int, pool_rows: int) -> list[TenantPool]:
    """One pool of ``pool_rows`` rows per tenant, a pure function of
    ``seed``."""
    # strides coprime to the pool size visit distinct rows
    steps = [s for s in range(1, 200) if gcd(s, pool_rows) == 1]
    pools = []
    for client_id, industry, password in TENANTS:
        rng = random.Random(seed * 1_000_003 + _STREAM[industry])
        make, prefix, n_titles, title_col, commas = _MAKERS[industry]
        titles, weights = _titles(rng, prefix, n_titles, commas)
        pool = TenantPool(client_id, industry, password, rng, steps=steps)
        buf = io.StringIO()
        writer = csv.writer(buf, lineterminator="\n")
        for i in range(pool_rows):
            row = make(rng, i, titles, weights)
            buf.seek(0)
            buf.truncate()
            writer.writerow(row)
            pool.lines.append(buf.getvalue())
            pool.titles.append(row[title_col])
            pool.amounts.append(total_amount(industry, row))
        pools.append(pool)
    return pools
