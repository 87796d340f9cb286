"""Seeded input generators for the layer benchmark.

Everything the program under test reads is written here, from one
``random.Random`` per input, so the same seed gives byte-identical files.
The generators also return the truth the output checks compare against:
good and bad row counts and the good rows themselves.

Purchase rows follow the reference export format: headerless CSV,
``email,item_id,quantity,price,purchase_date`` with an ISO timestamp,
sorted by time, one file per hour.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

#: First hour of every generated purchase series (the reference fixtures' day).
BASE_HOUR = dt.datetime(2021, 3, 21)
TS_FORMAT = "%Y-%m-%dT%H:%M:%S"

#: Item ids and the per-item price range of the reference generator.
ITEMS = range(100, 501)

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi)))


def buyer_of(email: str) -> str:
    """The pipeline's anonymized buyer id: SHA-1 hex of the UTF-8 email."""
    return hashlib.sha1(email.encode()).hexdigest()


@dataclass
class Catalog:
    """Buyers and the consistent item -> price map shared by a series."""

    emails: list[str]
    prices: dict[int, int]

    @classmethod
    def make(cls, rng: random.Random, n_buyers: int) -> "Catalog":
        emails = sorted(
            {f"{_word(rng, 4, 9)}.{_word(rng, 3, 8)}@example.com"
             for _ in range(n_buyers)}
        )
        prices = {item: rng.randint(1, 200) for item in ITEMS}
        return cls(emails, prices)


@dataclass
class CsvFile:
    path: str
    hour: dt.datetime
    n_good: int
    n_bad: int
    n_bytes: int
    #: (email, item_id, quantity, price, purchase_date) of the good rows,
    #: kept only when the caller asks for them.
    good_rows: list[tuple] = field(default_factory=list)


def _bad_line(rng: random.Random, kind: int, email: str, ts: str) -> str:
    """One malformed line of a kind the pipeline must quarantine: wrong
    arity, non-integer id, unparseable timestamp, empty quantity."""
    if kind == 0:
        return f"{email},{rng.randint(100, 500)},{rng.randint(1, 10)}"
    if kind == 1:
        return f"{email},notanint,{rng.randint(1, 10)},{rng.randint(1, 200)},{ts}"
    if kind == 2:
        return f"{email},{rng.randint(100, 500)},2,100,21/03/2021 10:00"
    return f"{email},{rng.randint(100, 500)},,{rng.randint(1, 200)},{ts}"


def write_hourly_csv(
    path: str,
    rng: random.Random,
    catalog: Catalog,
    hour: dt.datetime,
    n_rows: int,
    bad_share: float = 0.01,
    unique_ts: bool = False,
    keep_rows: bool = False,
) -> CsvFile:
    """Write one hourly export of ``n_rows`` lines, about ``bad_share`` of
    them malformed. ``unique_ts`` draws distinct seconds (at most 3600
    rows), so that every ordering by time is total."""
    n_bad = max(1, round(n_rows * bad_share))
    n_good = n_rows - n_bad
    if unique_ts:
        seconds = sorted(rng.sample(range(3600), n_good))
    else:
        seconds = sorted(rng.randrange(3600) for _ in range(n_good))
    prefix = hour.strftime("%Y-%m-%dT%H:")
    lines, good = [], []
    for sec in seconds:
        item = rng.choice(ITEMS)
        email, qty = rng.choice(catalog.emails), rng.randint(1, 10)
        price = catalog.prices[item]
        lines.append(f"{email},{item},{qty},{price},{prefix}{sec // 60:02d}:{sec % 60:02d}")
        if keep_rows:
            good.append((email, item, qty, price, hour + dt.timedelta(seconds=sec)))
    for k in range(n_bad):
        pos = rng.randint(0, len(lines))
        ts = (hour + dt.timedelta(seconds=rng.randrange(3600))).strftime(TS_FORMAT)
        lines.insert(pos, _bad_line(rng, k % 4, rng.choice(catalog.emails), ts))
    data = ("\n".join(lines) + "\n").encode()
    _write_atomic(path, data)
    return CsvFile(path, hour, n_good, n_bad, len(data), good)


def _write_atomic(path: str, data: bytes) -> None:
    """Write under a dot-name, then rename: file sources skip dot-files,
    so a reader never sees a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def ingest_sizes(rng: random.Random, k: int, lo: int = 300, hi: int = 100_000) -> list[int]:
    """``k`` file sizes log-uniform on [lo, hi]: the midpoints of ``k``
    equal strata of the log range, in seeded order. Every round of ``k``
    files has the same size mix, so rows per second compares across
    seeds; the seed changes the order and the rows."""
    sizes = [round(lo * (hi / lo) ** ((i + 0.5) / k)) for i in range(k)]
    rng.shuffle(sizes)
    return sizes


def write_prices_csv(
    path: str, rng: random.Random, n_days: int, updates_per_day: int
) -> None:
    """Per-item list-price updates at distinct seconds: rows
    ``(price_ts, item_id, list_price)``, written headerless and sorted by
    time."""
    rows = []
    span = n_days * 86_400
    for item in ITEMS:
        for sec in rng.sample(range(span), n_days * updates_per_day):
            rows.append((BASE_HOUR + dt.timedelta(seconds=sec), item,
                         rng.randint(1, 200)))
    rows.sort()
    data = "".join(f"{t.strftime(TS_FORMAT)},{i},{p}\n" for t, i, p in rows)
    _write_atomic(path, data.encode())
