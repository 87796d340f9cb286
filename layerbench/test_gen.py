"""The generators are the benchmark's only source of inputs: the same seed
must give byte-identical files, and the truth they return must describe
those files.

    python3 -m pytest layerbench/test_gen.py -q
"""

from __future__ import annotations

import csv
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _series(root, seed: int) -> list[str]:
    """Every kind of input the workloads generate, written under ``root``."""
    rng = random.Random(seed)
    catalog = gen.Catalog.make(rng, 200)
    paths = []
    for i, n in enumerate(gen.ingest_sizes(rng, 6, hi=3_000)):
        p = os.path.join(root, f"h{i}.csv")
        gen.write_hourly_csv(p, rng, catalog, gen.BASE_HOUR, n, unique_ts=i % 2 == 0)
        paths.append(p)
    p = os.path.join(root, "prices.csv")
    gen.write_prices_csv(p, rng, 2, 3)
    paths.append(p)
    return paths


def _read(paths) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    for d in (a, b, c):
        d.mkdir()
    first = _read(_series(str(a), 7))
    assert first == _read(_series(str(b), 7))
    assert first != _read(_series(str(c), 8))


def test_hourly_counts_match_the_file(tmp_path):
    rng = random.Random(3)
    catalog = gen.Catalog.make(rng, 50)
    path = str(tmp_path / "h.csv")
    f = gen.write_hourly_csv(path, rng, catalog, gen.BASE_HOUR, 1_000,
                             unique_ts=True, keep_rows=True)
    good = 0
    with open(path, newline="") as fh:
        for row in csv.reader(fh):
            ok = (len(row) == 5 and all(row) and row[1].isdigit()
                  and row[2].isdigit() and row[4].startswith("2021-03-21T"))
            good += ok
    assert (good, f.n_bad) == (f.n_good, 1_000 - f.n_good)
    assert f.n_bytes == os.path.getsize(path)
    assert len({r[4] for r in f.good_rows}) == f.n_good  # unique times
