"""The airline generator covers every FIXTURES.md edge case, for any seed.

Run: python3 -m pytest perfbench/tests/test_gen.py -q (no Spark needed).
"""

from __future__ import annotations

import csv
import os
import sys
from collections import Counter, defaultdict

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import airline  # noqa: E402
import gen  # noqa: E402

RUN_YEAR = 2026


def _rows(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.reader(f, delimiter="|", quotechar='"'))


@pytest.fixture(scope="module", params=[1, 2, 3])
def tables(request, tmp_path_factory):
    out = tmp_path_factory.mktemp(f"csv{request.param}")
    paths = gen.write_airline_csvs(str(out), request.param, **airline.SIZES)
    raw = {t: open(p, encoding="utf-8").read() for t, p in paths.items()}
    return {t: _rows(p) for t, p in paths.items()}, raw


def test_same_seed_same_bytes(tmp_path):
    a = gen.write_airline_csvs(str(tmp_path / "a"), 7, 2_040, 200, 100)
    b = gen.write_airline_csvs(str(tmp_path / "b"), 7, 2_040, 200, 100)
    for t in a:
        assert open(a[t], "rb").read() == open(b[t], "rb").read()


def test_passenger_edge_cases(tables):
    rows, raw = tables
    pas = rows["pasajero"]
    assert all(len(r) == 6 for r in pas)
    phones = [r[4] for r in pas]
    assert any(p.startswith("+") and p[1:].isdigit() for p in phones)
    assert any(not p.lstrip("+").isdigit() for p in phones)
    births = [r[5] for r in pas]
    assert "" in births
    ages = [RUN_YEAR - int(b[:4]) for b in births if b]
    assert min(ages) < 14 and max(ages) > 60 and any(14 <= a <= 60 for a in ages)
    assert any("," in r[3] for r in pas)  # parsed back from a quoted field
    assert any(line.count('"') == 2 for line in raw["pasajero"].splitlines())
    assert any(" " not in r[1] for r in pas)  # one-token names
    assert len({r[0] for r in pas}) == len(pas)  # dni is a key


def test_flight_and_sale_edge_cases(tables):
    rows, _ = tables
    vue, ven, pas = rows["vuelo"], rows["venta"], rows["pasajero"]
    crews = defaultdict(set)
    for r in vue:
        crews[r[4]].add(r[2])
    assert any(len(c) >= 2 for c in crews.values())  # duplicated cod_vuelo, differing crews
    dnis = {r[0] for r in pas}
    aviones = {r[0] for r in vue}
    assert any(r[3] not in dnis for r in ven)  # orphan dni
    assert any(r[1] not in aviones for r in ven)  # orphan cod_avion
    assert any(r[5] == "CANCELACION" and r[4].startswith("-") for r in ven)
    per_avion = Counter(r[1] for r in ven if r[1] in aviones)
    counts = sorted(per_avion.values())
    assert 10 in counts and 30 in counts  # quota rounding at the half
    assert sum(c >= 20 for c in counts) >= len(counts) - 1
    # fecha_compra unique, so (cod_vuelo, fecha_compra, dni) is unique
    assert len({r[7] for r in ven}) == len(ven)
