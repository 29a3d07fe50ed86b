"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments:
the same seed gives byte-identical files. The engine never sees the
seed, only the files written here.

- :func:`write_airline_csvs` writes the reference's three pipe-CSV
  inputs (``pasajero``, ``vuelo``, ``venta``) with every edge case
  FIXTURES.md lists.
- :func:`write_star_tables` writes the parquet tables the query mix
  reads (``lineitem``, ``orders``, ``customer``, ``documents``), shaped
  like the TPC-H-ish test data: same schemas, value ranges, row ratios
  and document construction. calibrate.py compares them with a test
  data directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Birth years span ages 6..96 against any run date in 2026..2040, so
# every run sees ages <14, 14-60 and >60.
_BIRTH_YEARS = (1930, 2020)
_FIRST = ("Ana", "Luis", "Marta", "Jose", "Camila", "Pedro", "Sofia", "Diego",
          "Valentina", "Tomas", "Ignacia", "Rodrigo")
_LAST = ("Perez", "Gonzalez", "Munoz", "Rojas", "Diaz", "Soto", "Contreras",
         "Silva", "Martinez", "Sepulveda", "Morales", "Araya", "Alarcon")
_STREETS = ("Av. Providencia", "Los Leones", "Gran Avenida", "Irarrazaval",
            "Pajaritos", "Vicuna Mackenna")
_CITIES = ("Santiago", "Valparaiso", "Concepcion", "La Serena", "Temuco")
_WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch")
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _hms(secs: np.ndarray) -> list[str]:
    return [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs]


def _write_rows(path: str, columns: list) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for row in zip(*columns):
            f.write("|".join(row))
            f.write("\n")


def _passenger_names(rng: np.random.Generator, n: int) -> list[str]:
    """Mostly 2-3 token names; 5% one-token names and 10% surnames that
    repeat their first letter (obfuscation keeps every occurrence)."""
    kind = rng.random(n)
    first = _pick(rng, _FIRST, n)
    last1 = _pick(rng, _LAST, n)
    last2 = _pick(rng, _LAST, n)
    out = []
    for k, f, a, b in zip(kind, first, last1, last2):
        if k < 0.05:
            out.append(f)
        elif k < 0.15:
            out.append(f"{f} {a} {a[0]}{a.lower()}")
        elif k < 0.55:
            out.append(f"{f} {a}")
        else:
            out.append(f"{f} {a} {b}")
    return out


def write_airline_csvs(
    out_dir: str, seed: int, n_venta: int, n_pasajero: int, n_vuelo: int
) -> dict[str, str]:
    """Write ``pasajero.csv``, ``vuelo.csv`` and ``venta.csv`` (pipe
    separated, no header) under ``out_dir``; return {table: path}.

    Edge cases, each present for any seed at the sizes the benchmark
    uses: ``+``-prefixed and non-numeric phones; empty birthdates and
    ages <14, 14-60, >60; quoted addresses with commas; venta rows
    with an orphan ``dni`` or an orphan ``cod_avion``; negative
    CANCELACION amounts; duplicated ``cod_vuelo`` with differing
    ``cod_tripulacion``; one-token names; >= 20 sales per flight, plus
    two flights with exactly 10 and 30 sales (quota rounding at the
    half). Every ``fecha_compra`` is distinct, so ``(cod_vuelo,
    fecha_compra, dni)`` is unique and the compensation rank is a
    total order.
    """
    if n_venta < 20 * n_vuelo + 40:
        raise ValueError("need >= 20 sales per flight: raise n_venta or lower n_vuelo")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # -- pasajero ----------------------------------------------------------
    ids = np.arange(n_pasajero)
    dni = [f"{10_000_000 + 37 * int(i):08d}-{int(i) % 10}" for i in ids]
    names = _passenger_names(rng, n_pasajero)
    mail = [f"pasajero{int(i)}@correo.cl" for i in ids]
    street = _pick(rng, _STREETS, n_pasajero)
    city = _pick(rng, _CITIES, n_pasajero)
    num = rng.integers(1, 9999, n_pasajero)
    quoted = rng.random(n_pasajero) < 0.5
    addr = [
        f'"{s} {k}, depto {k % 97}, {c}"' if q else f"{s} {k}"
        for s, c, k, q in zip(street, city, num, quoted)
    ]
    phone_n = rng.integers(500_000_000, 600_000_000, n_pasajero)
    phone_kind = rng.random(n_pasajero)
    phone = [
        f"+56{p}" if k < 0.2 else ("sin-fono" if k < 0.27 else f"56{p}")
        for p, k in zip(phone_n, phone_kind)
    ]
    by = rng.integers(_BIRTH_YEARS[0], _BIRTH_YEARS[1] + 1, n_pasajero)
    bm = rng.integers(1, 13, n_pasajero)
    bd = rng.integers(1, 29, n_pasajero)
    no_birth = rng.random(n_pasajero) < 0.08
    birth = [
        "" if e else f"{y:04d}/{m:02d}/{d:02d}" for y, m, d, e in zip(by, bm, bd, no_birth)
    ]
    pas_path = os.path.join(out_dir, "pasajero.csv")
    _write_rows(pas_path, [dni, names, mail, addr, phone, birth])

    # -- vuelo: every 10th flight code is shared by two aircraft rows
    # with differing crews (the dedup keeps the lower cod_tripulacion)
    cod_avion = [f"{900_000_000_000 + 7 * j:012d}" for j in range(n_vuelo)]
    cod_vuelo = [f"VU{(j - 1 if j % 10 == 5 else j):05d}" for j in range(n_vuelo)]
    crew = rng.permutation(n_vuelo)
    cod_trip = [f"TR{int(c):06d}" for c in crew]
    cap = [f"{int(c):05d}" for c in rng.integers(60, 400, n_vuelo)]
    pilot = [f"PI{int(p):05d}" for p in rng.integers(0, 99_999, n_vuelo)]
    dep = rng.integers(0, 86_400, n_vuelo)
    arr = (dep + rng.integers(1_800, 30_000, n_vuelo)) % 86_400  # wraps: llegada < salida
    vue_path = os.path.join(out_dir, "vuelo.csv")
    _write_rows(vue_path, [cod_avion, cap, cod_trip, pilot, cod_vuelo, _hms(dep), _hms(arr)])

    # -- venta: flight 0 gets exactly 10 sales, flight 2 exactly 30 (both
    # unshared codes); the rest spread over the other flights with >= 20
    # each, plus 2% orphan aircraft and 2% orphan passengers
    rest = n_venta - 40
    others = np.array([j for j in range(n_vuelo) if j not in (0, 2)])
    base = np.repeat(others, 20)
    extra = others[rng.integers(0, len(others), rest - len(base))]
    flights = np.concatenate([np.zeros(10, int), np.full(30, 2), base, extra])
    avion = np.asarray(cod_avion, dtype=object)[flights]
    # orphans replace only "extra" rows, so every flight keeps its count
    orphan_av = np.zeros(n_venta, bool)
    orphan_av[40 + len(base):] = rng.random(len(extra)) < 0.02 * n_venta / max(len(extra), 1)
    avion[orphan_av] = [f"{800_000_000_000 + int(k):012d}" for k in np.nonzero(orphan_av)[0]]
    avion = avion[rng.permutation(n_venta)]
    pas_idx = rng.integers(0, n_pasajero, n_venta)
    v_dni = np.asarray(dni, dtype=object)[pas_idx]
    orphan_dni = rng.random(n_venta) < 0.02
    v_dni[orphan_dni] = [f"{90_000_000 + int(k):08d}-X" for k in np.nonzero(orphan_dni)[0]]
    cancel = rng.random(n_venta) < 0.08
    amount = rng.integers(1_990, 899_990, n_venta)
    monto = [f"{'-' if c else ''}{a // 100}.{a % 100:02d}" for a, c in zip(amount, cancel)]
    estado = np.where(cancel, "CANCELACION", "VENTA")
    t0 = 1_640_995_200  # 2022-01-01 UTC
    compra = t0 + 13 * rng.permutation(n_venta)
    reserva = compra - rng.integers(3_600, 60 * 86_400, n_venta)
    seat = [f"{chr(65 + int(r))}{int(s)}" for r, s in zip(rng.integers(0, 6, n_venta),
                                                          rng.integers(1, 40, n_venta))]
    airline = _pick(rng, ("LA", "JA", "H2", "SKU"), n_venta)
    cat = _pick(rng, ("ECONOMIC", "PREMIUM", "VIP"), n_venta)
    fmt = np.vectorize(lambda s: np.datetime64(int(s), "s").item().strftime("%Y%m%d %H:%M:%S"))
    ven_path = os.path.join(out_dir, "venta.csv")
    _write_rows(ven_path, [airline, avion, seat, v_dni, monto, estado,
                           fmt(reserva), fmt(compra), cat])
    return {"pasajero": pas_path, "vuelo": vue_path, "venta": ven_path}


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Like the test data's documents: 10-100 words drawn uniformly from a
    30-word vocabulary, and exactly 5% of the documents a copy of another
    one (earlier or later) plus " dup": the near-dup pairs every
    set-similarity query must find."""
    lens = rng.integers(10, 101, n_docs)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    lang = np.asarray(_LANGS, dtype=object)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _ts(secs: np.ndarray) -> pa.Array:
    return pa.array(secs.astype("datetime64[s]").astype("datetime64[us]"), pa.timestamp("us"))


def write_star_tables(out_dir: str, seed: int, n_customer: int, n_docs: int) -> str:
    """Write ``{lineitem,orders,customer,documents}.parquet``
    under ``out_dir`` (the sf-dir layout ``sources.catalog.read_table``
    reads); orders = 10 x customers, lineitem = 4 x orders."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = 10 * n_customer
    n_li = 4 * n_orders
    day = 86_400
    d0 = 788_918_400  # 1995-01-01
    seg = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customer)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_customer), 2)),
            "c_mktsegment": pa.array(_pick(rng, seg, n_customer), pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ("O", "F", "P"), n_orders), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_orders), 2)),
            "o_orderdate": _ts(d0 + day * rng.integers(0, 2_500, n_orders)),
            "o_orderpriority": pa.array(_pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"), n_orders),
                                        pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ("O", "F"), n_li), pa.string()),
            "l_shipdate": _ts(d0 + day * rng.integers(0, 2_500, n_li)),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    write_documents(out_dir, rng, n_docs)
    return out_dir


def write_documents(out_dir: str, seed, n_docs: int) -> str:
    """Write ``documents.parquet`` under ``out_dir``; return its path.
    ``seed`` is an int or a Generator already in use."""
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(np.random.default_rng(seed), n_docs), path)
    return path
