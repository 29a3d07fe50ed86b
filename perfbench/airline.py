"""The CLI half of ``batch_mix``: the reference's three pipelines.

One pass runs ``cli.main(["ingest", ...])``, ``["mart", ...]`` and
``["compensation", ...]`` in-process against a fresh warehouse, with
their real table writes, the way the paper's users run them. The
output check recomputes ``schema_prod`` in DuckDB from the same CSVs
and compares row count and the rows as multisets, in DuckDB:
``tools/check_oracle.value_hash`` normalizes and hashes in Python and
takes ~14 s on 250,000 rows.
"""

from __future__ import annotations

import datetime
import os
import statistics

import duckdb

import gen

COMMANDS = ("ingest", "mart", "compensation")
# A fifth of the 500k / 50k / 2k sizing probe the benchmark was planned
# with, same ratios (250 sales per flight); README.md has the size sweep
# this was chosen from.
SIZES = {"n_venta": 100_000, "n_pasajero": 10_000, "n_vuelo": 400}

_RESOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dataflow_python_etl_spark", "resources",
)


def prepare(root: str, seed: int) -> dict:
    return gen.write_airline_csvs(os.path.join(root, "csv"), seed, **SIZES)


def argv(command: str, csvs: dict, warehouse: str) -> list[str]:
    if command == "ingest":
        names = ("pasajero", "vuelo", "venta")
        return ["ingest", "--input", ",".join(csvs[n] for n in names),
                "--output", ",".join(names), "--warehouse", warehouse]
    return [command, "--warehouse", warehouse]


def run_pass(rec, csvs: dict, warehouse: str) -> dict:
    """Run the three CLI commands against ``warehouse``. Returns each
    command's wall, their sum, the (files, bytes) each command left in
    its output tables, and the date the compensation ran with (its age
    rule reads ``current_date``; None if a midnight passed)."""
    from dataflow_python_etl_spark import cli

    walls, files = {}, {}
    for command in COMMANDS:
        day = datetime.date.today()
        rec.op(f"cli.{command}", "cli", cli.main, argv(command, csvs, warehouse))
        walls[command] = rec.last
        files[command] = _files(warehouse, OUTPUTS[command])
    if datetime.date.today() != day:
        day = None
    return {"walls": walls, "wall": sum(walls.values()), "files": files, "today": day,
            "warehouse": warehouse}


def _files(warehouse: str, tables: tuple[str, ...]) -> tuple[int, int]:
    """(parquet files, bytes) of the named tables."""
    n = size = 0
    for t in tables:
        for r, _, fs in os.walk(os.path.join(warehouse, t)):
            for f in fs:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(r, f))
    return n, size


OUTPUTS = {"ingest": ("pasajero", "vuelo", "venta"), "mart": ("schema_prod",),
           "compensation": ("schema_prod",)}
BUILD_LAYER = {"ingest": "sources.csv_ingest", "mart": "operators.mart",
               "compensation": "operators.compensation"}
COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes",
            "executor_run_s")


def layers(tracer, traced: list) -> dict:
    """Per-layer metrics of the traced passes (median over passes).

    Per command: ``cli.<c>.extra_s``/``extra_jobs`` are the command's own
    wall and jobs outside the layer calls it makes (the remainder by
    construction: with the self times of the spans under it they add
    up to the command's traced wall); ``<layer>.build_s``
    is the self time of the command's source/operator layer (plan
    building and driver work, its writes excluded);
    ``upsert.write_and_swap.<c>.*`` splits the writes into job time (the
    union of their job walls) and commit time (the rest: renames and
    swaps), with the files and bytes the command leaves; ``etl.<c>.*``
    are the status-store counters of the whole command."""
    rows: dict[str, list] = {}

    def put(key, value):
        rows.setdefault(key, []).append(value)

    for r in traced:
        spans = tracer.in_pass(r["k"])
        for c in COMMANDS:
            top = next(s for s in spans if s.name == f"cli.{c}")
            sub = tracer.subtree(top)
            put(f"cli.{c}.extra_s", tracer.self_time(top))
            put(f"cli.{c}.extra_jobs", top.counters["jobs"])
            inc = tracer.inclusive(top)
            for key in COUNTERS:
                put(f"etl.{c}.{key}", inc[key])
            writes = [s for s in sub if s.name == "operators.upsert.write_and_swap"]
            call = sum(s.wall for s in writes)
            job = sum(tracer.inclusive(s)["job_s"] for s in writes)
            put(f"upsert.write_and_swap.{c}.call_s", call)
            put(f"upsert.write_and_swap.{c}.job_s", job)
            put(f"upsert.write_and_swap.{c}.commit_s", call - job)
            files, size = r["files"][c]
            put(f"upsert.write_and_swap.{c}.files", files)
            put(f"upsert.write_and_swap.{c}.output_bytes", size)
            put(f"{BUILD_LAYER[c]}.build_s",
                sum(tracer.self_time(s) for s in sub if s.layer == BUILD_LAYER[c]))
    return {k: statistics.median(v) for k, v in rows.items()}


def _read_csv(path: str, names: tuple[str, ...]) -> str:
    cols = ", ".join(f"'{n}': 'VARCHAR'" for n in names)
    return (f"read_csv('{path}', delim='|', quote='\"', escape='\"', header=false, "
            f"columns={{{cols}}})")


def _bq_fields(table: str) -> list[tuple[str, str]]:
    import json

    with open(os.path.join(_RESOURCES, f"{table}.json")) as f:
        return [(c["name"], c["type"]) for c in json.load(f)]


def _typed(name: str, bq_type: str) -> str:
    """DuckDB twin of ``sources.csv_ingest._typed_column``."""
    if bq_type == "DATE":
        return f"COALESCE(CAST(TRY_STRPTIME({name}, '%Y/%m/%d') AS DATE), TRY_CAST({name} AS DATE)) AS {name}"
    if bq_type == "TIMESTAMP":
        return f"COALESCE(TRY_STRPTIME({name}, '%Y%m%d %H:%M:%S'), TRY_CAST({name} AS TIMESTAMP)) AS {name}"
    if bq_type == "INTEGER":
        return f"TRY_CAST(regexp_replace({name}, '^\\+', '') AS BIGINT) AS {name}"
    if bq_type == "FLOAT":
        return f"TRY_CAST({name} AS DOUBLE) AS {name}"
    return name


def _table_sql(table: str, path: str) -> str:
    fields = _bq_fields(table)
    sel = ", ".join(_typed(n, t) for n, t in fields)
    return f"SELECT {sel} FROM {_read_csv(path, tuple(n for n, _ in fields))}"


def oracle_sql(csvs: dict, today: datetime.date) -> str:
    """``schema_prod`` after ingest -> mart -> compensation, in DuckDB:
    the mart's flight dedup, left joins, abs(monto) and name
    obfuscation, then the compensation rule of ``q10_compensation``'s
    oracle with the year of ``today``."""
    year = today.year
    age = f"({year} - EXTRACT(year FROM fecha_de_nacimiento))"
    eligible = f"(fecha_de_nacimiento IS NOT NULL AND ({age} < 14 OR {age} > 60))"
    rest = "substr(nombre_completo, strpos(nombre_completo, ' ') + 1)"
    masked = (
        "CASE WHEN strpos(nombre_completo, ' ') = 0 THEN nombre_completo || ' ' "
        "ELSE split_part(nombre_completo, ' ', 1) || ' ' || "
        f"regexp_replace({rest}, '[^' || substr({rest}, 1, 1) || ' ]', '*', 'g') END"
    )
    return f"""
    WITH pasajero AS ({_table_sql('pasajero', csvs['pasajero'])}),
    vuelo AS ({_table_sql('vuelo', csvs['vuelo'])}),
    venta AS ({_table_sql('venta', csvs['venta'])}),
    vuelo1 AS (
        SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY cod_vuelo ORDER BY cod_tripulacion) AS rn
            FROM vuelo) WHERE rn = 1
    ),
    mart AS (
        SELECT v.codigo_aerolinea, v.cod_avion, v.asiento, v.dni, abs(v.monto) AS monto,
               v.estado, v.fecha_reserva, v.fecha_compra, v.categoria,
               {masked.replace('nombre_completo', 'p.nombre_completo')} AS nombre_completo,
               p.correo_electronico, p.direccion, p.telefono, p.fecha_de_nacimiento,
               f.capacidad, f.cod_tripulacion, f.cod_piloto, f.cod_vuelo,
               f.horario_salida, f.horario_llegada
        FROM venta v
        LEFT JOIN pasajero p ON v.dni = p.dni
        LEFT JOIN vuelo1 f ON v.cod_avion = f.cod_avion
    ),
    scored AS (
        SELECT *, {age} AS age, {eligible} AS eligible,
               CAST(floor(count(*) OVER (PARTITION BY cod_vuelo) / 20.0 + 0.5) AS BIGINT) * 3 AS quota,
               row_number() OVER (
                   PARTITION BY cod_vuelo
                   ORDER BY CASE WHEN {eligible} THEN 1 ELSE 0 END DESC, fecha_compra, dni
               ) AS rk
        FROM mart
    )
    SELECT * EXCLUDE (age, eligible, quota, rk),
           CASE WHEN fecha_de_nacimiento IS NULL THEN NULL
                WHEN quota <= 0 THEN NULL
                WHEN eligible AND rk <= quota THEN
                     CASE WHEN age < 14 THEN 'ASISTENCIA_PREFERENCIAL'
                          ELSE 'ASIENTO_PREFERENCIAL' END
                WHEN eligible THEN NULL
                ELSE 'NO APLICA' END AS compensacion
    FROM scored
    """


def check(csvs: dict, warehouse: str, today: datetime.date | None) -> list[str]:
    """Compare the written ``schema_prod`` with the DuckDB oracle as
    multisets of rows (``EXCEPT ALL`` both ways, exact values); return
    the problems found (empty when the output is correct)."""
    if today is None:
        return ["compensation ran across midnight; its date is unknown"]
    want_cols = [n for n, _ in _bq_fields("schema_prod")]
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE TABLE written AS SELECT * FROM "
                    f"read_parquet('{warehouse}/schema_prod/*.parquet')")
        con.execute(f"CREATE TABLE oracle AS {oracle_sql(csvs, today)}")
        got_cols = [d[0] for d in con.execute("SELECT * FROM written LIMIT 0").description]
        if sorted(got_cols) != sorted(want_cols):
            return [f"schema_prod columns {got_cols} != {want_cols}"]
        cols = ", ".join(want_cols)
        n_got, n_exp = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                        for t in ("written", "oracle"))
        n_diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM written EXCEPT ALL SELECT {cols} FROM oracle) "
            f"UNION ALL (SELECT {cols} FROM oracle EXCEPT ALL SELECT {cols} FROM written))"
        ).fetchone()[0]
    finally:
        con.close()
    if n_got != n_exp:
        return [f"schema_prod rows {n_got} != oracle {n_exp}"]
    if n_diff:
        return [f"schema_prod: {n_diff} rows differ from the oracle"]
    return []
