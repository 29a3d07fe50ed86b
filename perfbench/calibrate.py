"""Compare the query tables gen.py writes with a test data directory.

    python3 perfbench/calibrate.py --reference <sf-dir> [--seed 1]

Generates the tables ``query_mix`` reads (querymix.SIZES) from
``--seed`` into a temp dir under ``.perfbench_work/`` and prints, for
the reference directory and the generated one, the statistics that
decide what the queries cost: row counts, the documents' length,
vocabulary and near-duplicate share, the 3-gram shingle document
frequencies q24 works on (before and after its df > 64 cap), its
candidate and result pairs, and the rows of q01 and q10. DuckDB only,
no Spark. The comparison is recorded in README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from dataflow_python_etl_spark.queries import (  # noqa: E402
    _NGRAM_PAIR_CTES,
    _NGRAM_SET_CTES,
    QUERIES,
)

import querymix  # noqa: E402

STATS = (
    ("customer rows", "SELECT count(*) FROM customer"),
    ("orders rows", "SELECT count(*) FROM orders"),
    ("lineitem rows", "SELECT count(*) FROM lineitem"),
    ("lineitem rows q01 keeps", "SELECT count(*) FROM lineitem "
                                "WHERE l_shipdate <= TIMESTAMP '1998-09-02'"),
    ("documents rows", "SELECT count(*) FROM documents"),
    ("words per doc p10/p50/p90",
     "SELECT list_transform(quantile_disc(len(string_split(text, ' ')), [0.1, 0.5, 0.9]), "
     "x -> x::INT) FROM documents"),
    ("vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w "
                   "FROM documents)"),
    ("' dup' documents", "SELECT count(*) FROM documents WHERE text LIKE '% dup'"),
    ("sources", "SELECT count(DISTINCT source) FROM documents"),
    ("distinct shingles", f"WITH {_NGRAM_SET_CTES} SELECT count(DISTINCT shingle) FROM sh0"),
    ("shingle df p50/p90/max",
     f"WITH {_NGRAM_SET_CTES} SELECT list_transform(quantile_disc(df, [0.5, 0.9, 1.0]), "
     "x -> x::INT) FROM (SELECT count(*) AS df FROM sh0 GROUP BY shingle)"),
    ("shingles with df > 64 (capped)", f"WITH {_NGRAM_SET_CTES} SELECT count(*) FROM hot"),
    ("(doc, shingle) rows after cap", f"WITH {_NGRAM_SET_CTES} SELECT count(*) FROM sh"),
    ("q24 candidate pairs", f"WITH {_NGRAM_PAIR_CTES} SELECT count(*) FROM co"),
    ("q24 result pairs", f"SELECT count(*) FROM ({QUERIES['q24_ngram_jaccard_pairs'].oracle})"),
    ("q01 result rows", f"SELECT count(*) FROM ({QUERIES['q01_pricing_summary'].oracle})"),
    ("q10 rows with a compensation",
     f"SELECT count(compensacion) FROM ({QUERIES['q10_compensation'].oracle})"),
)


def stats(sf_dir: str) -> list:
    con = duckdb.connect()
    try:
        for t in querymix.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return [con.execute(sql).fetchone()[0] for _, sql in STATS]
    finally:
        con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True, help="test data dir (one parquet per table)")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    base = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="calibrate-", dir=base) as work:
        made = querymix.prepare(work, args.seed)
        rows = zip(STATS, stats(args.reference), stats(made))
        print(f"| statistic | {os.path.basename(args.reference.rstrip('/'))} | "
              f"generated (seed {args.seed}) |\n|---|---|---|")
        for (name, _), ref, got in rows:
            print(f"| {name} | {ref} | {got} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
