#!/usr/bin/env python3
"""Profiles a directory of the registry's input tables, optionally next to
a second one, to check that gen_data.py's tables look like real inputs.

  python3 perfbench/profile_inputs.py <dir> [<reference dir>]

For each table: rows, and per column the NULL count and distinct count;
then the properties the dedup, graph and statistics queries depend on:
vocabulary, words a document, the share of marked near-duplicate
documents, embedding lengths and norms, and key fan-outs. With two
directories, each line shows both values.
"""
import os
import sys

import duckdb

from gen_data import TABLES

CHECKS = {
    "vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest("
                  "string_split(text, ' ')) AS w FROM documents)",
    "words/doc min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "words/doc median": "SELECT median(len(string_split(text, ' '))) "
                        "FROM documents",
    "words/doc max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "dup-marked doc share": "SELECT avg((text LIKE '% dup')::int) "
                            "FROM documents",
    "en doc share": "SELECT avg((lang = 'en')::int) FROM documents",
    "embedding lengths": "SELECT string_agg(DISTINCT len(embedding)::varchar,"
                         " ',') FROM embeddings",
    "embedding norm min": "SELECT min(sqrt(list_sum(list_transform("
                          "embedding, x -> x * x)))) FROM embeddings",
    "orders/customer mean": "SELECT count(*) / count(DISTINCT o_custkey) "
                            "FROM orders",
    "lines/order max": "SELECT max(c) FROM (SELECT count(*) c FROM lineitem "
                       "GROUP BY l_orderkey)",
    "orders without lines": "SELECT 1 - count(DISTINCT l_orderkey) / "
                            "(SELECT count(*) FROM orders) FROM lineitem",
    "events/user mean": "SELECT count(*) / count(DISTINCT user_id) "
                        "FROM events",
    "event value mean": "SELECT avg(value) FROM events",
}


def profile(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t + '.parquet')}'")
    out = {}
    for t in TABLES:
        out[f"{t} rows"] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for (c, *_rest) in con.execute(f"DESCRIBE {t}").fetchall():
            nulls, distinct = con.execute(
                f'SELECT count(*) - count("{c}"), count(DISTINCT "{c}") '
                f"FROM {t}").fetchone()
            out[f"{t}.{c} nulls"] = nulls
            out[f"{t}.{c} distinct"] = distinct
    for k, sql in CHECKS.items():
        out[k] = con.execute(sql).fetchone()[0]
    con.close()
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    dirs = sys.argv[1:]
    if not 1 <= len(dirs) <= 2:
        sys.exit(__doc__)
    profiles = [profile(d) for d in dirs]
    print(f"{'property':<40} " + " ".join(f"{d[-24:]:>24}" for d in dirs))
    for k in profiles[0]:
        print(f"{k:<40} " + " ".join(f"{fmt(p.get(k)):>24}" for p in profiles))


if __name__ == "__main__":
    main()
