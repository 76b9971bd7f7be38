"""Seeded input generator for the converter benchmark.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files.  Randomness comes from DuckDB's `hash()` over
(row, column salt, seed), so generation is parallel and still
deterministic, or from Python's `random.Random(seed)` for the small
corpus and the snapshot script.

Inputs are cached per (workload, seed) under `.bench_build/inputs/`, so
the timed runs never pay for generation.  Rebuild one set from its seed:

    python3 convbench/gen.py --workload dump_ingest --seed 7 --force
"""

import argparse
import json
import os
import random
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "inputs")
# shingle width of the dedup workload (characters)
SHINGLE = 5
# bump when the generated inputs change shape, so stale caches rebuild
VERSION = "13"

# Table sizes (rows).  sf0.1 has 600k lineitem / 150k orders / 15k
# customer / 25 nation; each workload takes a slice sized so that one
# operation runs a few seconds on a 4-core host.
SIZES = {
    "dump_ingest": {"lineitem": 24000, "orders": 6000, "customer": 750, "nation": 25},
}

# Words for free-text columns.  Some carry the characters a dump
# tokenizer must get right: quotes, backslashes, commas, parentheses,
# semicolons and non-ASCII letters.
WORDS = ["furiously", "final", "deposits", "sleep", "carefully", "ironic",
         "packages", "haggle", "blithely", "regular", "requests", "bold",
         "accounts", "quickly", "express", "pending", "theodolites", "slyly",
         "it's", "o'brien", "back\\slash", "(nb,", "x);", "a;b", 'say "hi"',
         "café", "naïve", "--not-a-comment", "/*no*/", "#hash"]


def _macros(con, seed):
    con.execute(f"CREATE MACRO h(i, s) AS hash(i, s, {int(seed)})")
    con.execute("CREATE MACRO u(i, s) AS (h(i, s) % 1000003)::DOUBLE / 1000003.0")
    con.execute("CREATE MACRO pick(i, s, n) AS (h(i, s) % n)::BIGINT")
    words = ", ".join("'" + w.replace("'", "''") + "'" for w in WORDS)
    con.execute(f"CREATE MACRO words(i, s, n) AS array_to_string("
                f"list_transform(range(n), k -> ([{words}])[1 + pick(i * 131 + k, s, {len(WORDS)})]), ' ')")


def _tables(con, sizes):
    """Create the TPC-H-shaped tables named in `sizes`."""
    n = sizes
    if "nation" in n:
        con.execute(f"""CREATE TABLE nation AS SELECT
            i::BIGINT AS n_nationkey,
            'NATION_' || i AS n_name,
            (i % 5)::BIGINT AS n_regionkey,
            words(i, 1, 6) AS n_comment
          FROM range({n['nation']}) r(i)""")
    if "customer" in n:
        con.execute(f"""CREATE TABLE customer AS SELECT
            (i + 1)::BIGINT AS c_custkey,
            'Customer#' || lpad((i + 1)::VARCHAR, 9, '0') AS c_name,
            words(i, 2, 3) AS c_address,
            pick(i, 3, 25) AS c_nationkey,
            (10 + pick(i, 4, 25)) || '-' || (100 + pick(i, 5, 900)) || '-' || (1000 + pick(i, 6, 9000)) AS c_phone,
            round(u(i, 7) * 11000 - 1000, 2)::DOUBLE AS c_acctbal,
            (['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])[1 + pick(i, 8, 5)] AS c_mktsegment,
            words(i, 9, 8) AS c_comment
          FROM range({n['customer']}) r(i)""")
    if "orders" in n:
        ncust = max(1, n.get("customer", n["orders"] // 10))
        con.execute(f"""CREATE TABLE orders AS SELECT
            (i + 1)::BIGINT AS o_orderkey,
            (1 + pick(i, 10, {ncust}))::BIGINT AS o_custkey,
            (['F', 'O', 'P'])[1 + pick(i, 11, 3)] AS o_orderstatus,
            (round(u(i, 12) * 450000 + 900, 2))::DECIMAL(15,2) AS o_totalprice,
            (DATE '1992-01-01' + pick(i, 13, 2400)::INTEGER) AS o_orderdate,
            (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])[1 + pick(i, 14, 5)] AS o_orderpriority,
            CASE WHEN pick(i, 15, 20) = 0 THEN NULL ELSE 'Clerk#' || lpad(pick(i, 16, 1000)::VARCHAR, 9, '0') END AS o_clerk,
            0::BIGINT AS o_shippriority,
            words(i, 17, 5) AS o_comment,
            (TIMESTAMP '2020-01-01 00:00:00' + to_seconds(pick(i, 18, 100000000))) AS o_updated
          FROM range({n['orders']}) r(i)""")
    if "lineitem" in n:
        norders = max(1, n.get("orders", n["lineitem"] // 4))
        con.execute(f"""CREATE TABLE lineitem AS SELECT
            (1 + (i // 4) % {norders})::BIGINT AS l_orderkey,
            (1 + pick(i, 20, 20000))::BIGINT AS l_partkey,
            (1 + pick(i, 21, 1000))::BIGINT AS l_suppkey,
            (1 + i % 4)::BIGINT AS l_linenumber,
            (1 + pick(i, 22, 50))::DECIMAL(15,2) AS l_quantity,
            (round(u(i, 23) * 100000 + 900, 2))::DECIMAL(15,2) AS l_extendedprice,
            (pick(i, 24, 11) / 100.0)::DOUBLE AS l_discount,
            (pick(i, 25, 9) / 100.0)::DECIMAL(15,2) AS l_tax,
            (['A', 'N', 'R'])[1 + pick(i, 26, 3)] AS l_returnflag,
            (['F', 'O'])[1 + pick(i, 27, 2)] AS l_linestatus,
            (DATE '1992-01-02' + pick(i, 28, 2500)::INTEGER) AS l_shipdate,
            (DATE '1992-01-31' + pick(i, 29, 2500)::INTEGER) AS l_commitdate,
            (DATE '1992-01-03' + pick(i, 30, 2500)::INTEGER) AS l_receiptdate,
            (['DELIVER IN PERSON', 'COLLECT COD', 'NONE', 'TAKE BACK RETURN'])[1 + pick(i, 31, 4)] AS l_shipinstruct,
            (['REG AIR', 'AIR', 'RAIL', 'SHIP', 'TRUCK', 'MAIL', 'FOB'])[1 + pick(i, 32, 7)] AS l_shipmode,
            CASE WHEN pick(i, 33, 50) = 0 THEN NULL ELSE words(i, 34, 4) END AS l_comment
          FROM range({n['lineitem']}) r(i)""")


# MySQL column types per DuckDB type, as mysqldump would declare them
def _mysql_type(duck_type):
    t = duck_type.upper()
    if t == "BIGINT":
        return "bigint"
    if t.startswith("DECIMAL"):
        return t.lower()
    if t == "DOUBLE":
        return "double"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "datetime"
    return "varchar(255)"


def _literal(col, duck_type):
    """DuckDB expression rendering `col` as a MySQL literal."""
    t = duck_type.upper()
    if t == "VARCHAR":
        body = f"'''' || replace(replace({col}, '\\', '\\\\'), '''', '\\''') || ''''"
    elif t in ("DATE",) or t.startswith("TIMESTAMP"):
        body = f"'''' || strftime({col}, '{'%Y-%m-%d' if t == 'DATE' else '%Y-%m-%d %H:%M:%S'}') || ''''"
    else:
        body = f"{col}::VARCHAR"
    return f"coalesce({body}, 'NULL')"


def _write_dump(con, tables, path, rows_per_insert=400):
    """Write `tables` as one plain mysqldump-style file."""
    with open(path, "w", encoding="utf-8", newline="\n") as out:
        out.write("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n"
                  "-- Host: localhost    Database: tpch\n"
                  "-- ------------------------------------------------------\n\n"
                  "/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;\n"
                  "/*!50503 SET NAMES utf8mb4 */;\n"
                  "/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, UNIQUE_CHECKS=0 */;\n\n")
        for t in tables:
            cols = con.execute(f"DESCRIBE {t}").fetchall()
            out.write(f"--\n-- Table structure for table `{t}`\n--\n\n"
                      f"DROP TABLE IF EXISTS `{t}`;\n"
                      "/*!40101 SET @saved_cs_client     = @@character_set_client */;\n"
                      f"CREATE TABLE `{t}` (\n")
            defs = []
            for name, typ, nullable, *_ in cols:
                null = "DEFAULT NULL" if nullable == "YES" and not name.endswith("key") else "NOT NULL"
                defs.append(f"  `{name}` {_mysql_type(typ)} {null}")
            defs.append(f"  PRIMARY KEY (`{cols[0][0]}`)")
            out.write(",\n".join(defs))
            out.write("\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_0900_ai_ci;\n"
                      "/*!40101 SET character_set_client = @saved_cs_client */;\n\n"
                      f"--\n-- Dumping data for table `{t}`\n--\n\n"
                      f"LOCK TABLES `{t}` WRITE;\n"
                      f"/*!40000 ALTER TABLE `{t}` DISABLE KEYS */;\n")
            tup = " || ',' || ".join(_literal(c[0], c[1]) for c in cols)
            stmts = con.execute(f"""
                SELECT 'INSERT INTO `{t}` VALUES ' || string_agg('(' || tup || ')', ',' ORDER BY rn) || ';'
                FROM (SELECT row_number() OVER () - 1 AS rn, {tup} AS tup FROM {t})
                GROUP BY rn // {rows_per_insert} ORDER BY rn // {rows_per_insert}""").fetchall()
            for (s,) in stmts:
                out.write(s)
                out.write("\n")
            out.write(f"/*!40000 ALTER TABLE `{t}` ENABLE KEYS */;\nUNLOCK TABLES;\n\n")
        out.write("-- Dump completed on 2024-05-01 12:00:00\n")


def _copy_parquet(con, table, path, row_group_rows):
    con.execute(f"COPY {table} TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE {row_group_rows})")


def gen_dump(con, d, sizes, name, seed, steps):
    _tables(con, sizes)
    names = sorted(sizes)
    _write_dump(con, names, os.path.join(d, f"{name}.sql"))
    truth = os.path.join(d, f"{name}_truth")
    os.makedirs(truth)
    for t in names:
        _copy_parquet(con, t, os.path.join(truth, f"{t}.parquet"), 1 << 20)
    return {"rows": {t: sizes[t] for t in names},
            "script": gen_script(con, d, name, sizes["orders"], seed, steps)}


def gen_script(con, d, name, n, seed, steps):
    """A seeded script of commits and pruned range scans against the
    published orders table (keys 1..n): merges rewrite keys in a narrow
    range plus a few new keys, deletes drop keys in a range."""
    rng = random.Random(f"script-{seed}-{name}")
    kinds = (["merge", "delete", "scan"] * steps)[:steps]
    script, next_key = [], n + 1
    upd_dir = os.path.join(d, f"{name}_updates")
    os.makedirs(upd_dir)
    width = max(20, n // 60)
    for k, kind in enumerate(kinds):
        lo = rng.randrange(1, max(2, n - width))
        if kind == "scan":
            script.append({"kind": "scan", "lo": lo, "hi": lo + rng.randrange(width, 4 * width)})
        elif kind == "delete":
            keys = sorted(rng.sample(range(lo, lo + width), max(5, width // 10)))
            script.append({"kind": "delete", "keys": keys})
        else:
            keys = sorted(rng.sample(range(lo, lo + width), max(5, width // 4)))
            fresh = list(range(next_key, next_key + 3))
            next_key += 3
            path = os.path.join(upd_dir, f"step{k:03d}.parquet")
            ks = ", ".join(str(x) for x in keys + fresh)
            # o_updated as TIMESTAMPTZ: parquet marks it UTC-adjusted, so
            # it reads as the same timestamp type the dump's DATETIME has
            con.execute(f"""COPY (SELECT k::BIGINT AS o_orderkey,
                  (1 + pick(k, 40 + {k}, 1000))::BIGINT AS o_custkey,
                  'U' AS o_orderstatus,
                  (round(u(k, 50 + {k}) * 450000 + 900, 2))::DECIMAL(15,2) AS o_totalprice,
                  (DATE '1998-01-01' + pick(k, 60 + {k}, 300)::INTEGER) AS o_orderdate,
                  '1-URGENT' AS o_orderpriority,
                  'Clerk#' || lpad(pick(k, 70 + {k}, 1000)::VARCHAR, 9, '0') AS o_clerk,
                  {k}::BIGINT AS o_shippriority,
                  'update ' || {k} || ' ' || words(k, 80 + {k}, 3) AS o_comment,
                  (TIMESTAMP '2024-01-01 00:00:00' + to_seconds(pick(k, 90 + {k}, 1000000)))::TIMESTAMPTZ AS o_updated
                FROM unnest([{ks}]) t(k) ORDER BY k) TO '{path}' (FORMAT parquet)""")
            script.append({"kind": kind, "path": path, "rows": len(keys) + len(fresh)})
    return script


def gen_corpus(d, seed, docs, name):
    """Docs of lowercase words joined by single spaces (text the program's
    whitespace normalisation leaves unchanged), with planted exact-duplicate
    groups and near-duplicate pairs at known ids."""
    rng = random.Random(f"corpus-{seed}-{name}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randrange(3, 10)))
                    for _ in range(4000)})
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(40, 70)))
             for _ in range(docs)]
    ids = list(range(docs))
    rng.shuffle(ids)
    n_exact, n_near = docs // 40, docs // 25
    exact_groups, near_pairs, used = [], [], 0
    # exact groups: 2-3 verbatim copies of one base doc
    for _ in range(n_exact):
        base = ids[used]
        copies = ids[used + 1: used + 1 + rng.randrange(1, 3)]
        used += 1 + len(copies)
        for c in copies:
            texts[c] = texts[base]
        exact_groups.append(sorted([base] + copies))
    # near-duplicate pairs: the copy has one word replaced
    for _ in range(n_near):
        base, copy = ids[used], ids[used + 1]
        used += 2
        words = texts[base].split(" ")
        words[rng.randrange(len(words))] = rng.choice(vocab) + "x"
        texts[copy] = " ".join(words)
        near_pairs.append(sorted([base, copy]))
    docs_t = pa.table({"id": pa.array(range(docs), pa.int64()), "text": pa.array(texts)})
    pq.write_table(docs_t, os.path.join(d, name + ".parquet"))
    near_j = [check.jaccard(texts[a], texts[b], SHINGLE) for a, b in near_pairs]
    with open(os.path.join(d, f"{name}_planted.json"), "w") as f:
        json.dump({"exact_groups": exact_groups, "near_pairs": near_pairs, "near_j": near_j}, f)
    return {"rows": {"docs": docs}, "exact_groups": n_exact, "near_pairs": n_near}


def generate(workload, seed, force=False):
    """Return the cache directory holding the inputs, building it if needed."""
    d = os.path.join(CACHE, workload, f"s{seed}")
    stamp = os.path.join(d, "DONE")
    if not force and os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("version") == VERSION:
                return d
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(d, 'duckdb-tmp')}'")
    con.execute("SET threads TO 4")
    _macros(con, seed)
    if workload == "dump_ingest":
        # one round of merge, delete and scan per operation
        meta = {"main": gen_dump(con, d, SIZES["dump_ingest"], "bench", seed, 3)}
    elif workload == "corpus_dedup":
        meta = {"main": gen_corpus(d, seed, 6000, "bench")}
    else:
        raise SystemExit(f"unknown workload: {workload}")
    meta["version"] = VERSION
    with open(stamp, "w") as f:
        json.dump(meta, f)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--force", action="store_true", help="rebuild even if cached")
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.force))


if __name__ == "__main__":
    sys.exit(main())
