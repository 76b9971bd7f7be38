"""Output checker of the converter benchmark, independent of the program.

ORC outputs are read with pyarrow and compared in DuckDB with what the
generator produced: row counts, null counts and order-free per-column
fingerprints.  Doubles and decimals are compared as DECIMAL(18,4) sums and
hashes, timestamps as UTC wall-clock values.  Read-back queries run again
in DuckDB on the source data; snapshot scans are replayed on a DuckDB model
of the table; dedup results are checked against the planted duplicates and
the checker's own shingle Jaccard.
"""

import glob
import math
import os
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.orc as orc


def shingles(text, n):
    """Distinct character n-grams; a text shorter than n is its own shingle."""
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}


def jaccard(a, b, n):
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _ntz(t):
    """Spark stores TIMESTAMP_NTZ in ORC as int64 microseconds tagged with
    `spark.sql.catalyst.type: timestamp_ntz`; read those as timestamps."""
    cols = []
    for field, col in zip(t.schema, t.columns):
        meta = field.metadata or {}
        if meta.get(b"spark.sql.catalyst.type") == b"timestamp_ntz" and pa.types.is_int64(field.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col)
    return pa.table(cols, names=t.column_names)


def read_orc_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.orc"), recursive=True))
    if not files:
        raise ValueError(f"no ORC files in {path}")
    return pa.concat_tables([_ntz(orc.read_table(f)) for f in files])


def _canon(col, typ):
    t = typ.upper()
    q = f'"{col}"'
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT"):
        return f"CAST({q} AS BIGINT)", False
    if t.startswith("DECIMAL") or t in ("DOUBLE", "FLOAT", "REAL"):
        return f"CAST({q} AS DECIMAL(18,4))", True
    if t == "DATE":
        return f"CAST({q} AS DATE)", False
    if t.startswith("TIMESTAMP"):
        return f"CAST({q} AS TIMESTAMP)", False
    return f"CAST({q} AS VARCHAR)", False


def fingerprint(con, rel, schema):
    """Row count plus, per column, (non-null count, sum of value hashes,
    DECIMAL(18,4) sum for numeric columns) of relation `rel`."""
    parts = ["count(*)"]
    for name, typ in schema:
        expr, numeric = _canon(name, typ)
        parts += [f'count("{name}")', f"sum(hash({expr})::HUGEINT)"]
        if numeric:
            parts.append(f"sum({expr})")
    return con.execute(f"SELECT {', '.join(parts)} FROM {rel}").fetchone()


def schema_of(con, rel):
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {rel}").fetchall()]


def cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return format(v, "f")
    return str(v)


class Checker:
    def __init__(self, tmp_dir):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")
        self.failures = []

    def fail(self, what):
        self.failures.append(what)
        return False

    def same_table(self, what, orc_dir, truth_rel):
        """ORC table directory against a DuckDB relation over the truth."""
        try:
            self.con.register("out_t", read_orc_dir(orc_dir))
        except Exception as e:  # unreadable output is a failed check
            return self.fail(f"{what}: {e}")
        try:
            schema = schema_of(self.con, truth_rel)
            out_cols = [c for c, _ in schema_of(self.con, "out_t")]
            if sorted(out_cols) != sorted(c for c, _ in schema):
                return self.fail(f"{what}: columns {out_cols} != {[c for c, _ in schema]}")
            got = fingerprint(self.con, "out_t", schema)
            want = fingerprint(self.con, truth_rel, schema)
            if got != want:
                return self.fail(f"{what}: fingerprint {got} != {want}")
            return True
        finally:
            self.con.unregister("out_t")

    def same_rows(self, what, got, want_sql):
        want = [[cell(v) for v in r] for r in self.con.execute(want_sql).fetchall()]
        got = [[None if v is None else str(v) for v in r] for r in got]
        if got != want:
            return self.fail(f"{what}: {got[:3]} != {want[:3]}")
        return True

    # ---- workloads ------------------------------------------------------

    def conversion(self, op, truth, tables, what):
        """Converted tables. Returns the number of failed operations (0 or 1)."""
        for t in tables:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{truth(t)}')")
        ok = all([self.same_table(f"{what} {t}", os.path.join(op["out_dir"], t), t)
                  for t in tables])
        want_rows = {t: self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables}
        rep = {r["table"]: r["rows"] for r in op["results"]["report"]}
        if rep != want_rows:
            ok = self.fail(f"{what}: reported rows {rep} != {want_rows}")
        return int(not ok)

    def read_back(self, op, queries, what):
        """Read-back queries on the converted tables (registered as views by
        `conversion`) and the published table's row count."""
        failed = 0
        for q in queries:
            key = f"query:{q['name']}"
            failed += not self.same_rows(f"{what} {key}", op["results"][key], q["sql"])
        want = self.con.execute("SELECT count(*) FROM orders").fetchone()[0]
        if op["results"].get("published_rows") != want:
            failed += not self.fail(f"{what}: published {op['results'].get('published_rows')} rows")
        return failed

    def churn(self, op, orders_path, script, what):
        """Replay the script on a DuckDB model of the published table; every
        scan and the final table must match it. Returns failed steps."""
        c = self.con
        c.execute(f"CREATE OR REPLACE TABLE model AS SELECT * FROM read_parquet('{orders_path}')")
        scans = iter(op["results"]["scans"])  # one result per scan step
        failed = 0
        for step in script:
            kind = step["kind"]
            if kind == "scan":
                want = f"""SELECT count(*), sum(o_orderkey), sum(CAST(o_totalprice AS DECIMAL(18,4))),
                          sum(o_shippriority), min(o_orderkey), max(o_orderkey)
                        FROM model WHERE o_orderkey BETWEEN {step['lo']} AND {step['hi']}"""
                failed += not self.same_rows(
                    f"{what} scan [{step['lo']},{step['hi']}]", [next(scans)["agg"]], want)
            elif kind == "delete":
                c.execute(f"DELETE FROM model WHERE o_orderkey IN ({','.join(map(str, step['keys']))})")
            else:
                c.execute(f"CREATE OR REPLACE VIEW upd AS SELECT * FROM read_parquet('{step['path']}')")
                c.execute("DELETE FROM model WHERE o_orderkey IN (SELECT o_orderkey FROM upd)")
                c.execute("INSERT INTO model SELECT * FROM upd")
        # a wrong final state is charged to the last commit
        return failed + (not self.same_table(f"{what} final read", op["results"]["final_dir"],
                                             "model"))

    def dedup(self, op, docs_path, planted, threshold, shingle, what):
        """Exact groups, pair Jaccards, planted recall, survivors."""
        c = self.con
        texts = dict(c.execute(f"SELECT id, text FROM read_parquet('{docs_path}')").fetchall())
        res = op["results"]
        ok = True
        want_exact = sorted([str(min(g)), str(len(g))] for g in planted["exact_groups"])
        if sorted(res["exact"]) != want_exact:
            ok = self.fail(f"{what}: exact groups differ ({len(res['exact'])} vs {len(want_exact)})")
        pairs = set()
        for a, b, j in res["pairs"]:
            mine = jaccard(texts[a], texts[b], shingle)
            if not (a < b and mine >= threshold and abs(mine - j) < 1e-6):
                ok = self.fail(f"{what}: pair ({a},{b}) reported {j}, checker {mine}")
                break
            pairs.add((a, b))
        for g in planted["exact_groups"]:
            for i, a in enumerate(g):
                for b in g[i + 1:]:
                    if (a, b) not in pairs:
                        ok = self.fail(f"{what}: exact pair ({a},{b}) missing")
        # recall of planted near duplicates against the banding S-curve
        p = res["banding_recall"]
        n = len(p)
        found = sum((a, b) in pairs for a, b in planted["near_pairs"])
        bound = sum(p) / n - 4 * math.sqrt(sum(x * (1 - x) for x in p)) / n - 1.0 / n
        if found / n < bound:
            ok = self.fail(f"{what}: near-dup recall {found}/{n} below bound {bound:.4f}")
        # survivors: min id of every component of the reported pairs
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x
        for a, b in sorted(pairs):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        keep = sorted(i for i in texts if find(i) == i)
        c.execute("CREATE OR REPLACE TABLE keep AS SELECT unnest($1::BIGINT[]) AS id", [keep])
        c.execute(f"""CREATE OR REPLACE VIEW survivors_truth AS SELECT d.* FROM
            read_parquet('{docs_path}') d JOIN keep USING (id)""")
        failed = not ok
        failed += not self.same_table(f"{what} survivors", res["survivors_dir"], "survivors_truth")
        if "query:survivors" in res:
            failed += not self.same_rows(f"{what} survivors read-back", res["query:survivors"],
                                         "SELECT count(*), sum(id), sum(length(text)) FROM survivors_truth")
        return failed
