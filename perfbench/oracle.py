"""Expected results for the benchmark's correctness gate.

Runs the registry's DuckDB oracle SQL over the generated tables and stores
one order-insensitive digest per query (the same canonical form as
`perfbench/src/perfbench/Canon.scala`): columns sorted by name, values
rendered canonically (floats rounded to 6 significant digits from their
exact binary value), rendered rows sorted by UTF-8 bytes, SHA-256 over the
joined lines.

Derive the stored files once (after changing the data generator, a
workload's scale or the query set) with:

    python3 perfbench/oracle.py derive [registry|batch]
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# registry queries whose oracle checks a batch_pipeline stage
BATCH = ["quality_gate", "dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
         "dedup_apply", "dedup_semantic_kmeans", "graph_pagerank"]
SIX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = dt.datetime(1970, 1, 1)


def num(d):
    if d == 0:
        return "0"
    return java_str(SIX.plus(d).normalize(SIX))


def java_str(d):
    """java.math.BigDecimal.toString of a normalized decimal."""
    sign, digits, exp = d.as_tuple()
    unscaled = "".join(map(str, digits))
    adjusted = exp + len(digits) - 1
    s = "-" if sign else ""
    if exp <= 0 and adjusted >= -6:
        if exp == 0:
            return s + unscaled
        pad = unscaled.rjust(-exp + 1, "0")
        return s + pad[:exp] + "." + pad[exp:]
    mant = unscaled[0] + ("." + unscaled[1:] if len(unscaled) > 1 else "")
    return s + mant + "E" + ("+" if adjusted > 0 else "") + str(adjusted)


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\u0001".join(value(r[i]) for i in order).encode() for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line)
        h.update(b"\n")
    return sorted(cols), len(lines), h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def derive(data_dir, oracle_sql, names, out_file):
    """Digest each named query's oracle over `data_dir` into `out_file`."""
    con = connect(data_dir)
    lines = []
    for name in names:
        rel = con.sql(oracle_sql[name])
        cols, n, h = digest(rel.columns, rel.fetchall())
        lines.append(f"{name}\t{','.join(cols)}\t{n}\t{h}")
    with open(out_file, "w") as f:
        f.write("\n".join(lines) + "\n")


def dump_oracle_sql(run):
    """Oracle SQL of every registry query, via the harness JVM."""
    with tempfile.TemporaryDirectory(dir=run.bench_dir()) as tmp:
        path = os.path.join(tmp, "oracle.json")
        run.java(["--dump-oracle", path], tmp, log=os.path.join(tmp, "harness.log"))
        with open(path) as f:
            return json.load(f)


def registry_queries():
    src = os.path.join(HERE, "src/perfbench/RegistryLight.scala")
    with open(src) as f:
        text = f.read()
    block = text[text.index("val Queries: Seq[String] = Seq("):]
    block = block[:block.index(")")]
    return [q.strip().strip('"') for q in block.split("(", 1)[1].split(",") if q.strip()]


def main():
    sys.path.insert(0, HERE)
    import run
    if sys.argv[1:2] != ["derive"]:
        raise SystemExit(__doc__)
    which = sys.argv[2:] or ["registry", "batch"]
    run.build()
    sql = dump_oracle_sql(run)
    os.makedirs(EXPECTED, exist_ok=True)
    if "registry" in which:
        derive(run.data_dir(run.DEFAULT_SF), sql, registry_queries(),
               os.path.join(EXPECTED, "registry.tsv"))
    if "batch" in which:
        derive(run.data_dir(run.WORKLOAD_SF["batch_pipeline"]), sql, BATCH,
               os.path.join(EXPECTED, "batch.tsv"))


if __name__ == "__main__":
    main()
