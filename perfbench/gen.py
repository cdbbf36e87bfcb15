"""Seeded input generator: perfbench/base (sf0.01) -> M replicas.

Follows the replication scheme of scripts/gen_sf.py (read its
docstring for the reasoning), with the seed choosing everything that
may vary without changing the amount of work:

- key offsets: replica i gets key block ``slot[i]``, a seeded
  permutation of ``0 .. M - 1``; every key family of a replica uses the
  same block, so replica-local joins stay intact and per-key join
  fanout is exactly the base's (block 0 always exists: steps that pick
  their probes by small ids, like ann_bruteforce_topk's vec_id < 10,
  keep the same amount of work);
- vocabulary prefixes: replicas i > 0 prefix every non-space run with
  a seeded 3-letter tag plus ``_`` (fixed width, so text lengths and
  token counts do not depend on the seed); replica 0 keeps the base
  text, as in gen_sf.py;
- embedding maps: replicas i > 0 get a seeded diagonal scale and sign
  flip per dimension (the gen_sf.py family, keyed by the seed);
- row order: every table is written in a seeded hash order.

Row counts, duplicate rates and join fanout are therefore the same for
every seed, while LSH buckets, shuffle placement and z-order layout
change. Output: one parquet file per table plus ``manifest.json``
(written last; its presence marks a complete, reusable directory).
"""
import json
import os
import random
import shutil
import string

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# (table, key column): each key family gets its own offset
KEYS = [("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("events", "user_id"),
        ("documents", "doc_id"), ("embeddings", "vec_id")]


def plan(seed, mult):
    """The seed's choices: key block per replica and vocabulary tags."""
    rng = random.Random(seed)
    slots = rng.sample(range(mult), mult)
    tags = set()
    while len(tags) < mult:
        tags.add("".join(rng.choice(string.ascii_lowercase) for _ in range(3)))
    return slots, sorted(tags, key=lambda _: rng.random())


def generate(base, out, mult, seed):
    """Write the seeded tables to ``out`` unless already there; return
    the manifest (rows and bytes per table)."""
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    if os.path.isdir(out):
        shutil.rmtree(out)
    tmp = out + ".partial"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}/.duckdb_tmp'")

    def src(name):
        return f"read_parquet('{base}/{name}.parquet')"

    off = {col: con.execute(f"SELECT max({col}) + 1 FROM {src(t)}").fetchone()[0]
           for t, col in KEYS}
    slots, tags = plan(seed, mult)
    rep = "(SELECT * FROM (VALUES {}) AS r(i, slot, tag))".format(
        ", ".join(f"({i}, {slots[i]}, '{tags[i]}')" for i in range(mult)))

    def k(col, fam=None):
        return f"{col} + slot * {off[fam or col]}"

    def write(name, sql, order, row_group=0):
        opts = f", ROW_GROUP_SIZE {row_group}" if row_group else ""
        con.execute(f"COPY ({sql} ORDER BY hash({order}, {seed})) "
                    f"TO '{tmp}/{name}.parquet' (FORMAT PARQUET{opts})")

    write("region", f"SELECT * FROM {src('region')}", "r_regionkey")
    write("nation", f"SELECT * FROM {src('nation')}", "n_nationkey")
    write("customer", f"""
        SELECT {k('c_custkey')} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM {src('customer')} CROSS JOIN {rep}""", "c_custkey")
    write("supplier", f"""
        SELECT {k('s_suppkey')} AS s_suppkey, s_name, s_nationkey, s_acctbal
        FROM {src('supplier')} CROSS JOIN {rep}""", "s_suppkey")
    write("part", f"""
        SELECT {k('p_partkey')} AS p_partkey, p_name, p_brand, p_type,
               p_size, p_retailprice
        FROM {src('part')} CROSS JOIN {rep}""", "p_partkey")
    write("orders", f"""
        SELECT {k('o_orderkey')} AS o_orderkey,
               {k('o_custkey', 'c_custkey')} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {src('orders')} CROSS JOIN {rep}""", "o_orderkey")
    write("lineitem", f"""
        SELECT {k('l_orderkey', 'o_orderkey')} AS l_orderkey,
               {k('l_partkey', 'p_partkey')} AS l_partkey,
               {k('l_suppkey', 's_suppkey')} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM {src('lineitem')} CROSS JOIN {rep}""", "l_orderkey, l_linenumber")
    write("events", f"""
        SELECT {k('event_id')} AS event_id, ts, {k('user_id')} AS user_id,
               event_type, value, props
        FROM {src('events')} CROSS JOIN {rep}""", "event_id", row_group=65536)
    prefixed = "regexp_replace(text, '(\\S+)', tag || '_\\1', 'g')"
    write("documents", f"""
        SELECT {k('doc_id')} AS doc_id,
               CASE WHEN i = 0 THEN text ELSE {prefixed} END AS text,
               lang, source,
               CASE WHEN i = 0 THEN n_chars
                    ELSE CAST(length({prefixed}) AS BIGINT) END AS n_chars
        FROM {src('documents')} CROSS JOIN {rep}""", "doc_id", row_group=8192)
    write("embeddings", f"""
        SELECT {k('vec_id')} AS vec_id,
               CASE WHEN i = 0 THEN embedding
                    ELSE CAST(list_transform(
                        list_zip(embedding, range(1, len(embedding) + 1)),
                        z -> z[1]
                          * (1 + 0.25 * (CAST(hash({seed}, i, z[2]) % 7 AS BIGINT) - 3))
                          * (CASE WHEN hash({seed} + 1, i, z[2]) % 5 = 0
                                  THEN -1 ELSE 1 END)) AS FLOAT[])
               END AS embedding,
               label
        FROM {src('embeddings')} CROSS JOIN {rep}""", "vec_id", row_group=4096)

    tables = {}
    for t in TABLES:
        p = f"{tmp}/{t}.parquet"
        tables[t] = {"rows": con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0],
                     "bytes": os.path.getsize(p)}
    con.close()
    shutil.rmtree(f"{tmp}/.duckdb_tmp", ignore_errors=True)
    manifest = {"seed": seed, "multiplier": mult, "base": "sf0.01",
                "tables": tables}
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return manifest
