#!/usr/bin/env python3
"""Deterministic 10x scale-up of an sf0.1 testdata dir -> an "sf1" bench dir.

Bench-harness tooling only (like the DuckDB oracle timer embedded in
graft.Bench): the Scala library never depends on this. The point is to
measure the engine where the ~85ms/query Spark job floor amortizes, per
VERDICT r4 ("run the bench at sf1 alongside sf0.1").

Scaling rules (replica r in 0..9; replica 0 is the original rows):
  - region/nation: copied as-is (TPC-H dims are constant across SF).
  - every key/foreign-key column shifts by r * stride(table), where
    stride is the next power of 10 above the source max — referential
    integrity is preserved exactly (join fan-outs stay 1:1 with sf0.1).
  - categorical/measure/timestamp columns are untouched, so filter
    selectivities and time-bucket counts scale linearly.
  - documents.text: replicas r>0 get a marker token 'w<r>' inserted
    every 2 words. Any 3 consecutive tokens then contain a marker, so
    word-3-gram shingle sets are DISJOINT across replicas (no cross-
    replica exact or near dups at the q30 threshold), while within a
    replica the source corpus's dup structure is preserved verbatim --
    near-dup pair volume scales ~linearly like a real bigger crawl.
  - embeddings.embedding: element-deterministic perturbation
    x + 0.001*sin(1000*x + vec_id) so replica vectors are distinct but
    the cluster geometry survives.
  - events is rewritten with pyarrow, not DuckDB, because its ts column
    is parquet timestamp[ns] (the library reads it as ns-longs via
    nanosAsLong) and the oracle SQL uses epoch_ns(ts): both sides need
    the NANOS annotation preserved on the scaled copy.

Output: single parquet file per table named <table>.parquet (same layout
as the source dir), written to a tmp dir and atomically renamed in, with
a version marker so Bench regenerates when this generator changes.
"""
import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "gen-sf1-v4"
REPLICAS = 10  # overridden by argv[3] for scale-rehearsal dirs (sf5/sf10)

# table -> list of (column, stride_source_table, stride_source_column)
# stride_source lets foreign keys reuse the primary table's stride.
KEY_COLS = {
    "customer": [("c_custkey", "customer", "c_custkey")],
    "supplier": [("s_suppkey", "supplier", "s_suppkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "orders": [("o_orderkey", "orders", "o_orderkey"),
               ("o_custkey", "customer", "c_custkey")],
    "lineitem": [("l_orderkey", "orders", "o_orderkey"),
                 ("l_partkey", "part", "p_partkey"),
                 ("l_suppkey", "supplier", "s_suppkey")],
    "events": [("event_id", "events", "event_id"),
               ("user_id", "events", "user_id")],
    "documents": [("doc_id", "documents", "doc_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
}

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def stride_above(v):
    s = 1
    while s <= v:
        s *= 10
    return s


def main(src, dst):
    marker = os.path.join(dst, "_GRAFT_SF1_OK")
    # replica-count-qualified marker (bare GEN_VERSION == the default 10)
    want = GEN_VERSION if REPLICAS == 10 else f"{GEN_VERSION}-r{REPLICAS}"
    if os.path.isfile(marker) and open(marker).read().strip() == want:
        print(f"scaled dir up to date: {dst}")
        return
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(tmp)

    con = duckdb.connect()
    strides = {}

    def stride(table, col):
        key = (table, col)
        if key not in strides:
            mx = con.execute(
                f"SELECT max({col}) FROM read_parquet('{src}/{table}.parquet')"
            ).fetchone()[0]
            strides[key] = stride_above(int(mx))
        return strides[key]

    for t in TABLES:
        out = os.path.join(tmp, f"{t}.parquet")
        if t in ("region", "nation"):
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), out)
            continue
        if t == "events":
            scale_events(src, out)
            continue
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
        ).fetchall()
        shifted = {c: f"({c} + r * {stride(st, sc)})"
                   for c, st, sc in KEY_COLS[t]}
        exprs = []
        for name, *_ in cols:
            if name in shifted:
                exprs.append(f"{shifted[name]} AS {name}")
            elif t == "documents" and name == "text":
                # insert marker token every 2 words on replicas > 0
                exprs.append(
                    "CASE WHEN r = 0 THEN text ELSE "
                    "regexp_replace(text, '(\\S+ \\S+) ', "
                    "'\\1 w' || r || ' ', 'g') END AS text")
            elif t == "documents" and name == "n_chars":
                exprs.append("0 AS n_chars")  # recomputed below
            elif t == "embeddings" and name == "embedding":
                exprs.append(
                    "list_transform(embedding, x -> CAST(x + 0.001 * "
                    f"sin(1000 * x + vec_id + r * {stride('embeddings', 'vec_id')}) "
                    "AS FLOAT)) AS embedding")
            else:
                exprs.append(name)
        sel = ", ".join(exprs)
        q = (f"SELECT {sel} FROM read_parquet('{src}/{t}.parquet') "
             f"CROSS JOIN (SELECT unnest(range({REPLICAS})) AS r)")
        if t == "documents":
            q = f"SELECT * REPLACE (length(text) AS n_chars) FROM ({q})"
        # Text/vector tables compress ~50x, so DuckDB's default layout (one
        # file, ~122k-row row groups) packs the whole table into a couple
        # of indivisible splits — a Spark scan then runs the downstream
        # compute-heavy kernels (shingling, quality, ANN scoring) on 1-2
        # tasks. Byte-based split planning misjudges compute-per-byte by
        # the compression ratio, so these tables are written as a
        # DIRECTORY of 16 small files: under Spark's default
        # openCostInBytes each small file occupies its own partition
        # (16-way scan — measured faster than 32: the compute kernels
        # saturate by ~16 way at this volume while every extra scan task
        # costs dispatch on ALL the light queries), with small row
        # groups inside for good measure.
        # Numeric tables keep the single-file default (their row groups
        # are big enough that byte splits land on them).
        if t in ("documents", "embeddings"):
            nfiles = 16 if REPLICAS <= 10 else 64
            idc = KEY_COLS[t][0][0]
            os.makedirs(out)
            # materialize the replica expansion ONCE; 16 filtered COPYs
            # from the temp table instead of re-running the expansion
            # query (cross-join replication + text rewrite) per bucket
            con.execute(f"CREATE OR REPLACE TEMP TABLE _exp AS {q}")
            for b in range(nfiles):
                con.execute(
                    f"COPY (SELECT * FROM _exp WHERE {idc} % {nfiles} = {b}) "
                    f"TO '{out}/part-{b:02d}.parquet' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 4096)")
            con.execute("DROP TABLE _exp")
        else:
            con.execute(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")

    with open(os.path.join(tmp, "_GRAFT_SF1_OK"), "w") as f:
        f.write(want)
    os.rename(tmp, dst)
    print(f"wrote {dst}")


def scale_events(src, out):
    tbl = pq.read_table(os.path.join(src, "events.parquet"))
    ev_stride = stride_above(pa.compute.max(tbl["event_id"]).as_py())
    u_stride = stride_above(pa.compute.max(tbl["user_id"]).as_py())
    parts = []
    for r in range(REPLICAS):
        cols = {}
        for name in tbl.column_names:
            c = tbl[name]
            if name == "event_id":
                c = pa.compute.add(c, r * ev_stride)
            elif name == "user_id":
                c = pa.compute.add(c, r * u_stride)
            cols[name] = c
        parts.append(pa.table(cols, schema=tbl.schema))
    pq.write_table(pa.concat_tables(parts), out, row_group_size=131072)


if __name__ == "__main__":
    if len(sys.argv) > 3:
        REPLICAS = int(sys.argv[3])
    main(sys.argv[1], sys.argv[2])
