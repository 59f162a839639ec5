"""Deterministically scale /root/testdata/sf0.1 by COPIES (default 10x) for
the out-of-decade correctness run: the oracle gate is green at
sf0.001/0.01/0.1, and one more decade guards the estimator paths that
change regime with scale (HLL sparse->dense crossover, LSH bucket
occupancy, AQE broadcast->shuffle degradation in the anti-join caps,
quantile compaction depth).

Each scaled table is the union of COPIES shifted/perturbed copies —
key columns move by copy * KEY_SHIFT so ids stay unique, text gets a
per-copy marker token (so exact-dup groups don't explode combinatorially),
embeddings get a tiny per-copy first-component nudge, prices/values a
per-copy epsilon. Everything is a pure function of the input and the copy
index: re-running produces byte-identical content. The gate compares
Spark vs DuckDB on the SAME files, so cross-table referential drift is
irrelevant to correctness; distribution shape is what matters.

Output: one parquet FILE per table (row groups sized so Spark still gets
parallel splits; DuckDB read_parquet wants files, not directories).

DuckDB runs with a memory limit of a quarter of the machine's MemTotal,
not its default 80% of RAM: the build runs beside Spark gates, and at the
default it was killed by the kernel's OOM killer while writing lineitem.

Usage: python tools/make_sfbig.py [out_dir] [copies]   (default .sfbig 10)
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cardinality_estimation_evaluation_framework_spark.session import mem_total_kib

SRC = "/root/testdata/sf0.1"
KEY_SHIFT = 10_000_000

COPY_AS_IS = ["region", "nation", "supplier", "part"]

SCALED = {
    "customer": """
        SELECT c_custkey + {shift} AS c_custkey, c_name, c_nationkey,
               round(c_acctbal + {c} * 0.01, 2) AS c_acctbal, c_mktsegment
        FROM src""",
    "orders": """
        SELECT o_orderkey + {shift} AS o_orderkey,
               o_custkey + {shift} AS o_custkey, o_orderstatus,
               round(o_totalprice + {c} * 0.01, 2) AS o_totalprice,
               o_orderdate + INTERVAL ({c}) SECOND AS o_orderdate,
               o_orderpriority
        FROM src""",
    "lineitem": """
        SELECT l_orderkey + {shift} AS l_orderkey, l_partkey, l_suppkey,
               l_linenumber, l_quantity,
               round(l_extendedprice + {c} * 0.01, 2) AS l_extendedprice,
               l_discount, l_tax, l_returnflag, l_linestatus,
               l_shipdate + INTERVAL ({c}) SECOND AS l_shipdate
        FROM src""",
    "events": """
        SELECT event_id + {shift} AS event_id,
               ts + INTERVAL ({c}) SECOND AS ts,
               user_id + {c} * 100000 AS user_id, event_type, value, props
        FROM src""",
    "documents": """
        SELECT doc_id + {shift} AS doc_id,
               CASE WHEN {c} = 0 THEN text
                    ELSE text || ' copymark{c}' END AS text,
               lang, source, n_chars
        FROM src""",
    "embeddings": """
        SELECT vec_id + {shift} AS vec_id,
               CASE WHEN {c} = 0 THEN embedding
                    ELSE list_prepend(CAST(embedding[1] + {c} * 0.01 AS FLOAT),
                                      embedding[2:]) END AS embedding,
               label
        FROM src""",
}


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".sfbig")
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    kib = mem_total_kib()
    if kib is not None:
        con.execute(f"SET memory_limit = '{kib // 4}KiB'")
    for t in COPY_AS_IS:
        con.execute(f"""
            COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))
            TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)""")
        print(f"{t}: copied")
    for t, tmpl in SCALED.items():
        parts = []
        for c in range(copies):
            sel = tmpl.format(c=c, shift=c * KEY_SHIFT).replace(
                "FROM src", f"FROM read_parquet('{SRC}/{t}.parquet')")
            parts.append(f"({sel})")
        union = " UNION ALL ".join(parts)
        con.execute(f"""
            COPY ({union}) TO '{out_dir}/{t}.parquet'
            (FORMAT PARQUET, ROW_GROUP_SIZE 65536)""")
        n = con.sql(f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows ({copies}x)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
