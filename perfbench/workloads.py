"""Workload definitions: the fixed op list of each workload, how one op
runs, and how its output is checked."""

from __future__ import annotations

import os

import checks

# The query workload runs two groups of registry queries in one op list.
# Executor-bound: cheap builds that fire no jobs, so a build-layer change
# should leave their ops flat.
QUERY_EXEC = [
    "pricing_summary", "join_3way", "topk_per_group", "anti_join_merge",
    "explode", "json_extract", "sessionize", "text_quality",
]
# Driver-bound: jobs fired while the DataFrame is built.
QUERY_DRIVER = ["label_propagation"]
ETL_OPS = [
    "lineitem_dump", "events_base", "events_append", "orders_base",
    "orders_merge_1pct", "orders_merge_20pct", "jdbc_extract",
]

LI_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
           "l_discount", "l_returnflag", "l_shipdate"]
EV_COLS = ["event_id", "ts", "user_id", "event_type", "props"]
ORD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


class QueryWorkload:
    """One op = the registry function call (build) plus a noop write of
    its result (exec). The noop sink consumes every output column;
    ``count()`` would let Catalyst prune them."""

    def __init__(self, name: str, ops: list[str], passes_per_10s: int, data_dir: str) -> None:
        import __spark_entry__ as entry

        self.name, self.ops, self.data_dir = name, ops, data_dir
        self.passes_per_10s = passes_per_10s
        self._queries = entry.queries()
        self._oracles = entry.oracle_sql()
        self._con = None

    def prepare(self, spark) -> None:
        from oracle_compare import register_views

        self._con = checks.connect()
        register_views(self._con, self.data_dir)

    def build(self, spark, op: str):
        return self._queries[op](spark, self.data_dir)

    @staticmethod
    def execute(df, keep_rows: bool = False):
        """The noop write. On the checked (cold) pass, a collect instead,
        whose rows the oracle check then reads, so that no op runs twice."""
        if keep_rows:
            return checks.Collected(df.columns, df.collect())
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, op: str, df) -> tuple[bool, int]:
        return checks.compare_query(self._con, df, self._oracles[op])

    def outputs(self, op: str) -> list[str]:
        return []

    def input_bytes(self, op: str) -> int:
        return 0


class EtlWorkload:
    """One op = one ``jobspec.run_job`` call. The sequence runs the same
    way on every pass: OVERWRITE and APPEND loads of events, an orders
    OVERWRITE base load followed by two MERGE batches, a lineitem dump
    fanned out to CSV and Hive text, and a range-partitioned JDBC
    extract from embedded Derby."""

    name = "etl_load"
    passes_per_10s = 3  # a warm pass takes about 4.7 s on 4 cores

    def __init__(self, data_dir: str, work_dir: str) -> None:
        self.ops = ETL_OPS
        self.data_dir = data_dir
        self.out = os.path.join(work_dir, "out")
        self.derby_url = f"jdbc:derby:{os.path.join(work_dir, 'derby')};create=true"
        self._con = None
        self.expected: dict[str, dict[str, tuple[int, int]]] = {}
        self.rows_written: dict[str, int] = {}
        self.n_orders = 0

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def specs(self) -> dict[str, dict]:
        d = self.data_dir
        merge = {"mode": "merge", "primary_keys": ["o_orderkey"], "dedup": True,
                 "dedup_uniq_keys": ["o_orderkey"], "dedup_orderby": ["o_totalprice"]}
        json_k = [{"op": "json_extract", "column": "props", "fields": {"k": "$.k"}}]
        return {
            "lineitem_dump": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "lineitem",
                            "columns": LI_COLS, "where": "l_quantity >= 10",
                            "splitby": "l_orderkey", "splits": 4},
                "sinks": [{"kind": "csv", "path": self.path("li_csv")},
                          {"kind": "hive_text", "path": self.path("li_hive")}],
                "load": {"path": self.path("li_target"), "mode": "overwrite"},
            },
            "events_base": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "events",
                            "columns": EV_COLS, "where": "event_id % 2 = 0"},
                "transforms": json_k,
                "load": {"path": self.path("ev_target"), "mode": "overwrite"},
            },
            "events_append": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "events",
                            "columns": EV_COLS, "where": "event_id % 2 = 1"},
                "transforms": json_k,
                "load": {"path": self.path("ev_target"), "mode": "append"},
            },
            "orders_base": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "orders"},
                "load": {"path": self.path("ord_target"), "mode": "overwrite"},
            },
            "orders_merge_1pct": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "orders_batch1"},
                "load": {"path": self.path("ord_target"), **merge},
            },
            "orders_merge_20pct": {
                "extract": {"kind": "parquet", "sf_dir": d, "table": "orders_batch2"},
                "load": {"path": self.path("ord_target"), **merge},
            },
            "jdbc_extract": {
                "extract": {"kind": "jdbc", "url": self.derby_url, "table": "orders_src",
                            "splitby": '"o_orderkey"', "splits": 4,
                            "bounds": (0, self.n_orders - 1), "properties": DERBY},
                "load": {"path": self.path("jdbc_target"), "mode": "overwrite"},
            },
        }

    # op -> {target name: sink kind}; every load target plus the sinks
    _TARGETS = {
        "lineitem_dump": {"li_target": "parquet", "li_csv": "csv", "li_hive": "hive"},
        "events_base": {"ev_target": "parquet"},
        "events_append": {"ev_target": "parquet"},
        "orders_base": {"ord_target": "parquet"},
        "orders_merge_1pct": {"ord_target": "parquet"},
        "orders_merge_20pct": {"ord_target": "parquet"},
        "jdbc_extract": {"jdbc_target": "parquet"},
    }
    _INPUT = {"lineitem_dump": "lineitem", "events_base": "events", "events_append": "events",
              "orders_base": "orders", "orders_merge_1pct": "orders_batch1",
              "orders_merge_20pct": "orders_batch2", "jdbc_extract": "orders"}

    def prepare(self, spark) -> None:
        """Untimed: load the Derby source table and replay the job
        sequence in DuckDB to get each op's expected target state."""
        from lightlane_spark.sources.jdbc import write_jdbc
        from lightlane_spark.sources.parquet import read_table

        orders = read_table(spark, self.data_dir, "orders")
        write_jdbc(orders, self.derby_url, "orders_src", mode="overwrite", properties={
            **DERBY,
            "createTableColumnTypes": "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(32)",
        })
        self._con = con = checks.connect()
        self.expected = replay(con, self.data_dir)
        self.n_orders = self.expected["orders_base"]["ord_target"][0]
        self.rows_written = {
            op: sum(n for t, (n, _) in exp.items() if self._TARGETS[op].get(t) == "parquet")
            for op, exp in self.expected.items()
        }
        self.rows_written["events_append"] -= self.expected["events_base"]["ev_target"][0]
        self._specs = self.specs()

    def build(self, spark, op: str):
        from lightlane_spark import jobspec

        return lambda: jobspec.run_job(spark, self._specs[op])

    @staticmethod
    def execute(job, keep_rows: bool = False) -> None:
        job()

    def check(self, op: str, _) -> tuple[bool, int]:
        ok = True
        for target, kind in self._TARGETS[op].items():
            n_exp, h_exp = self.expected[op][target]
            p = self.path(target)
            if kind == "parquet":
                ok &= checks.digest(self._con, checks.parquet_dir(p)) == (n_exp, h_exp)
            else:
                ok &= checks.text_rows(p, header=kind == "csv") == n_exp
        return ok, self.rows_written[op]

    def outputs(self, op: str) -> list[str]:
        return [self.path(t) for t in self._TARGETS[op]]

    def input_bytes(self, op: str) -> int:
        return os.path.getsize(os.path.join(self.data_dir, f"{self._INPUT[op]}.parquet"))


def replay(con, data_dir: str) -> dict[str, dict[str, tuple[int, int]]]:
    """Expected (rows, digest) of every target an op touches, after that
    op, from an independent DuckDB replay over the same inputs."""
    src = {t: checks.parquet_dir(os.path.join(data_dir, f"{t}.parquet"))
           for t in ("lineitem", "events", "orders", "orders_batch1", "orders_batch2")}
    li = f"SELECT {', '.join(LI_COLS)} FROM {src['lineitem']} WHERE l_quantity >= 10"
    ev = (f"SELECT {', '.join(EV_COLS)}, json_extract_string(props, '$.k') AS k "
          f"FROM {src['events']}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE ord0 AS SELECT * FROM {src['orders']}")
    con.execute("CREATE OR REPLACE TEMP TABLE ord1 AS " + checks.merge_sql(
        "ord0", src["orders_batch1"], ["o_orderkey"], ["o_totalprice"], ORD_COLS))
    con.execute("CREATE OR REPLACE TEMP TABLE ord2 AS " + checks.merge_sql(
        "ord1", src["orders_batch2"], ["o_orderkey"], ["o_totalprice"], ORD_COLS))
    li_d = checks.digest(con, f"({li})")
    return {
        "lineitem_dump": {"li_target": li_d, "li_csv": li_d, "li_hive": li_d},
        "events_base": {"ev_target": checks.digest(con, f"({ev} WHERE event_id % 2 = 0)")},
        "events_append": {"ev_target": checks.digest(con, f"({ev})")},
        "orders_base": {"ord_target": checks.digest(con, "ord0")},
        "orders_merge_1pct": {"ord_target": checks.digest(con, "ord1")},
        "orders_merge_20pct": {"ord_target": checks.digest(con, "ord2")},
        "jdbc_extract": {"jdbc_target": checks.digest(con, "ord0")},
    }


def make(name: str, data_dir: str, work_dir: str):
    if name == "etl_load":
        return EtlWorkload(data_dir, work_dir)
    if name == "query":
        # a warm pass takes about 6 s on 4 cores
        return QueryWorkload(name, QUERY_EXEC + QUERY_DRIVER, 3, data_dir)
    raise SystemExit(f"unknown workload {name!r}; known: etl_load query")
