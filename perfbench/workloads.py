"""The two workloads: their items, how one item runs, and how it is checked.

* ``interchange`` exports each SQL text of ``__spark_entry__`` (``_Q01`` and
  ``_SQL``) to wire bytes and imports it back to a physical plan, and imports
  the wire goldens under ``tests/wire_fixtures``. Nothing executes in a pass,
  so its tables do not depend on the seed (see ``table_seed``).
* ``executed`` builds items of ``bench.py``'s list through
  ``__spark_entry__.queries()`` and executes each into the noop sink: the
  relational ``q*`` items (the JSON roundtrip plus the hand-written
  foreign-plan legs, so the consumer's plans run) and the operator-pipeline
  items, which never touch the plans layers.

Layer spans are opened here, around calls into each layer's public
functions. For ``executed``, ``plan_bindings`` rebinds the plans functions
where ``plans.serializer.roundtrip`` and ``__spark_entry__`` look them up, so
calls made inside the items get spans too.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time

from perfbench.reference import summarize_df
from perfbench.spans import Tracer

RELATIONAL = (
    "q01_pricing_summary", "q03_filter_arith", "q05_group_agg",
    "q06_agg_distinct_filter", "q08_join3", "q09_outer_joins",
    "q20_top_revenue", "q24_window", "q28_explode",
)
# One or two per operator family, from bench.py's list: exact and MinHash
# dedup, IVF similarity search, text quality and language id, sessionizing
# and as-of joins over events, and the Arrow-batched mapInPandas seam. The
# list leaves out d3, d8, t13, s1, e1 and e7 so that a run fits the time a
# benchmark run is given (a warm pass of all 14 pipeline items takes 12 s
# at sf0.01 and their cold check pass 28 s, on 4 cores).
PIPELINES = (
    "d1_exact_dedup", "d2_minhash_pairs", "s3_ivf_topk", "t2_quality",
    "t3_lang_id", "e2_sessionize", "e6_asof_join", "m1_multimodal_meta",
)

# Hand-written Spark SQL with the result each wire golden must import to.
GOLDEN_SQL = {
    "g1_read_filter_aggregate":
        "SELECT n_regionkey AS rk, sum(n_nationkey) AS s FROM nation "
        "WHERE n_regionkey = 1 GROUP BY n_regionkey",
    "g2_join":
        "SELECT n_nationkey AS nk, n_regionkey AS nrk, r_regionkey AS rk, "
        "r_name AS rn FROM nation JOIN region ON n_regionkey = r_regionkey",
    "g3_window":
        "SELECT n_name, sum(n_nationkey) OVER (PARTITION BY n_regionkey "
        "ORDER BY n_nationkey ASC NULLS FIRST ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS rt FROM nation",
    "g4_virtual_table":
        "SELECT * FROM VALUES "
        "(CAST(7 AS BIGINT), 'x', true, DATE'2022-01-08', "
        "CAST(123.45 AS DECIMAL(5,2))), "
        "(CAST(NULL AS BIGINT), 'y', false, DATE'1970-01-01', "
        "CAST(-123.45 AS DECIMAL(5,2))) AS t(a, b, c, d, e)",
    "g5_sample_over_exchange":
        "SELECT n_name FROM (SELECT /*+ REPARTITION(3, n_regionkey) */ "
        "n_name, n_regionkey FROM nation) TABLESAMPLE (50 PERCENT) "
        "REPEATABLE (7)",
    "g6_setop_sort_fetch":
        "SELECT k FROM (SELECT n_regionkey AS k FROM nation UNION "
        "SELECT r_regionkey FROM region) ORDER BY k DESC NULLS LAST "
        "LIMIT 3 OFFSET 1",
    "g7_lambda_transform":
        "SELECT n_name AS name, transform(array(n_name, n_name), "
        "x -> upper(x)) AS arr FROM nation",
    "g8_emit_project":
        "SELECT n_regionkey + 100 AS rk100, n_regionkey AS rk FROM nation",
}

# scale factor of each workload's tables
SCALES = {"interchange": 0.001, "executed": 0.01}


def table_seed(workload: str, seed: int) -> int:
    """Seed of a workload's tables. The interchange passes read no rows (a
    plan is imported down to its physical plan, never executed), so its
    tables are fixed and only the item order follows the seed."""
    return 0 if workload == "interchange" else seed


class Interchange:
    """Exports and imports plans; nothing executes inside a pass."""

    name = "interchange"

    def __init__(self, root: str, tracer: Tracer) -> None:
        import __spark_entry__ as entry

        self.tracer = tracer
        self.sql = {"q01_pricing_summary": entry._Q01, **entry._SQL}
        self.goldens = {}
        for path in sorted(glob.glob(os.path.join(root, "tests", "wire_fixtures",
                                                  "*.bin"))):
            with open(path, "rb") as fh:
                self.goldens[os.path.basename(path)[:-4]] = fh.read()
        if set(self.goldens) != set(GOLDEN_SQL):
            raise RuntimeError(
                f"wire goldens {sorted(self.goldens)} do not match the "
                f"reference SQL for {sorted(GOLDEN_SQL)}")
        self.items = tuple(sorted(self.sql)) + tuple(sorted(self.goldens))
        self.export_s: list[float] = []
        self.import_s: list[float] = []
        self._direct: dict | None = None

    def _export(self, spark, sql: str) -> bytes:
        from datafusion_substrait_spark.plans import producer, wire

        t = self.tracer
        with t.span("analyze"):
            df = spark.sql(sql)
            df._jdf.queryExecution().optimizedPlan()
        with t.span("producer"):
            plan = producer.to_substrait_plan(df)
        with t.span("wire.encode"):
            return wire.encode_plan(plan)

    def _import(self, spark, data: bytes):
        from datafusion_substrait_spark.plans import consumer, wire

        t = self.tracer
        with t.span("wire.decode"):
            plan = wire.decode_plan(data)
        t.count("wire.bytes", len(data))
        with t.span("consumer"):
            df = consumer.from_substrait_plan(spark, plan)
        with t.span("physical"):
            df._jdf.queryExecution().executedPlan()
        return df

    def run(self, spark, item: str, data_dir: str):
        """One export+import (SQL texts) or import (goldens); returns the
        imported DataFrame."""
        if item in self.sql:
            t0 = time.perf_counter()
            data = self._export(spark, self.sql[item])
            t1 = time.perf_counter()
            df = self._import(spark, data)
            t2 = time.perf_counter()
            self.export_s.append(t1 - t0)
        else:
            t1 = time.perf_counter()
            df = self._import(spark, self.goldens[item])
            t2 = time.perf_counter()
        self.import_s.append(t2 - t1)
        return df

    def verify(self, spark, item: str, data_dir: str) -> tuple[dict, dict]:
        """(summary of the imported plan's result, summary of what Spark
        returns for the SQL directly — for a golden, its hand-written
        equivalent).

        The direct results are kept next to the tables, keyed by the SQL
        text, so later runs over the same tables execute only the imported
        plans."""
        got = summarize_df(self.run(spark, item, data_dir))
        sql = self.sql.get(item) or GOLDEN_SQL[item]
        path = os.path.join(data_dir, "_direct_sql_results.json")
        if self._direct is None:
            self._direct = {}
            if os.path.exists(path):
                with open(path) as fh:
                    self._direct = json.load(fh)
        key = hashlib.sha256(sql.encode("utf-8")).hexdigest()
        if key not in self._direct:
            self._direct[key] = summarize_df(spark.sql(sql))
            with open(path + ".tmp", "w") as fh:
                json.dump(self._direct, fh)
            os.replace(path + ".tmp", path)
        return got, self._direct[key]

    def take_times(self) -> tuple[list[float], list[float]]:
        """Export and import seconds recorded since the previous call."""
        out = self.export_s, self.import_s
        self.export_s, self.import_s = [], []
        return out

    def plan_bindings(self, spark) -> list:
        return []


class Executed:
    """Builds ``__spark_entry__.queries()[item]`` and executes it into the
    noop sink."""

    name = "executed"
    items = RELATIONAL + PIPELINES

    def __init__(self, tracer: Tracer) -> None:
        import __spark_entry__ as entry

        self.tracer = tracer
        self.queries = entry.queries()

    def run(self, spark, item: str, data_dir: str):
        t = self.tracer
        with t.span("build"):
            df = self.queries[item](spark, data_dir)
        with t.span("execute"):
            df.write.mode("overwrite").format("noop").save()
        return df

    def verify(self, spark, item: str, data_dir: str) -> tuple[dict, None]:
        """(summary of the item's result, None: the reference comes from
        DuckDB, see ``reference.py``)."""
        return summarize_df(self.queries[item](spark, data_dir)), None

    def take_times(self) -> tuple[list[float], list[float]]:
        return [], []

    def plan_bindings(self, spark) -> list:
        """Rebindings that give the plans calls inside ``roundtrip()`` and
        the entry's foreign-plan legs their own spans."""
        from datafusion_substrait_spark.plans import consumer, proto, serializer

        t = self.tracer
        sql = spark.sql

        def analyzed_sql(*args, **kwargs):
            # spark.sql parses and analyzes eagerly; optimizing here takes
            # nothing extra, because the producer reads this same lazily
            # optimized plan right after
            with t.span("analyze"):
                df = sql(*args, **kwargs)
                df._jdf.queryExecution().optimizedPlan()
            return df

        orig_dumps = proto.dumps

        def dumps(p):
            with t.span("proto.dumps"):
                out = orig_dumps(p)
            t.count("proto.bytes", len(out))
            return out

        consume = t.wrap("consumer", consumer.from_substrait_plan)
        return [
            (spark, "sql", analyzed_sql),
            (serializer, "to_substrait_plan",
             t.wrap("producer", serializer.to_substrait_plan)),
            (serializer, "from_substrait_plan", consume),
            (consumer, "from_substrait_plan", consume),
            (proto, "dumps", dumps),
            (proto, "loads", t.wrap("proto.loads", proto.loads)),
        ]


def make(name: str, root: str, tracer: Tracer):
    return Interchange(root, tracer) if name == "interchange" else Executed(tracer)
