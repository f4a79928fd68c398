"""The benchmark's workloads: seed-driven inputs, one pass, and its check.

Each workload has three parts and names the standard its set-up loads:

- ``prepare(seed, directory)`` runs in a child process. It writes the
  inputs with DuckDB and computes the expected result with DuckDB, so
  neither the generator nor the oracle adds to the benchmark process's
  memory.
- ``run_pass(tracer, spark, directory, prepared)`` is one timed pass, from
  reading the inputs to the sink. It wraps every call into the package in
  a span named after the layer it enters.
- ``check(result, prepared, pool)`` compares a pass's output with the
  oracle. It runs outside the timed region.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
import biomedical_data_integration_spark as bdi
from biomedical_data_integration_spark.operators.schema_matching import (
    DistributionBasedSchemaMatcher,
)
from biomedical_data_integration_spark.sources import load_table
from tools.check_oracle import canon

_ORDERS = """SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey,
  o_orderstatus, o_totalprice::DOUBLE AS o_totalprice,
  o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority FROM orders"""

_LINEITEM = """SELECT {orderkey}::BIGINT AS l_orderkey, {partkey}::BIGINT AS l_partkey,
  l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber,
  l_quantity::DOUBLE AS l_quantity, l_extendedprice::DOUBLE AS l_extendedprice,
  l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, l_returnflag,
  l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate FROM {source}"""


def duck(directory: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{directory}/duckdb.tmp'")
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET enable_progress_bar = false")
    return con


def _tpch(con, sf: float, directory: str, tables: dict) -> None:
    """TPC-H at ``sf``; each ``tables[name]`` is ``(select, order by)``."""
    con.execute(f"CALL dbgen(sf={sf})")
    os.makedirs(directory, exist_ok=True)
    for name, (select, order) in tables.items():
        con.execute(
            f"COPY ({select} ORDER BY {order}) TO '{directory}/{name}.parquet' (FORMAT parquet)"
        )


def _oracle(directory: str, names, query: str) -> pd.DataFrame:
    """``__spark_entry__``'s oracle SQL for ``query`` over the generated inputs
    (a fresh connection: the generator's tables would shadow the views)."""
    con = duck(directory)
    for n in names:
        con.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM '{directory}/{n}.parquet'")
    return canon(con.sql(entry.oracle_sql()[query]).df())


def _canon_rows(rows, columns) -> pd.DataFrame:
    return canon(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns))


class HarmonizeGdc:
    """The golden harmonization flow on orders at sf0.001: the input is
    negligible, so a pass is the fixed cost of driver planning, job
    launches and small collects."""

    name = "harmonize_gdc"
    input_desc = "orders sf0.001 (1,500 rows)"
    standard = "gdc"

    @staticmethod
    def prepare(seed: int, directory: str) -> dict:
        con = duck(directory)
        order = f"hash(o_orderkey, {seed})"
        _tpch(con, 0.001, directory, {"orders": (_ORDERS, order)})
        rows = con.sql(f"SELECT count(*) FROM '{directory}/orders.parquet'").fetchone()[0]
        expected = _oracle(directory, ["orders"], "harmonize_end_to_end")
        return {"rows": rows, "expected": expected}

    @staticmethod
    def run_pass(tracer, spark, directory, prepared):
        """The calls of ``__spark_entry__``'s ``harmonize_end_to_end``."""
        clinical = load_table(spark, directory, "orders").select(
            F.expr(entry.GDC_FIGO_CASE).alias("FIGO_stage"),
            F.expr(entry.GDC_ETHNICITY_CASE).alias("Ethnicity"),
            F.col("o_orderpriority").alias("Priority"),
        )
        with tracer.span("sources.standards", "get_standard"):
            standard = bdi.get_standard("gdc")
        with tracer.span("operators.schema_matching", "match_schema"):
            sm = bdi.match_schema(
                clinical.select("Ethnicity", "FIGO_stage"), standard, method="coma"
            )
        with tracer.span("sink", "collect"):
            sm_rows = sm.collect()
        column_mapping = sorted((r["source"], r["target"]) for r in sm_rows if r["target"])
        with tracer.span("operators.value_matching", "match_values"):
            vm = bdi.match_values(
                clinical, standard, column_mapping,
                method="tfidf", threshold=entry.VALUE_MATCH_THRESHOLD,
            )
        with tracer.span("sink", "collect"):
            vrows = vm.collect()
        computed = [
            {
                "source": s,
                "target": t,
                "matches": [
                    (r["source_value"], r["target_value"])
                    for r in vrows
                    if r["source_column"] == s and r["target_value"] is not None
                ],
            }
            for s, t in column_mapping
        ]
        with tracer.span("plans", "merge_mappings"):
            plan = bdi.merge_mappings(
                computed,
                user_mappings=[
                    {"source": "Priority", "target": "priority_level", "mapper": lambda v: v.lower()}
                ],
            )
        with tracer.span("plans", "materialize_mapping"):
            out = bdi.materialize_mapping(clinical, plan)
        with tracer.span("sink", "noop"):
            out.write.mode("overwrite").format("noop").save()
        return out

    @staticmethod
    def check(out, prepared, pool) -> bool:
        return canon(out.toPandas()).equals(prepared["expected"])


class MatchScan:
    """Column matching over orders x lineitem at sf0.1: the data-bound side
    of schema matching (scans, sorts, shuffles, eager pins)."""

    name = "match_scan"
    input_desc = "orders + lineitem sf0.1 (750,000 rows)"
    standard = None

    @staticmethod
    def prepare(seed: int, directory: str) -> dict:
        con = duck(directory)
        lineitem = _LINEITEM.format(orderkey="l_orderkey", partkey="l_partkey", source="lineitem")
        _tpch(con, 0.1, directory, {
            "orders": (_ORDERS, f"hash(o_orderkey, {seed})"),
            "lineitem": (lineitem, f"hash(l_orderkey, l_linenumber, {seed})"),
        })
        rows = sum(
            con.sql(f"SELECT count(*) FROM '{directory}/{n}.parquet'").fetchone()[0]
            for n in ("orders", "lineitem")
        )
        names = ["orders", "lineitem"]
        return {
            "rows": rows,
            "scores": _oracle(directory, names, "schema_match_distribution_orders_lineitem"),
            "top": _oracle(directory, names, "top_matches_hash_embedding"),
        }

    @staticmethod
    def run_pass(tracer, spark, directory, prepared):
        orders, lineitem = (load_table(spark, directory, n) for n in ("orders", "lineitem"))
        with tracer.span("operators.schema_matching", "DistributionBasedSchemaMatcher.scores"):
            scores = DistributionBasedSchemaMatcher(quantiles=entry.DIST_QUANTILES).scores(
                orders, lineitem
            )
        with tracer.span("sink", "collect"):
            score_rows = scores.collect()
        with tracer.span("operators.schema_matching", "top_matches"):
            top = bdi.top_matches(orders, target=lineitem, top_k=3, method="ct_learning")
        with tracer.span("sink", "collect"):
            top_rows = top.collect()
        return (scores.columns, score_rows), (top.columns, top_rows)

    @staticmethod
    def check(out, prepared, pool) -> bool:
        (sc, srows), (tc, trows) = out
        return _canon_rows(srows, sc).equals(prepared["scores"]) and _canon_rows(
            trows, tc
        ).equals(prepared["top"])


# materialize_10x: lineitem sf0.1 copied 10x; copy i shifts its order keys
# into its own million and rotates its part keys by a seed-derived offset,
# so every copy hits the 20k-entry brand dictionary with different keys
_COPIES = 10
_PARTS = 20_000  # parts at sf0.1: the brand dictionary's size
_RETURN_STATUS = {"A": "accepted", "N": "none", "R": "returned"}
_OUTPUT_GROUPS = """SELECT return_status, line_status, brand, count(*)::BIGINT,
  sum(order_id)::BIGINT, sum(price_cents)::BIGINT FROM {source}
  GROUP BY ALL ORDER BY ALL"""


class Materialize10x:
    """A saved plan replayed over 6M rows and written to parquet: plans
    work per row, across the Arrow/Python boundary, with a broadcast-join
    dictionary kernel."""

    name = "materialize_10x"
    input_desc = f"lineitem sf0.1 x{_COPIES} (6,001,215 rows)"
    standard = None

    @staticmethod
    def prepare(seed: int, directory: str) -> dict:
        con = duck(directory)
        shift = f"(hash(c.i, {seed}) % {_PARTS})::BIGINT"
        lineitem = _LINEITEM.format(
            orderkey=f"l_orderkey + c.i * 1000000 + (hash(c.i, {seed}) % 400000)::BIGINT",
            partkey=f"(l_partkey - 1 + {shift}) % {_PARTS} + 1",
            source=f"lineitem, range({_COPIES}) c(i)",
        )
        _tpch(con, 0.1, directory, {
            "lineitem": (lineitem, f"hash(l_orderkey, l_linenumber, c.i, {seed})"),
        })
        brands = dict(con.sql("SELECT p_partkey::BIGINT, p_brand FROM part").fetchall())
        status = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _RETURN_STATUS.items())
        expected_rows = f"""(SELECT CASE l_returnflag {status} END AS return_status,
            lower(l_linestatus) AS line_status, p_brand AS brand, l_orderkey AS order_id,
            floor(l_extendedprice * 100)::BIGINT AS price_cents
          FROM '{directory}/lineitem.parquet' LEFT JOIN part ON l_partkey = p_partkey)"""
        expected = con.sql(_OUTPUT_GROUPS.format(source=expected_rows)).fetchall()
        rows = con.sql(f"SELECT count(*) FROM '{directory}/lineitem.parquet'").fetchone()[0]
        return {"rows": rows, "brands": brands, "expected": expected}

    @staticmethod
    def run_pass(tracer, spark, directory, prepared):
        spec = [
            {"source": "l_orderkey", "target": "order_id", "mapper": bdi.IdentityValueMapper()},
            {"source": "l_returnflag", "target": "return_status",
             "mapper": bdi.DictionaryMapper(_RETURN_STATUS)},
            {"source": "l_partkey", "target": "brand",
             "mapper": bdi.DictionaryMapper(prepared["brands"])},
            {"source": "l_extendedprice", "target": "price_cents",
             "mapper": bdi.ExpressionValueMapper("floor({col} * 100)")},
        ]
        lineitem = load_table(spark, directory, "lineitem")
        plan_path = os.path.join(directory, "plan.json")
        out_path = os.path.join(directory, "harmonized")
        with tracer.span("plans", "save_plan"):
            bdi.save_plan(spec, plan_path)
        with tracer.span("plans", "load_plan"):
            loaded = bdi.load_plan(plan_path)
        with tracer.span("plans", "merge_mappings"):
            plan = bdi.merge_mappings(
                loaded,
                user_mappings=[{
                    "source": "l_linestatus", "target": "line_status",
                    "mapper": bdi.FunctionValueMapper(lambda v: v.lower()),
                }],
            )
        with tracer.span("plans", "materialize_mapping"):
            out = bdi.materialize_mapping(lineitem, plan)
        with tracer.span("sink", "write.parquet"):
            out.write.mode("overwrite").parquet(out_path)
        return out_path

    @staticmethod
    def check(out_path, prepared, pool) -> bool:
        return pool.submit(output_groups, out_path).result() == prepared["expected"]


def output_groups(out_path: str):
    """The harmonized output's grouped counts and sums, read by DuckDB."""
    con = duck(os.path.dirname(out_path))
    return con.sql(
        _OUTPUT_GROUPS.format(source=f"read_parquet('{out_path}/*.parquet')")
    ).fetchall()


WORKLOADS = {w.name: w for w in (HarmonizeGdc, MatchScan, Materialize10x)}


def prepare(name: str, seed: int, directory: str) -> dict:
    """Child-process entry: generate ``name``'s inputs and expected output."""
    return WORKLOADS[name].prepare(seed, directory)
