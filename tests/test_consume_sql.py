"""The consumer compiles a whole plan into ONE Spark SQL statement.

Pins the properties that make that worthwhile and the shapes SQL cannot
spell directly: literal values survive exactly (each literal is its own
text — no value-keyed sharing), consuming a plan costs a bounded number of
py4j round trips (one ``spark.sql`` — not one analyzed Dataset call per rel
or Column), ``to_sql`` shows the statement that runs, and the zero-column,
sample-with-replacement and schema-less-read shapes still consume.
"""

from __future__ import annotations

import json
import math
import os

import pytest

from datafusion_substrait_spark import from_substrait_plan, to_substrait_plan
from datafusion_substrait_spark.plans import proto, wire
from datafusion_substrait_spark.plans.consumer import to_sql
from tests.conftest import rows_set

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "wire_fixtures")


def _nation_read(mask=(0,)):
    return proto.read_rel(["nation"],
                          ["n_nationkey", "n_name", "n_regionkey"], None,
                          list(mask))


def _plan(root: dict, names: list[str]) -> dict:
    return proto.plan(root, names, [])


def test_float_literals_keep_sign_nan_and_infinity(spark):
    """fp64 0.0 and -0.0 compare equal in Python, so a consumer that shared
    one built value per equal literal flipped one zero's sign. Both signs,
    NaN and both infinities must survive consumption exactly."""
    values = [0.0, -0.0, math.nan, math.inf, -math.inf, -0.0, 0.0]
    proj = proto.project_rel(
        _nation_read(), [proto.literal("fp64", v) for v in values])
    names = [f"v{i}" for i in range(len(values))]
    plan = _plan(proto.fetch_rel(proj, 0, 1), names)
    # the same holds after the plan's JSON and wire forms
    for p in (plan, proto.loads(proto.dumps(plan)),
              wire.decode_plan(wire.encode_plan(plan))):
        (row,) = from_substrait_plan(spark, p).collect()
        for want, got in zip(values, row):
            if math.isnan(want):
                assert math.isnan(got)
            else:
                assert got == want
                assert math.copysign(1.0, got) == math.copysign(1.0, want), \
                    (names, list(row))


def _count_py4j(spark, fn):
    """Commands the py4j gateway client sends while ``fn`` runs, garbage-
    collection detaches excluded (they follow Python's GC, not the work)."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = [0]

    def send_command(command, *args, **kwargs):
        if not command.startswith("m\n"):
            calls[0] += 1
        return orig(command, *args, **kwargs)

    client.send_command = send_command
    try:
        fn()
    finally:
        client.send_command = orig
    return calls[0]


def test_consume_is_a_bounded_number_of_round_trips(spark):
    """One three-join plan consumes in at most 15 py4j commands — the
    whole plan is one spark.sql call. Building it rel by rel through the
    DataFrame API took hundreds (one analyzed Dataset call per rel plus
    Column builds and schema fetches)."""
    import __spark_entry__ as entry

    plan = to_substrait_plan(spark.sql(entry._SQL["q08_join3"]))
    plan = json.loads(json.dumps(plan))
    from_substrait_plan(spark, plan)  # warm: first-call imports
    n = _count_py4j(spark, lambda: from_substrait_plan(spark, plan))
    assert n <= 15, f"consume sent {n} py4j commands"


@pytest.mark.parametrize("name, fragment", [
    ("g1_read_filter_aggregate", "GROUP BY"),
    ("g2_join", " JOIN "),
    ("g3_window", " OVER ("),
    ("g4_virtual_table", "VALUES"),
    ("g5_sample_over_exchange", "TABLESAMPLE"),
    ("g6_setop_sort_fetch", "ORDER BY"),
    ("g7_lambda_transform", " -> "),
    ("g8_emit_project", "AS f1"),
])
def test_to_sql_renders_every_wire_golden(spark, name, fragment):
    """``to_sql`` returns the statement ``from_substrait_plan`` runs: the
    rendered text names the golden's operator and, run directly, gives
    the consumed DataFrame's columns and rows."""
    with open(os.path.join(FIXTURE_DIR, f"{name}.bin"), "rb") as fh:
        plan = wire.decode_plan(fh.read())
    stmt = to_sql(plan)
    assert isinstance(stmt, str) and fragment in stmt, stmt
    direct = spark.sql(stmt)
    consumed = from_substrait_plan(spark, plan)
    assert direct.columns == consumed.columns
    assert rows_set(direct) == rows_set(consumed)


def test_zero_column_root(spark):
    """A root with no columns (SQL cannot select nothing) still consumes:
    one row per input row, no columns."""
    plan = _plan(proto.project_rel(_nation_read(), []), [])
    df = from_substrait_plan(spark, plan)
    assert df.columns == []
    assert df.count() == spark.table("nation").count()


def test_sample_with_replacement_splices_a_dataframe(spark):
    """TABLESAMPLE has no with-replacement form: the sampled subtree is
    spliced in through spark.sql's DataFrame keyword form, and a string
    literal holding braces elsewhere in the statement survives the
    keyword formatting."""
    url = "type.googleapis.com/spark.substrait_spark.SampleRel"
    sample = {"extensionSingle": {
        "input": _nation_read((0, 1)),
        "detail": {"@type": url, "lowerBound": 0.0, "upperBound": 2.0,
                   "withReplacement": True, "seed": 5}}}
    proj = proto.project_rel(sample, [
        proto.field_ref(0), proto.literal("string", "{x} {{y}}")])
    plan = _plan(proj, ["k", "s"])
    assert "{__df0}" in to_sql(plan)
    got = from_substrait_plan(spark, plan)
    want = (spark.table("nation").select("n_nationkey")
            .sample(withReplacement=True, fraction=2.0, seed=5))
    assert sorted(r.k for r in got.collect()) == \
        sorted(r.n_nationkey for r in want.collect())
    assert {r.s for r in got.collect()} == {"{x} {{y}}"}


def test_read_without_base_schema_names(spark):
    """A ReadRel without baseSchema.names takes the live table's columns
    (the one schema probe this shape needs)."""
    read = _nation_read((2, 1))
    del read["read"]["baseSchema"]["names"]
    df = from_substrait_plan(spark, _plan(read, ["r", "n"]))
    assert rows_set(df) == rows_set(
        spark.table("nation").select("n_regionkey", "n_name"))
