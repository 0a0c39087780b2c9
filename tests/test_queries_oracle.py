"""Every registered query matches its DuckDB oracle exactly (the driver's
correctness gate, replicated locally at sf0.001 by default; set
MS_TEST_SF_DIR=/root/testdata/sf0.01 for the driver's scale)."""

from __future__ import annotations

import pytest

from mutable_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_harness import compare

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, duck):
    ok, msg = compare(name, spark, duck, SF_DIR)
    assert ok, msg


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"


def test_registry_contract():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20
    # the rows-only set is pinned: a query that loses its oracle fails
    # here instead of degrading to a row-count check in compare()
    assert set(q) - set(o) == {"op_approx_sketches"}
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_harness_flags_hugeint_family_mismatch():
    """The CORRECTNESS_r07 failure shape — DuckDB widening a windowed
    SUM(BIGINT) to HUGEINT while Spark returns BIGINT — must fail the
    local harness even though the Python-level values are equal; benign
    width/precision differences (int vs BIGINT, decimal(32,4) vs
    DECIMAL(38,4)) that the driver hashes equal must pass."""
    from tests.oracle_harness import _type_mismatches

    assert _type_mismatches([("off", "bigint")], ["off"], ["HUGEINT"])
    assert not _type_mismatches([("rnk", "int")], ["rnk"], ["BIGINT"])
    assert not _type_mismatches(
        [("revenue", "decimal(32,4)")], ["revenue"], ["DECIMAL(38,4)"]
    )
    assert _type_mismatches([("x", "double")], ["x"], ["DECIMAL(38,4)"])
    assert not _type_mismatches(
        [("v", "array<bigint>")], ["v"], ["BIGINT[]"]
    )


def test_harness_rejects_array_output_columns(spark, duck):
    """The r9 red-row shape: the DRIVER canonicalizes via pandas
    sort_values, which crashes on array-typed columns (unhashable list),
    while this harness used to normalize lists to tuples — i.e. the
    pre-flight was LAXER than the driver and reported 50/50 where the
    driver errored (sim_quantize_embeddings). compare() must now
    hard-fail any non-scalar output schema BEFORE collecting."""
    import pyspark.sql.functions as F

    name = "__test_array_out"
    registry.QUERIES[name] = lambda sp, sf: sp.range(3).select(
        "id", F.array(F.lit(1), F.lit(2)).alias("codes")
    )
    registry.ORACLES[name] = "SELECT 1"
    try:
        ok, msg = compare(name, spark, duck, SF_DIR)
    finally:
        del registry.QUERIES[name]
        del registry.ORACLES[name]
    assert not ok
    assert "non-scalar" in msg and "codes" in msg
